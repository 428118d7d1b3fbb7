"""Round-9 property machine over TYPE WIDENING — the round's largest new
semantic surface, driven the same way the txnlog protocol machines are:
random interleavings of narrow/wide appends, declared widens, DV
deletes, compactions and checkpoints against a pure-Python model (dict
of k → v ints plus the widest type seen per era). Invariants after
every step: the snapshot's (k, v) content equals the model EXACTLY
(ints are width-independent), the read dtype is at least as wide as the
widest appended era, and fsck stays green.
"""

import json
import os

import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)

from dbimport_spark import txnlog

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1

_WIDTH_ORDER = ["int", "bigint"]

_spark = None  # injected by the TestCase fixture shim below


class WidenProtocol(RuleBasedStateMachine):
    @initialize()
    def setup(self):
        import tempfile

        self.table = tempfile.mkdtemp(prefix="widen_hyp_")
        os.makedirs(os.path.join(self.table, "_txn_log"))
        os.makedirs(os.path.join(self.table, "data"))
        self.model: dict[int, int] = {}
        self.widest = None  # widest era ever appended or declared
        self.counter = 0

    def _wider(self, a, b):
        if a is None:
            return b
        return max(a, b, key=_WIDTH_ORDER.index)

    @rule(n=st.integers(min_value=1, max_value=4), wide=st.booleans())
    def append(self, n, wide):
        t = "bigint" if wide else "int"
        base = self.counter
        self.counter += n
        shift = 10_000_000_000 if wide else 0
        rows = {base + i: (base + i) * 3 + shift for i in range(n)}
        df = _spark.createDataFrame(
            [(k, v) for k, v in rows.items()], f"k long, v {t}"
        )
        txnlog.txn_append(_spark, df, self.table)
        self.model.update(rows)
        self.widest = self._wider(self.widest, t)

    @precondition(lambda self: getattr(self, "model", None))
    @rule()
    def declare_widen(self):
        txnlog.txn_widen_column(_spark, self.table, "v", "bigint")
        self.widest = self._wider(self.widest, "bigint")

    @precondition(lambda self: getattr(self, "model", None))
    @rule(m=st.integers(min_value=2, max_value=5))
    def dv_delete(self, m):
        from pyspark.sql import functions as F

        doomed = {k for k in self.model if k % m == 0}
        if not doomed:
            return
        txnlog.txn_delete_dv(_spark, F.col("k") % m == 0, self.table)
        for k in doomed:
            del self.model[k]

    @precondition(lambda self: getattr(self, "model", None))
    @rule()
    def compact(self):
        txnlog.txn_compact(_spark, self.table, min_files=2)

    @precondition(lambda self: getattr(self, "model", None) is not None)
    @rule()
    def checkpoint(self):
        if txnlog.current_version(self.table) >= 0:
            txnlog.write_checkpoint(self.table)

    @invariant()
    def snapshot_matches_model(self):
        if not hasattr(self, "table") or txnlog.current_version(self.table) < 0:
            return
        if not self.model:
            return
        snap = txnlog.read_snapshot(_spark, self.table)
        got = {r.k: r.v for r in snap.collect()}
        assert got == self.model
        dt = dict(snap.dtypes)["v"]
        assert _WIDTH_ORDER.index(dt) >= _WIDTH_ORDER.index(self.widest)
        assert txnlog.txn_fsck(self.table)["ok"]

    def teardown(self):
        import shutil

        if hasattr(self, "table"):
            shutil.rmtree(self.table, ignore_errors=True)


def test_widen_protocol(spark):
    global _spark
    _spark = spark
    from hypothesis.stateful import run_state_machine_as_test

    run_state_machine_as_test(
        WidenProtocol,
        settings=settings(max_examples=15, stateful_step_count=8, deadline=None),
    )
