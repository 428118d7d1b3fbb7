"""Property-based protocol exercise of the transaction log: hypothesis
drives RANDOM interleavings of append / DV-delete / copy-on-write delete
/ compact / restore / vacuum against a trivial in-memory model (the set
of visible leaves), at the log level (fake JSON data files, no Spark), so
hundreds of sequences run in seconds. Invariants checked after EVERY
step:

* the snapshot's visible leaf set equals the model,
* every version at or above the vacuum horizon still fully resolves
  (files AND dv sidecars present),
* after every vacuum the data dir holds exactly the files and DV
  sidecars some version at or above the horizon references,
* versions are contiguous and current_version never regresses.

This is the class of test that catches fold-order bugs (dv-after-add in
one entry, restore re-attach), vacuum over-reaping or leaking, and
restore drift — states no example-based test enumerates."""

import json
import os

import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
)

from dbimport_spark import txnlog

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1


def _visible(table: str, version=None) -> set:
    v = txnlog.current_version(table) if version is None else version
    live = txnlog.Snapshot.at(table, v).live
    out: set = set()
    for n, d in live.items():
        with open(os.path.join(table, "data", n)) as fh:
            leaves = set(json.load(fh))
        dv = d.get("dv")
        if dv:
            with open(os.path.join(table, "data", dv["d"])) as fh:
                leaves -= set(json.load(fh))
        out |= leaves
    return out


class LogProtocol(RuleBasedStateMachine):
    @initialize()
    def setup(self):
        import tempfile

        self.table = tempfile.mkdtemp(prefix="txnlog_hyp_")
        os.makedirs(os.path.join(self.table, "_txn_log"))
        os.makedirs(os.path.join(self.table, "data"))
        self.model: set = set()
        self.history: dict[int, set] = {}  # version -> expected visible set
        self.counter = 0

    def _commit(self, added_names, removed, dv=None):
        v = txnlog.commit(
            self.table, added_names, removed, txnlog.current_version(self.table),
            dv=dv,
        )
        self.history[v] = set(self.model)
        return v

    def _write_file(self, leaves) -> str:
        self.counter += 1
        name = f"f{self.counter}.json"
        with open(os.path.join(self.table, "data", name), "w") as fh:
            json.dump(sorted(leaves), fh)
        return name

    @rule(n=st.integers(min_value=1, max_value=5))
    def append(self, n):
        leaves = {f"l{self.counter}_{i}" for i in range(n)}
        self.counter += 1
        name = self._write_file(leaves)
        self.model |= leaves
        self._commit([name], [])

    @rule(data=st.data())
    def dv_delete(self, data):
        live = txnlog.Snapshot.at(
            self.table, txnlog.current_version(self.table)
        ).live
        if not live:
            return
        name = data.draw(st.sampled_from(sorted(live)))
        with open(os.path.join(self.table, "data", name)) as fh:
            leaves = sorted(json.load(fh))
        if not leaves:
            return
        victims = set(data.draw(st.lists(st.sampled_from(leaves), max_size=3)))
        if not victims:
            return
        old = live[name].get("dv")
        dead = set(victims)
        if old:
            with open(os.path.join(self.table, "data", old["d"])) as fh:
                dead |= set(json.load(fh))
        self.counter += 1
        gen = f"{name}.dv.g{self.counter}"
        with open(os.path.join(self.table, "data", gen), "w") as fh:
            json.dump(sorted(dead), fh)
        self.model -= victims
        self._commit([], [], dv=[{"n": name, "d": gen, "k": len(dead)}])

    @rule()
    def compact(self):
        cur = txnlog.current_version(self.table)
        if cur < 0:
            return
        live = txnlog.Snapshot.at(self.table, cur).live
        if not live:
            return
        merged = self._write_file(_visible(self.table))
        self._commit([merged], sorted(live))

    @rule(data=st.data())
    def cow_delete_one_file(self, data):
        """Rewrite ONE live file without a random subset of its visible
        leaves — the txn_delete_cow shape (candidates = that file)."""
        live = txnlog.Snapshot.at(
            self.table, txnlog.current_version(self.table)
        ).live
        if not live:
            return
        name = data.draw(st.sampled_from(sorted(live)))
        with open(os.path.join(self.table, "data", name)) as fh:
            leaves = set(json.load(fh))
        dv = live[name].get("dv")
        if dv:
            with open(os.path.join(self.table, "data", dv["d"])) as fh:
                leaves -= set(json.load(fh))
        victims = set(
            data.draw(st.lists(st.sampled_from(sorted(leaves)), max_size=3))
        ) if leaves else set()
        kept = leaves - victims
        new = self._write_file(kept)
        self.model -= victims
        self._commit([new], [name])

    @rule(data=st.data())
    def restore(self, data):
        cur = txnlog.current_version(self.table)
        h = txnlog.vacuum_horizon(self.table)
        if cur < 0 or h > cur:
            return
        target = data.draw(st.integers(min_value=h, max_value=cur))
        v = txnlog.txn_restore(self.table, target)
        self.model = set(self.history.get(target, set()))
        # txn_restore may no-op (already at that state): only record a
        # NEW version if one was committed
        if v > cur:
            self.history[v] = set(self.model)

    def _assert_vacuum_exact(self):
        """After a vacuum the data dir holds exactly the files live at
        some version in [horizon, cur] and their DV sidecars: nothing
        kept is gone (over-reaping) and nothing dead is left (a leak —
        a name the retained log stopped naming before its file was
        deleted)."""
        cur = txnlog.current_version(self.table)
        kept: set = set()
        for v in range(txnlog.vacuum_horizon(self.table), cur + 1):
            for n, d in txnlog.Snapshot.at(self.table, v).live.items():
                kept.add(n)
                if d.get("dv"):
                    kept.add(d["dv"]["d"])
        assert set(os.listdir(os.path.join(self.table, "data"))) == kept

    @rule(retain=st.integers(min_value=1, max_value=3))
    def vacuum(self, retain):
        txnlog.vacuum(self.table, retain_versions=retain)
        self._assert_vacuum_exact()

    @rule()
    def cleanup_log(self):
        """Log retention: entries below the horizon-anchored checkpoint
        are deleted; every kept-version invariant below must keep
        holding afterwards (resolution, props, visible set), and later
        vacuums stay exact from the retained log alone."""
        if txnlog.current_version(self.table) >= 0:
            txnlog.txn_cleanup_log(self.table)

    @rule(retain=st.integers(min_value=1, max_value=3))
    def checkpoint_vacuum_cleanup(self, retain):
        """Checkpoint, vacuum and clean up in one step, so that most
        sequences truncate the log and the vacuums after it run on a
        truncated log — the case where vacuum's candidates come from the
        oldest retained checkpoint."""
        if txnlog.current_version(self.table) < 0:
            return
        txnlog.write_checkpoint(self.table)
        txnlog.vacuum(self.table, retain_versions=retain)
        self._assert_vacuum_exact()
        txnlog.txn_cleanup_log(self.table)

    @rule()
    def checkpoint(self):
        """Pure read-path op: every later fold resolves THROUGH the
        checkpoint — any field the checkpoint forgets to carry (dv,
        props, ptype) breaks the visible-set/props invariants."""
        if txnlog.current_version(self.table) >= 0:
            txnlog.write_checkpoint(self.table)

    @rule(k=st.sampled_from(["owner", "ttl", "note"]),
          v=st.one_of(st.none(), st.sampled_from(["a", "b", "c"])))
    def set_property(self, k, v):
        if not hasattr(self, "props_model"):
            self.props_model = {}
        txnlog.txn_set_property(self.table, k, v)
        if v is None:
            self.props_model.pop(k, None)
        else:
            self.props_model[k] = v
        v_new = txnlog.current_version(self.table)
        self.history[v_new] = set(self.model)

    @invariant()
    def props_match_model(self):
        if not hasattr(self, "table"):
            return
        got = {
            k: v
            for k, v in txnlog.table_props(self.table).items()
            if not k.startswith("check.")
        }
        assert got == getattr(self, "props_model", {})

    @invariant()
    def visible_matches_model(self):
        if not hasattr(self, "table"):
            return
        if txnlog.current_version(self.table) < 0:
            assert self.model == set()
            return
        assert _visible(self.table) == self.model

    @invariant()
    def kept_versions_resolve(self):
        if not hasattr(self, "table"):
            return
        cur = txnlog.current_version(self.table)
        for v in range(txnlog.vacuum_horizon(self.table), cur + 1):
            got = _visible(self.table, v)  # raises if a file/sidecar is gone
            if v in self.history:
                assert got == self.history[v], f"version {v} drifted"

    @invariant()
    def versions_contiguous(self):
        if not hasattr(self, "table"):
            return
        cur = txnlog.current_version(self.table)
        # contiguous over the RETAINED range (txn_cleanup_log truncates
        # the tail below the horizon-anchored checkpoint)
        floor = txnlog.log_floor(self.table)
        assert floor <= max(
            txnlog.vacuum_horizon(self.table), 0
        ) or cur < 0, "cleanup truncated above the horizon"
        for v in range(floor, cur + 1):
            assert os.path.exists(
                os.path.join(self.table, "_txn_log", f"{v:08d}.json")
            )

    def teardown(self):
        import shutil

        if hasattr(self, "table"):
            shutil.rmtree(self.table, ignore_errors=True)


TestLogProtocol = LogProtocol.TestCase
TestLogProtocol.settings = settings(
    max_examples=150, stateful_step_count=40, deadline=None
)


# ----------------------------------------------------- row-id protocol


class RowIdProtocol(RuleBasedStateMachine):
    """Row-tracking invariants under random append / compact / restore /
    vacuum interleavings, at the log level with REAL (tiny) parquet files
    so commit()'s footer-based base assignment runs for real:

    * every live file carries a base; bases+counts tile DISJOINT ranges,
    * rowids.next is strictly monotone and above every allocated range,
    * ids never repeat across the table's whole history (retired ranges
      are never reused),
    * restore resurrects a file WITH its original base.
    """

    @initialize()
    def setup(self):
        import tempfile

        self.table = tempfile.mkdtemp(prefix="txnlog_rid_")
        os.makedirs(os.path.join(self.table, "_txn_log"))
        os.makedirs(os.path.join(self.table, "data"))
        txnlog.txn_set_property(self.table, "rowids.next", "0")
        self.counter = 0
        self.ever_bases: dict[str, int] = {}  # file -> base, for restore check

    def _write_parquet(self, n_rows) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.counter += 1
        name = f"f{self.counter}.parquet"
        pq.write_table(
            pa.table({"k": list(range(n_rows))}),
            os.path.join(self.table, "data", name),
        )
        return name

    def _live(self):
        live = txnlog.Snapshot.at(self.table, txnlog.current_version(self.table)).live
        return live

    @rule(n=st.integers(min_value=1, max_value=5))
    def append(self, n):
        name = self._write_parquet(n)
        txnlog.commit(
            self.table, [name], [], txnlog.current_version(self.table),
            op="APPEND",
        )

    @rule()
    def compact(self):
        live = self._live()
        if len(live) < 2:
            return
        import pyarrow.parquet as pq

        total = sum(
            pq.read_metadata(os.path.join(self.table, "data", n)).num_rows
            for n in live
        )
        merged = self._write_parquet(total)
        txnlog.commit(
            self.table, [merged], sorted(live),
            txnlog.current_version(self.table), op="OPTIMIZE",
        )

    @rule(data=st.data())
    def restore(self, data):
        cur = txnlog.current_version(self.table)
        h = txnlog.vacuum_horizon(self.table)
        if cur < 0 or h > cur:
            return
        txnlog.txn_restore(self.table, data.draw(st.integers(h, cur)))

    @rule(retain=st.integers(min_value=1, max_value=3))
    def vacuum(self, retain):
        txnlog.vacuum(self.table, retain_versions=retain)

    @rule()
    def checkpoint(self):
        if txnlog.current_version(self.table) >= 0:
            txnlog.write_checkpoint(self.table)

    @invariant()
    def ranges_disjoint_and_under_next(self):
        if not hasattr(self, "table"):
            return
        import pyarrow.parquet as pq

        live = self._live()
        nxt = int(txnlog.table_props(self.table)["rowids.next"])
        spans = []
        for n, d in live.items():
            base = d.get("rid")
            assert base is not None, f"live file {n} has no base"
            rows = pq.read_metadata(
                os.path.join(self.table, "data", n)
            ).num_rows
            assert base + rows <= nxt
            spans.append((base, base + rows))
            prev = self.ever_bases.get(n)
            assert prev is None or prev == base, "a file's base changed"
            self.ever_bases[n] = base
        spans.sort()
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 <= b0, f"overlapping id ranges {spans}"

    def teardown(self):
        import shutil

        if hasattr(self, "table"):
            shutil.rmtree(self.table, ignore_errors=True)


TestRowIdProtocol = RowIdProtocol.TestCase
TestRowIdProtocol.settings = settings(
    max_examples=60, stateful_step_count=30, deadline=None
)


# -------------------------------------- the same machines, object-store


class _ObjStoreSwap:
    """Mixin running the inherited protocol machine through the
    object-store commit adapter (conditional PUT, no hard links) —
    every rule, invariant and example UNCHANGED; only the claim
    mechanics differ."""

    @initialize()
    def swap_backend(self):
        self._prev_backend = txnlog.set_commit_backend(
            txnlog.ObjectStoreCommitBackend(txnlog.LocalObjectStoreEmulator())
        )

    def teardown(self):
        txnlog.set_commit_backend(
            getattr(self, "_prev_backend", None)
        )
        super().teardown()


class LogProtocolObjStore(_ObjStoreSwap, LogProtocol):
    pass


class RowIdProtocolObjStore(_ObjStoreSwap, RowIdProtocol):
    pass


TestLogProtocolObjStore = LogProtocolObjStore.TestCase
TestLogProtocolObjStore.settings = settings(
    max_examples=60, stateful_step_count=30, deadline=None
)

TestRowIdProtocolObjStore = RowIdProtocolObjStore.TestCase
TestRowIdProtocolObjStore.settings = settings(
    max_examples=30, stateful_step_count=20, deadline=None
)
