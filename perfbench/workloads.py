"""The three workloads: seeded inputs, the ops themselves, and their checks.

A workload *replica* owns one directory and one oracle model. Replicas
built from the same seed generate the same op sequence, so one replica can
be run untraced and another traced with identical work. Every op is
generated (inputs written, expectation computed) before it is timed, and
every generated op is executed, so the model always describes the table.

Each op kind cycles in a fixed order (``CYCLE``). The first
``WARMUP_OPS`` ops of the sequence are the warm-up, which compiles the
plan shape of every kind of op; timing starts after them. ``MAIN_KIND``
is the most frequent kind, whose latencies ``op_p50_s`` takes the median
of, so the median compares like with like.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import gzip
import io
import json
import os
import random
from dataclasses import dataclass, field

from perfbench import oracle
from perfbench.harness import dir_bytes

LAKE_SCHEMA = "id bigint, v int, s string, amt double"


@dataclass
class Op:
    index: int
    kind: str
    payload: object
    expect: object
    source_rows: int = 0  # rows a write consumes


@dataclass
class Outcome:
    rows: int  # source rows consumed plus rows returned
    problems: list = field(default_factory=list)
    stats: dict | None = None  # the CLI's statistics line, for CLI ops


def _release(spark) -> None:
    import dbimport_spark

    dbimport_spark.release_caches(spark)


class Replica:
    NAME = ""
    CYCLE: tuple = ()
    MAIN_KIND = ""
    WARMUP_OPS = 0
    MIN_OPS = 0

    def __init__(self, spark, root: str, seed: int, sizes: dict) -> None:
        self.spark = spark
        self.dir = root
        self.seed = seed
        self.sizes = sizes
        self.rng = random.Random(f"{seed}:{self.NAME}")
        self.n_generated = 0
        self.pending: list[Op] = []  # generated ahead of their turn
        self.broken = False  # an op raised: the model no longer describes the table

    def next_op(self) -> Op:
        if self.pending:
            return self.pending.pop(0)
        return self.generate()

    def generate(self) -> Op:
        kind = self.CYCLE[self.n_generated % len(self.CYCLE)]
        op = self._generate(self.n_generated, kind)
        self.n_generated += 1
        return op

    def final_problems(self) -> list:
        if self.broken:
            return []  # the failing op was already counted
        return self._final_problems()

    # subclass hooks ------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def _generate(self, index: int, kind: str) -> Op:
        raise NotImplementedError

    def execute(self, op: Op):
        raise NotImplementedError

    def verify(self, op: Op, result) -> Outcome:
        raise NotImplementedError

    def _final_problems(self) -> list:
        raise NotImplementedError

    def stored_per_live(self) -> float:
        raise NotImplementedError

    def counts(self) -> dict:
        raise NotImplementedError


# --------------------------------------------------------------- csv_import

_BAD_INT = ("12x", "n/a", "--7")
_BAD_DECIMAL = ("1.2.3", "abc", "9..5")
_BAD_DATE = ("2024-13-45", "31.31.2024", "soon")
_DAY0 = _dt.date(2024, 1, 1)


class CsvImport(Replica):
    """Each op is one in-process call of the CLI entry point. A new table
    is created (schema inference) every ``len(CYCLE)`` ops; the other ops
    UPSERT ``;``-CSV files with malformed values, in-file duplicate keys
    and keys already in the table. Every third file is gzip-compressed."""

    NAME = "csv_import"
    CYCLE = ("create", "upsert", "upsert", "upsert")
    MAIN_KIND = "upsert"
    WARMUP_OPS = 2
    MIN_OPS = 4
    SIZES = {
        "rows_per_file": 4000,
        "in_file_duplicate_frac": 0.10,
        "existing_key_frac": 0.5,
        "malformed_row_frac": 0.02,
        "gzip_every": 3,
    }

    def __init__(self, spark, root, seed, sizes) -> None:
        super().__init__(spark, root, seed, sizes)
        self.inputs = os.path.join(root, "in")
        self.warehouse = os.path.join(root, "wh")
        self.tables: dict[str, oracle.CsvImportModel] = {}
        self.table = None
        self.next_key = 0
        self.files_written = 0

    def prepare(self) -> None:
        os.makedirs(self.inputs, exist_ok=True)
        os.makedirs(self.warehouse, exist_ok=True)
        # the inputs of the warm-up and the minimum timed sequence
        for _ in range(self.WARMUP_OPS + self.MIN_OPS):
            self.pending.append(self.generate())

    def _value_fields(self, bad: bool) -> list[str]:
        r = self.rng
        f = [
            f"name_{r.randrange(10**6)}",
            str(r.randrange(10**6)),
            f"{r.randrange(10**5)}.{r.randrange(100):02d}",
            (_DAY0 + _dt.timedelta(days=r.randrange(366))).isoformat(),
        ]
        if bad:
            col = r.randrange(3)
            f[1 + col] = r.choice((_BAD_INT, _BAD_DECIMAL, _BAD_DATE)[col])
        return f

    def _generate(self, index: int, kind: str) -> Op:
        s, r = self.sizes, self.rng
        n = s["rows_per_file"]
        if kind == "create":
            self.table = f"t{len(self.tables)}"
            self.tables[self.table] = oracle.CsvImportModel()
        model = self.tables[self.table]
        n_distinct = round(n * (1 - s["in_file_duplicate_frac"]))
        n_old = 0 if kind == "create" else round(n_distinct * s["existing_key_frac"])
        keys = r.sample(sorted(model.rows), min(n_old, len(model.rows)))
        keys += range(self.next_key, self.next_key + n_distinct - len(keys))
        self.next_key += n_distinct
        keys += [r.choice(keys) for _ in range(n - len(keys))]
        r.shuffle(keys)
        bad_frac = 0.0 if kind == "create" else s["malformed_row_frac"]
        records = [[str(k)] + self._value_fields(r.random() < bad_frac) for k in keys]
        path = os.path.join(self.inputs, f"op{index:04d}.csv")
        if index % s["gzip_every"] == s["gzip_every"] - 1:
            path += ".gz"
        body = "id;name;qty;price;day\n" + "".join(";".join(x) + "\n" for x in records)
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "wt", encoding="utf-8") as fh:
            fh.write(body)
        self.files_written += 1
        expect = model.apply(records)
        expect["table"] = self.table
        expect["error_records"] = [records[i - 1] for i in expect.pop("invalid_idx")]
        return Op(index, kind, path, expect, source_rows=n)

    def execute(self, op: Op):
        import dbimport_spark.__main__ as cli

        argv = [
            self.warehouse, op.expect["table"], "-importfile", op.payload,
            "-import", "UPSERT", "-k", "id", "-duplicate", "UPDATE_ALL_JOIN",
        ]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = cli.main(argv)
        _release(self.spark)
        return rc, out.getvalue()

    def verify(self, op: Op, result) -> Outcome:
        rc, text = result
        exp = op.expect
        problems = []
        lines = text.strip().splitlines()
        stats = json.loads(lines[-1]) if lines else {}
        if rc != 0 or not stats.get("ok"):
            problems.append(f"rc={rc} output={text.strip()[-200:]!r}")
            return Outcome(op.source_rows, problems, stats)
        for k in ("created", "found", "valid", "invalid", "duplicate", "inserted", "updated"):
            if stats.get(k) != exp[k]:
                problems.append(f"{k}: got {stats.get(k)!r}, expected {exp[k]!r}")
        want_errors = exp["error_records"]
        err_path = stats.get("error_file")
        if not want_errors:
            if err_path is not None:
                problems.append(f"unexpected error file {err_path}")
        else:
            expected_path = f"{op.payload}.errors.csv" + (
                ".gz" if op.payload.endswith(".gz") else ""
            )
            if err_path != expected_path:
                problems.append(f"error file {err_path!r}, expected {expected_path!r}")
            else:
                opener = gzip.open if err_path.endswith(".gz") else open
                with opener(err_path, "rt", encoding="utf-8") as fh:
                    got = [line.split(";") for line in fh.read().splitlines()]
                if got != [list(oracle.CSV_COLUMNS)] + want_errors:
                    problems.append("error file rows differ from the invalid records")
        return Outcome(op.source_rows, problems, stats)

    def _final_problems(self) -> list:
        problems = []
        for name, model in self.tables.items():
            path = os.path.join(self.warehouse, name)
            rows = [tuple(r) for r in self.spark.read.parquet(path).collect()]
            if oracle.row_digest(rows) != model.digest():
                problems.append(f"table {name}: row digest differs from the model")
        return problems

    def stored_per_live(self) -> float:
        return dir_bytes(self.warehouse) / dir_bytes(self.warehouse, ".parquet")

    def counts(self) -> dict:
        return {
            "tables": len(self.tables),
            "files_generated": self.files_written,
            "rows_in_tables": sum(len(m.rows) for m in self.tables.values()),
        }


# ------------------------------------------------------------- lake tables

class _Lake(Replica):
    def __init__(self, spark, root, seed, sizes) -> None:
        super().__init__(spark, root, seed, sizes)
        self.path = os.path.join(root, "table")
        self.model = oracle.LakeModel()
        self.next_key = 0
        self.rows_generated = 0
        self.last_scan = None  # DataFrame of the latest key lookup

    def _rows(self, keys) -> list[tuple]:
        r = self.rng
        self.rows_generated += len(keys)
        return [
            (k, r.randrange(1000), f"s{r.randrange(10**6)}", r.randrange(10**6) / 100)
            for k in keys
        ]

    def _fresh_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def frame(self, rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["id", "v", "s", "amt"])
        return self.spark.createDataFrame(pdf, LAKE_SCHEMA)

    def _final_problems(self) -> list:
        from dbimport_spark import txnlog

        rows = [tuple(r) for r in txnlog.read_snapshot(self.spark, self.path).collect()]
        if oracle.row_digest(rows) != self.model.digest():
            return ["final snapshot row digest differs from the model"]
        return []

    def live_files(self) -> list[str]:
        from dbimport_spark import txnlog

        return txnlog.snapshot_files(self.path)

    def stored_per_live(self) -> float:
        live = sum(os.path.getsize(f) for f in self.live_files())
        return dir_bytes(self.path) / live

    def counts(self) -> dict:
        return {
            "rows_live": len(self.model.rows),
            "versions": self.model.version + 1,
            "rows_generated": self.rows_generated,
        }

    def _check_version(self, op: Op, got) -> Outcome:
        if got != op.expect:
            return Outcome(op.source_rows, [f"{op.kind}: version {got}, expected {op.expect}"])
        return Outcome(op.source_rows)


class LakeUpsert(_Lake):
    """Small batches against one keyed ``cdf.enabled`` table: upserts of
    ~1% of the keys (half of them new), appends of new keys and
    deletion-vector deletes of existing keys."""

    NAME = "lake_upsert"
    CYCLE = ("upsert", "upsert", "append", "upsert", "delete", "upsert")
    MAIN_KIND = "upsert"
    WARMUP_OPS = 6
    MIN_OPS = 12
    # 4 seed appends, the property commit and the warm-up put the table at
    # version 10, so the timed ops write the checkpoint of version 20
    # (txnlog.CHECKPOINT_INTERVAL)
    SIZES = {"seed_rows": 100000, "seed_commits": 4, "batch_rows": 1000}

    def prepare(self) -> None:
        from dbimport_spark import txnlog

        s = self.sizes
        per = s["seed_rows"] // s["seed_commits"]
        for _ in range(s["seed_commits"]):
            rows = self._rows(self._fresh_keys(per))
            txnlog.txn_append(self.spark, self.frame(rows), self.path)
            self.model.commit(upserts=rows)
        txnlog.txn_set_property(self.path, "cdf.enabled", "true")
        self.model.commit()
        _release(self.spark)

    def _generate(self, index: int, kind: str) -> Op:
        b, r = self.sizes["batch_rows"], self.rng
        live = sorted(self.model.rows)
        if kind == "upsert":
            rows = self._rows(r.sample(live, b // 2) + self._fresh_keys(b - b // 2))
            return Op(index, kind, rows, self.model.commit(upserts=rows), len(rows))
        if kind == "append":
            rows = self._rows(self._fresh_keys(b))
            return Op(index, kind, rows, self.model.commit(upserts=rows), len(rows))
        keys = r.sample(live, b // 2)
        return Op(index, kind, keys, self.model.commit(deletes=keys), len(keys))

    def execute(self, op: Op):
        from pyspark.sql import functions as F

        from dbimport_spark import txnlog

        if op.kind == "upsert":
            v = txnlog.txn_upsert(self.spark, self.frame(op.payload), self.path, ["id"])
        elif op.kind == "append":
            v = txnlog.txn_append(self.spark, self.frame(op.payload), self.path)
        else:
            v = txnlog.txn_delete_dv(self.spark, F.col("id").isin(op.payload), self.path)
        _release(self.spark)
        return v

    def verify(self, op: Op, result) -> Outcome:
        return self._check_version(op, result)


class LakeReadMix(_Lake):
    """Reads of a table built from many zone-mapped appends: key lookups
    through the zone maps, time-travel range reads of older versions,
    change-feed ranges, and a small zone-mapped append every few reads."""

    NAME = "lake_read_mix"
    CYCLE = ("lookup", "travel", "lookup", "changes", "lookup", "travel", "lookup", "append")
    MAIN_KIND = "lookup"
    WARMUP_OPS = 8
    MIN_OPS = 16
    SIZES = {"seed_commits": 21, "rows_per_commit": 500, "append_rows": 250,
             "travel_span": 100, "changes_span": 2}

    def _append(self, rows):
        from dbimport_spark import txnlog

        return txnlog.txn_append_stats(
            self.spark, self.frame(rows).coalesce(1), self.path, ["id"]
        )

    def prepare(self) -> None:
        s = self.sizes
        for _ in range(s["seed_commits"]):
            rows = self._rows(self._fresh_keys(s["rows_per_commit"]))
            self._append(rows)
            self.model.commit(upserts=rows)
        _release(self.spark)

    def _generate(self, index: int, kind: str) -> Op:
        s, r, m = self.sizes, self.rng, self.model
        if kind == "append":
            rows = self._rows(self._fresh_keys(s["append_rows"]))
            return Op(index, kind, rows, m.commit(upserts=rows), len(rows))
        if kind == "lookup":
            key = r.randrange(self.next_key)
            return Op(index, kind, key, m.lookup(key))
        if kind == "travel":
            v = r.randrange(m.version)
            lo = r.choice(sorted(m.history[v]))
            hi = lo + s["travel_span"] - 1
            return Op(index, kind, (v, lo, hi), m.range_rows(lo, hi, v))
        v0 = r.randrange(m.version - s["changes_span"] + 1)
        v1 = v0 + s["changes_span"]
        return Op(index, kind, (v0, v1), m.changes(v0, v1))

    def execute(self, op: Op):
        from pyspark.sql import functions as F

        from dbimport_spark import txnlog

        spark, path = self.spark, self.path
        if op.kind == "append":
            out = self._append(op.payload)
        elif op.kind == "lookup":
            key = op.payload
            df = self.last_scan = txnlog.read_snapshot_skipping(spark, path, "id", key, key)
            out = df.filter(F.col("id") == key).collect()
        elif op.kind == "travel":
            v, lo, hi = op.payload
            df = txnlog.read_snapshot(spark, path, version=v)
            out = df.filter(F.col("id").between(lo, hi)).collect()
        else:
            v0, v1 = op.payload
            out = txnlog.read_changes(spark, path, ["id"], v0, v1).collect()
        _release(spark)
        return out

    def verify(self, op: Op, result) -> Outcome:
        if op.kind == "append":
            return self._check_version(op, result)
        if op.kind == "changes":
            got = sorted((r["_change_type"], (r["id"], r["v"], r["s"], r["amt"])) for r in result)
            want = sorted(op.expect)
        else:
            got = sorted(tuple(r) for r in result)
            want = sorted(op.expect)
        if got != want:
            return Outcome(len(result), [f"{op.kind} {op.payload}: {len(got)} rows differ from the {len(want)} expected"])
        return Outcome(len(result))


WORKLOADS = {w.NAME: w for w in (CsvImport, LakeUpsert, LakeReadMix)}
