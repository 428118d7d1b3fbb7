"""Streaming CDC source over the transaction-log lake (format "lake_cdc").

Registers the ACID lake (dbimport_spark/txnlog.py) as a REAL Structured
Streaming source via Spark 4's Python DataSource API: each micro-batch
covers the commit versions between two offsets, fanning out ONE task per
file ADDED in those commits, and every row carries its `_commit_version`
— the streaming spelling of Delta's table-as-a-stream. Offsets are
`{"version": N}` (all versions ≤ N consumed), so a restart from a
checkpoint resumes exactly after the last committed version with no
rescan of old data — the log IS the write-ahead index.

Scope (documented, loud): in the default mode this is append-only CDC.
A commit that REMOVES files (whole-snapshot rewrites) or attaches
deletion vectors (DV deletes, merge-on-read upserts) is not append
data; reading past one raises unless `ignoreChanges=true` (its added
files still stream) or `skipChangeCommits=true` (the commit is
dropped) — the same contract arms Delta's streaming source exposes. With `readChangeFeed=true` the
source instead emits ROW-LEVEL change data (`_change_type` column):
appends stream as `insert` rows, deletion-vector commits re-read the
newly-deleted positions as `delete` rows, OPTIMIZE commits are skipped
(content-invariant), and CoW rewrite commits emit the keyless multiset
diff (an update surfaces as a delete+insert pair — this source has no
merge keys; key-aware update_pre/postimage classification stays with
the batch-side `read_changes`). On `cdf.enabled=true` tables every
row-changing rewrite writes `_change_data/v<N>` files — upserts and
merges, whole and pruned copy-on-write deletes and merges alike — and
a commit that has them is read from those WRITER-materialized files —
one task per file, fully distributed, and a no-op update cancels there
— with the per-file and on-read diffs as the silent fallback when they
are absent.
Partitioned tables stream when the `partitionColumn` option
names the log-resident partition column (the value is re-attached from
the log, typed per the recorded DDL).
Column-mapped tables (txn_rename_column / txn_drop_column) stream under
their LOGICAL schema as of stream start — files carry stable physical
names and the conform step translates; a rename landing mid-stream is
picked up at the next restart, like Delta.

Planning is metadata-only: the driver reads log JSONs, never data pages;
executors read exactly the parquet files their partition names. At
100 TB a steady append stream costs one log entry read per commit plus
one task per new file.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from dbimport_spark.txnlog import (
    Snapshot,
    _apply_entry,
    _data_dir,
    _log,
    _read_entry_body,
    current_version,
    log_floor,
)

def _table_ddl(
    path: str, partition_col: str | None = None, change_feed: bool = False
) -> str:
    """The stream's schema: the table's logical columns at the latest
    version, typed as the log records them (Snapshot.dtypes — column
    mapping applied, widenings included, no data file opened), then the
    log-resident partition column when named, ``_commit_version`` and,
    for a change feed, ``_change_type``.

    Like Delta, the schema is fixed at stream start: a rename or widen
    landing MID-STREAM is picked up when the stream restarts (the
    physical names in the files are stable either way)."""
    v = current_version(path)
    if v < 0:
        raise ValueError(f"lake_cdc: empty table at {path}")
    snap = Snapshot.at(path, v)
    if not snap.live:
        raise ValueError(f"lake_cdc: no added files in any commit at {path}")
    table_pcol = snap.props.get("partition.column")
    cols = [f"{n} {t}" for n, t in snap.dtypes.items() if n != table_pcol]
    if partition_col:
        ptype = snap.ptype
        if ptype is None:
            raise ValueError(
                "lake_cdc: partitionColumn given but the log records no "
                "partition type (table was not written partitioned)"
            )
        cols.append(f"{partition_col} {ptype}")
    ddl = ", ".join(cols) + ", _commit_version bigint"
    if change_feed:
        ddl += ", _change_type string"
    return ddl


class _AddedFile(InputPartition):
    def __init__(self, file_path: str, version: int, pval=None, ptype=None):
        self.file_path = file_path
        self.version = version
        self.pval = pval    # hive-encoded partition value (or None)
        self.ptype = ptype  # partition column DDL type (or None)


class _DvDelta(InputPartition):
    """Change-feed partition for ONE file whose deletion vector changed:
    positions in (new − old) stream as `delete` rows, positions in
    (old − new) — a RESTORE detaching/rolling back a DV — as `insert`
    rows. One task per touched file; only that file's pages are read."""

    def __init__(self, file_path, version, old_sc, new_sc, pval=None, ptype=None):
        self.file_path = file_path
        self.version = version
        self.old_sc = old_sc  # previous sidecar path (or None)
        self.new_sc = new_sc  # new sidecar path (or None = DETACH)
        self.pval = pval
        self.ptype = ptype


class _CdfFile(InputPartition):
    """Change-feed partition for ONE writer-materialized change file
    (txnlog._write_change_data, cdf.enabled=true): rows already carry
    their ``_change_type`` — the reader just conforms the data columns.
    One task per change file: the DISTRIBUTED path for rewrite commits;
    _CowDiff is the on-read fallback when no change files exist."""

    def __init__(self, file_path: str, version: int):
        self.file_path = file_path
        self.version = version


class _CowDiff(InputPartition):
    """Change-feed partition for ONE rewrite commit (CoW DELETE / UPSERT /
    MERGE / RESTORE): the keyless multiset diff of removed-files rows vs
    added-files rows — (removed − added) are `delete` rows, (added −
    removed) are `insert` rows; unchanged rows cancel. Updates therefore
    surface as delete+insert pairs (this source has no merge keys). One
    task reads both sides: O(rewritten bytes), which for the PRUNED CoW
    forms is the touched band, not the table; key-aware classification
    belongs to the batch-side read_changes."""

    def __init__(self, removed, added, version):
        self.removed = removed  # [(path, pval)] of removed data files
        self.added = added      # [(path, pval)] of added data files
        self.version = version
        self.ptype = None


def _partition_arrow_type(ptype):
    import pyarrow as pa

    arrow_t = {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "string": pa.string(),
        "date": pa.date32(),
        "boolean": pa.bool_(),
    }.get(ptype or "string")
    if arrow_t is None:
        raise ValueError(f"lake_cdc: unsupported partition type {ptype}")
    return arrow_t


def _decode_pval(pval, ptype):
    """Python scalar for a hive-encoded log partition value (None for the
    NULL sentinel), typed per the recorded DDL type."""
    from dbimport_spark.txnlog import _HIVE_NULL, _unescape_path_name

    if pval is None or pval == _HIVE_NULL:
        return None
    raw = _unescape_path_name(pval)
    if ptype in ("bigint", "int"):
        return int(raw)
    if ptype == "boolean":
        return raw.lower() == "true"
    if ptype == "date":
        import datetime as _dt

        return _dt.date.fromisoformat(raw)
    return raw


def _partition_array(pval, ptype, n_rows):
    """Arrow column re-attaching a log-resident partition value, decoded
    from its hive directory encoding and cast per the recorded DDL type
    (the same round-trip read_snapshot_partitioned performs)."""
    import pyarrow as pa

    arrow_t = _partition_arrow_type(ptype)
    v = _decode_pval(pval, ptype)
    if v is None:
        return pa.nulls(n_rows, arrow_t)
    return pa.array([v] * n_rows, arrow_t)


def _change_files(path: str, version: int) -> list[str] | None:
    """The writer-materialized change files of ``version`` (sorted; the
    list is empty when the commit changed no row), or None when the
    commit has none (cdf.enabled off, an append or DV-only delete, or a
    change-data write that failed after the commit)."""
    import glob

    d = os.path.join(path, "_change_data", f"v{version:08d}")
    if not os.path.isdir(d):
        return None
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


class LakeCdcStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, options, schema=None):
        # arrow schema of the DATA columns (everything but the appended
        # partition + _commit_version columns): older commits' files may
        # predate later columns or widenings, so each file is conformed
        # to this schema with null-fill and upcasts — the streaming
        # spelling of the batch reader's log-carried schema
        self._data_fields = None
        if schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            skip = {
                "_commit_version",
                "_change_type",
                options.get("partitionColumn"),
            }
            arrow = to_arrow_schema(schema)
            self._data_fields = [f for f in arrow if f.name not in skip]
        # column mapping: stream fields are LOGICAL, file columns are
        # PHYSICAL — capture the logical→physical lookup AS OF stream
        # start for the executor-side conform step
        from dbimport_spark.txnlog import _colmap, table_props

        mp, _dropped = _colmap(
            table_props(path) if current_version(path) >= 0 else {}
        )
        self._log2phys = mp
        self._init_rest(path, options)

    def _init_rest(self, path: str, options):
        self._path = path
        self._change_feed = (
            str(options.get("readChangeFeed", "false")).lower() == "true"
        )
        self._ignore_changes = (
            str(options.get("ignoreChanges", "false")).lower() == "true"
        )
        # skipChangeCommits: drop remove-carrying commits entirely (their
        # added files are NOT emitted) — the third arm of Delta's contract
        self._skip_changes = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self._partition_col = options.get("partitionColumn")
        self._ptype = None
        if self._partition_col:
            self._ptype = Snapshot.at(path).ptype
        self._start = int(options.get("startingVersion", 0))
        # maxVersionsPerTrigger: admission control — cap how many commits
        # one micro-batch swallows (Delta's maxFilesPerTrigger at this
        # source's natural granularity: offsets ARE versions, and a
        # version is never split across batches). Best-effort after a
        # restart: the first batch is unbounded because latestOffset()
        # cannot see the checkpointed start (the engine owns it); every
        # subsequent batch is capped. A throughput knob, never a
        # correctness one.
        mv = int(options.get("maxVersionsPerTrigger", 0))
        self._max_versions = mv if mv > 0 else None
        self._cursor: int | None = None  # last version handed to partitions()

    def initialOffset(self) -> dict:
        _log.debug("lake_cdc %s: initialOffset cursor=%s", self._path, self._cursor)
        self._cursor = self._start - 1
        return {"version": self._start - 1}

    def latestOffset(self) -> dict:
        cur = current_version(self._path)
        _log.debug(
            "lake_cdc %s: latestOffset cur=%d cursor=%s max=%s",
            self._path, cur, self._cursor, self._max_versions,
        )
        if self._max_versions is None:
            return {"version": cur}
        if self._cursor is None:
            # the engine calls latestOffset BEFORE initialOffset (traced);
            # bootstrap pacing from startingVersion. After a checkpoint
            # restart the replayed/committed batch re-seeds the cursor via
            # partitions()/commit() before new planning matters.
            self._cursor = self._start - 1
        return {"version": min(cur, self._cursor + self._max_versions)}

    def commit(self, end: dict) -> None:
        # ratchet: a completed batch can only move pacing forward (also
        # re-seeds the cursor after a restart where partitions() was not
        # replayed)
        self._cursor = max(self._cursor if self._cursor is not None else -1,
                           int(end["version"]))

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        _log.debug("lake_cdc %s: partitions (%d, %d]", self._path, s, e)
        self._cursor = max(self._cursor if self._cursor is not None else -1, e)
        floor = log_floor(self._path)
        if s + 1 < floor:
            # a stream resuming from a checkpoint older than the log's
            # retained tail (txn_cleanup_log ran underneath it) must fail
            # LOUDLY with the remedy, not with a bare missing-file error
            raise ValueError(
                f"lake_cdc: version {s + 1} of {self._path} was truncated by "
                f"log cleanup (retained floor is {floor}) — restart the "
                "stream from a fresh checkpoint with startingVersion >= "
                f"{floor}"
            )
        if self._change_feed:
            return self._partitions_cdf(s, e, floor)
        parts: list[_AddedFile] = []
        for v in range(s + 1, e + 1):
            entry = _read_entry_body(self._path, v)
            # A deletion-vector commit changes VISIBLE rows of already-
            # streamed files without adding any — it is change data, same
            # contract arm as a remove-carrying rewrite. (Under
            # ignoreChanges its added files — there are none — stream,
            # matching Delta: DV'd deletions are simply not re-emitted.)
            if entry["removed"] or entry["dv"]:
                if self._skip_changes:
                    continue
                if not self._ignore_changes:
                    kind = "removes files" if entry["removed"] else (
                        "attaches deletion vectors"
                    )
                    raise ValueError(
                        f"lake_cdc: version {v} {kind} (row-level change) "
                        "— not append change data. Set "
                        "ignoreChanges=true to stream its added files anyway, "
                        "or skipChangeCommits=true to drop such commits."
                    )
            for a in entry["added"]:
                pval = a.get("p")
                if pval is not None and not self._partition_col:
                    raise ValueError(
                        "lake_cdc: table is partitioned (partition values "
                        "live in the log, not the files) — pass the "
                        "partitionColumn option to stream it"
                    )
                parts.append(
                    _AddedFile(
                        os.path.join(_data_dir(self._path), a["n"]),
                        v,
                        pval=pval,
                        ptype=self._ptype,
                    )
                )
        # Spark requires ≥1 partition even for an empty range
        return parts or [_AddedFile("", e)]

    def _partitions_cdf(self, s: int, e: int, floor: int):
        """Plan change-feed partitions for versions (s, e] of a log whose
        retained floor is ``floor``. Metadata-only on the driver: the log
        folds to ``s`` once for prior DV refs / partition values, then
        each entry advances that state (txnlog._apply_entry). A commit
        with materialized change files fans out one task per file;
        otherwise appends fan out one insert task per file, DV-only
        commits one positions task per touched file, and rewrite commits
        become ONE diff task over the touched files (their visible rows
        on both sides)."""
        data_dir = _data_dir(self._path)
        live: dict[str, dict] = {}
        parts: list = []
        if s >= 0:
            try:
                live = dict(Snapshot.at(self._path, s).live)
            except ValueError:
                # txn_cleanup_log truncated entries at/below s: state
                # BELOW the retained floor is gone by design. The floor
                # itself is recoverable (cleanup anchors at a checkpoint
                # and keeps its entry), so a change-feed stream STARTING
                # at the floor still plans — from the floor version's
                # own entry / materialized change files, which need no
                # pre-floor state — and only a commit whose diff
                # genuinely requires the discarded side (a DV delta, or
                # a rewrite without cdf.enabled change files) fails with
                # the actionable error.
                if not (s < floor <= e):
                    raise
                entry0 = _read_entry_body(self._path, floor)
                files0 = _change_files(self._path, floor)
                if files0 is not None:
                    parts.extend(_CdfFile(f, floor) for f in files0)
                elif entry0["removed"]:
                    raise ValueError(
                        f"lake_cdc: change data of rewrite version "
                        f"{floor} of {self._path} needs pre-floor "
                        "state that log cleanup discarded and no "
                        "materialized _change_data exists — restart "
                        "from a fresh checkpoint with "
                        f"startingVersion > {floor}, or enable "
                        "cdf.enabled before cleanup"
                    )
                elif entry0["dv"]:
                    raise ValueError(
                        f"lake_cdc: DV delta of version {floor} of "
                        f"{self._path} needs the pre-floor deletion "
                        "vector that log cleanup discarded — restart "
                        "from a fresh checkpoint with startingVersion > "
                        f"{floor}"
                    )
                else:
                    for a in entry0["added"]:
                        pval = a.get("p")
                        if pval is not None and not self._partition_col:
                            raise ValueError(
                                "lake_cdc: table is partitioned — pass "
                                "the partitionColumn option to stream it"
                            )
                        parts.append(
                            _AddedFile(
                                os.path.join(data_dir, a["n"]), floor,
                                pval=pval, ptype=self._ptype,
                            )
                        )
                live = dict(Snapshot.at(self._path, floor).live)
                s = floor
        for v in range(s + 1, e + 1):
            entry = _read_entry_body(self._path, v)
            prev = dict(live)
            _apply_entry(live, {}, entry)
            if entry.get("op") in ("OPTIMIZE", "OPTIMIZE_ZORDER"):
                continue  # visible rows invariant: no change data
            added_names = set(live) - set(prev)
            removed_names = set(prev) - set(live)
            dv_changed = sorted(
                n for n in live
                if n in prev and live[n].get("dv") != prev[n].get("dv")
            )
            if any(live[n]["p"] is not None for n in added_names) and (
                not self._partition_col
            ):
                raise ValueError(
                    "lake_cdc: table is partitioned — pass the "
                    "partitionColumn option to stream it"
                )

            def _dvp(d):
                return os.path.join(data_dir, d["d"]) if d else None

            # any row-changing commit: prefer the writer's materialized
            # change files (cdf.enabled tables) — one task per file, and
            # a no-op update cancels there, where the per-file paths
            # below would emit a delete+insert pair
            cdf_files = _change_files(self._path, v)
            if cdf_files is not None:
                parts.extend(_CdfFile(f, v) for f in cdf_files)
                continue
            if not removed_names:
                # append and/or DV-only commit (incl. MERGE_DV): both
                # sides stay per-file — fully distributed
                for n in sorted(added_names):
                    parts.append(
                        _AddedFile(
                            os.path.join(data_dir, n), v,
                            pval=live[n]["p"], ptype=self._ptype,
                        )
                    )
                for n in dv_changed:
                    parts.append(
                        _DvDelta(
                            os.path.join(data_dir, n), v,
                            _dvp(prev[n].get("dv")), _dvp(live[n].get("dv")),
                            pval=live[n]["p"], ptype=self._ptype,
                        )
                    )
            else:
                # rewrite commit without change files: one diff task
                # over the touched files' visible rows
                old_side = sorted(removed_names) + dv_changed
                new_side = sorted(added_names) + dv_changed
                diff = _CowDiff(
                    [
                        (
                            os.path.join(data_dir, n),
                            prev[n]["p"],
                            _dvp(prev[n].get("dv")),
                        )
                        for n in old_side
                    ],
                    [
                        (
                            os.path.join(data_dir, n),
                            live[n]["p"],
                            _dvp(live[n].get("dv")),
                        )
                        for n in new_side
                    ],
                    v,
                )
                diff.ptype = self._ptype
                parts.append(diff)
        return parts or [_AddedFile("", e)]

    def _conform(self, tbl):
        """Project/cast a file's arrow table to the stream's LOGICAL data
        schema (null-filling columns the file predates; looking up each
        logical field under its physical file name); row order
        preserved."""
        import pyarrow as pa

        if self._data_fields is None:
            return tbl
        cols = []
        for f in self._data_fields:
            pn = self._log2phys.get(f.name, f.name)
            if pn in tbl.column_names:
                cols.append(tbl[pn].cast(f.type))
            else:  # file predates the widening commit: null-fill
                cols.append(pa.nulls(tbl.num_rows, f.type))
        return pa.table(cols, names=[f.name for f in self._data_fields])

    def _finish(self, tbl, version: int, pcol_array=None, change_type=None):
        """Append the partition / _commit_version / _change_type columns."""
        import pyarrow as pa

        if self._partition_col:
            tbl = tbl.append_column(self._partition_col, pcol_array)
        tbl = tbl.append_column(
            "_commit_version", pa.array([version] * tbl.num_rows, pa.int64())
        )
        if self._change_feed:
            tbl = tbl.append_column(
                "_change_type",
                pa.array([change_type or "insert"] * tbl.num_rows, pa.string()),
            )
        return tbl

    def read(self, partition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if isinstance(partition, _DvDelta):
            return self._read_dv_delta(partition)
        if isinstance(partition, _CowDiff):
            return self._read_cow_diff(partition)
        if isinstance(partition, _CdfFile):
            return self._read_cdf_file(partition)
        if not partition.file_path:
            return iter([])
        tbl = self._conform(pq.read_table(partition.file_path))
        tbl = self._finish(
            tbl,
            partition.version,
            _partition_array(partition.pval, partition.ptype, tbl.num_rows)
            if self._partition_col
            else None,
            "insert",
        )
        return iter(tbl.to_batches(max_chunksize=8192))

    def _read_cdf_file(self, p: _CdfFile) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(p.file_path)
        ct = tbl["_change_type"]
        body = self._conform(tbl)  # data columns only; row order preserved
        if self._partition_col:  # a change file carries it as data
            body = body.append_column(
                self._partition_col,
                tbl[self._partition_col].cast(_partition_arrow_type(self._ptype)),
            )
        body = body.append_column(
            "_commit_version", pa.array([p.version] * body.num_rows, pa.int64())
        )
        body = body.append_column("_change_type", ct.cast(pa.string()))
        return iter(body.to_batches(max_chunksize=8192))

    def _read_dv_delta(self, p: _DvDelta) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dbimport_spark.txnlog import _dv_decode

        def _positions(sc):
            if sc is None:
                return set()
            with open(sc, "rb") as fh:
                return set(_dv_decode(fh.read()))

        old, new = _positions(p.old_sc), _positions(p.new_sc)
        deltas = [
            (sorted(new - old), "delete"),   # newly-deleted positions
            (sorted(old - new), "insert"),   # DV rollback: rows resurface
        ]
        if not any(idx for idx, _ in deltas):
            return iter([])
        tbl = self._conform(pq.read_table(p.file_path))
        batches = []
        for idx, ct in deltas:
            if not idx:
                continue
            t = tbl.take(pa.array(idx, pa.int64()))
            t = self._finish(
                t,
                p.version,
                _partition_array(p.pval, p.ptype, t.num_rows)
                if self._partition_col
                else None,
                ct,
            )
            batches.extend(t.to_batches(max_chunksize=8192))
        return iter(batches)

    def _read_cow_diff(self, p: _CowDiff) -> Iterator:
        from collections import Counter

        import pyarrow as pa
        import pyarrow.parquet as pq

        from dbimport_spark.txnlog import _dv_decode

        names = [f.name for f in (self._data_fields or [])]

        def _rows(side):
            c: Counter = Counter()
            for path, pval, dvp in side:
                tbl = self._conform(pq.read_table(path))
                if dvp:
                    with open(dvp, "rb") as fh:
                        dead = set(_dv_decode(fh.read()))
                    keep = [i for i in range(tbl.num_rows) if i not in dead]
                    tbl = tbl.take(pa.array(keep, pa.int64()))
                pv = (
                    (_decode_pval(pval, p.ptype),)
                    if self._partition_col
                    else ()
                )
                for r in tbl.to_pylist():
                    c[tuple(r[n] for n in names) + pv] += 1
            return c

        old_c, new_c = _rows(p.removed), _rows(p.added)
        out = [
            (list((old_c - new_c).elements()), "delete"),
            (list((new_c - old_c).elements()), "insert"),
        ]
        batches = []
        for rows, ct in out:
            if not rows:
                continue
            cols = [
                pa.array([r[i] for r in rows], type=f.type)
                for i, f in enumerate(self._data_fields or [])
            ]
            tbl = pa.table(cols, names=names)
            tbl = self._finish(
                tbl,
                p.version,
                pa.array(
                    [r[len(names)] for r in rows],
                    _partition_arrow_type(p.ptype),
                )
                if self._partition_col
                else None,
                ct,
            )
            batches.extend(tbl.to_batches(max_chunksize=8192))
        return iter(batches)


class LakeCdcDataSource(DataSource):
    """spark.readStream.format("lake_cdc").option("path", table).load()"""

    @classmethod
    def name(cls) -> str:
        return "lake_cdc"

    def schema(self) -> str:
        return _table_ddl(
            self.options["path"],
            self.options.get("partitionColumn"),
            str(self.options.get("readChangeFeed", "false")).lower() == "true",
        )

    def streamReader(self, schema) -> LakeCdcStreamReader:
        return LakeCdcStreamReader(self.options["path"], self.options, schema)


def register_lake_cdc(spark) -> None:
    from dbimport_spark.plans.registry import ensure_package_on_workers

    ensure_package_on_workers(spark)
    spark.dataSource.register(LakeCdcDataSource)
