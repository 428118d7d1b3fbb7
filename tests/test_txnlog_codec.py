"""The log codec and the one replay step (dbimport_spark/txnlog.py):
entries decode one way, every fold applies them one way, and a fold
survives a log cleanup that truncates the entries it was about to read."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbimport_spark import txnlog
from dbimport_spark.sources import lakecdc


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _file(table, name, n_rows):
    """A real parquet data file (txn_fsck reads its footer)."""
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    pq.write_table(
        pa.table({"k": list(range(n_rows))}), os.path.join(table, "data", name)
    )


def _dv(table, name, gen, positions):
    """A DV sidecar for ``name`` and the commit action attaching it."""
    sc = f"{name}.dv.{gen}"
    with open(os.path.join(table, "data", sc), "wb") as fh:
        fh.write(txnlog._dv_encode(positions))
    return {"n": name, "d": sc, "k": len(positions)}


def _raw(table, v):
    with open(os.path.join(table, "_txn_log", f"{v:08d}.json")) as fh:
        return json.load(fh)


def test_commit_encodes_a_name_only_add_as_the_bare_name(table):
    """commit is the encoder: an add carrying only its name is written as
    the bare name, whichever form it was handed in; _read_entry_body
    hands every add back as a dict."""
    txnlog.commit(
        table,
        [{"n": "b.parquet"}, "a.parquet", {"n": "c.parquet", "stats": {"__rows__": 1}}],
        [],
        -1,
    )
    assert _raw(table, 0)["added"] == [
        "a.parquet", "b.parquet", {"n": "c.parquet", "stats": {"__rows__": 1}},
    ]
    entry = txnlog._read_entry_body(table, 0)
    assert entry["added"] == [
        {"n": "a.parquet"}, {"n": "b.parquet"},
        {"n": "c.parquet", "stats": {"__rows__": 1}},
    ]
    assert entry["removed"] == [] and entry["dv"] == []


def _build_every_action_log(table, monkeypatch):
    """A log with every action kind: bare-name and dict adds, partitioned
    adds, removes, a DV attach, a DV replace and a DV detach (RESTORE), a
    property set and unset, and a multi-part checkpoint partway through."""
    for name, rows in [("a", 4), ("b", 3), ("c", 2), ("d", 2), ("e", 5), ("f", 1)]:
        _file(table, f"{name}.parquet", rows)
    part = lambda n, p: {"n": n, "p": p, "t": "string"}  # noqa: E731
    txnlog.commit(
        table,
        ["a.parquet", {"n": "b.parquet", "stats": {"__rows__": 3, "k": [0, 2]}}],
        [], -1, op="APPEND",
    )                                                                   # v0
    txnlog.commit(
        table, [part("c.parquet", "x"), part("d.parquet", "y")], [], 0,
        op="APPEND",
    )                                                                   # v1
    txnlog.commit(table, [], [], 1, dv=[_dv(table, "a.parquet", 1, [0])])  # v2
    txnlog.txn_set_property(table, "x.y", "1")                          # v3
    monkeypatch.setattr(txnlog, "CHECKPOINT_ROWS_PER_PART", 2)
    txnlog.write_checkpoint(table, 3)
    assert len(txnlog._checkpoint_manifest(table, 3)["parts"]) == 2
    txnlog.commit(
        table, [], [], 3,
        dv=[_dv(table, "a.parquet", 2, [0, 1]), _dv(table, "c.parquet", 1, [1])],
    )                                                                   # v4
    txnlog.commit(table, ["e.parquet"], ["b.parquet"], 4)               # v5
    txnlog.txn_set_property(table, "x.y", None)                         # v6
    txnlog.txn_restore(table, 2)                                        # v7
    txnlog.commit(table, [part("f.parquet", "z")], ["d.parquet"], 7)    # v8
    return txnlog.current_version(table)


def test_every_fold_gives_one_state_at_every_version(spark, table, monkeypatch):
    """The streamed state (Snapshot.at through the checkpoint, a batch
    of one row at a time, and scan_candidates_df's rows), txn_fsck and
    the change-feed planner all fold the same log to the state a replay
    of every entry gives, at every version."""
    cur = _build_every_action_log(table, monkeypatch)
    restore = txnlog._read_entry_body(table, 7)
    assert restore["op"] == "RESTORE"
    assert {"n": "c.parquet", "d": None, "k": 0} in restore["dv"]  # detach
    assert {d["n"] for d in restore["dv"]} == {"a.parquet", "c.parquet"}  # replace

    with monkeypatch.context() as m:
        m.setattr(txnlog, "_latest_checkpoint_at_or_below", lambda *_: -1)
        truth = {v: txnlog.Snapshot.at(table, v) for v in range(cur + 1)}
    assert truth[3].props == {"x.y": "1"} and truth[6].props == {}
    assert truth[cur].ptype == "string"
    assert set(truth[cur].live) == {"a.parquet", "b.parquet", "c.parquet", "f.parquet"}
    assert truth[cur].live["a.parquet"]["dv"]["d"] == "a.parquet.dv.1"
    assert truth[cur].live["c.parquet"]["dv"] is None
    assert truth[cur].live["b.parquet"]["stats"] == {"__rows__": 3, "k": [0, 2]}

    def strip(live):
        return {
            n: (d["p"], d["stats"], d["dv"], d.get("rid")) for n, d in live.items()
        }

    # the streamed state: checkpoint parts plus the replayed suffix
    monkeypatch.setattr(txnlog, "_STATE_BATCH_ROWS", 1)
    for v in range(cur + 1):
        snap = txnlog.Snapshot.at(table, v)
        assert (snap.ptype, snap.props) == (truth[v].ptype, truth[v].props), v
        assert strip(snap.live) == strip(truth[v].live), v
        rows = txnlog.scan_candidates_df(spark, table, version=v).collect()
        got = {r["n"]: txnlog._ckpt_decode(r.asDict()) for r in rows}
        assert len(rows) == len(got)
        assert strip(got) == strip(truth[v].live), v

    # txn_fsck and the change-feed planner advance one state an entry at
    # a time: every state they step through is the snapshot's
    seen: list = []
    real = txnlog._apply_entry

    def recording(live, props, entry):
        out = real(live, props, entry)
        seen.append((entry["version"], dict(live)))
        return out

    monkeypatch.setattr(txnlog, "_apply_entry", recording)
    report = txnlog.txn_fsck(table)
    assert report["ok"], report["issues"]
    assert report["checked_versions"] == list(range(cur + 1))
    fsck_seen = dict(seen)
    assert set(fsck_seen) == set(range(cur + 1))

    seen.clear()
    monkeypatch.setattr(lakecdc, "_apply_entry", recording)
    reader = lakecdc.LakeCdcStreamReader(
        table, {"path": table, "readChangeFeed": "true", "partitionColumn": "p"}
    )
    parts = reader.partitions({"version": -1}, {"version": cur})
    # the reader's own Snapshot.at folds first (its suffix replays over
    # stand-ins for checkpointed files); the planner's steps come last
    planner_seen = seen[-(cur + 1):]
    assert [v for v, _ in planner_seen] == list(range(cur + 1))
    for v, live in [*fsck_seen.items(), *planner_seen]:
        assert strip(live) == strip(truth[v].live), v
    # and the plan is the one those states imply: v5 removes b for e,
    # v8 removes d for f — each one diff task; v0 and v1 add files
    by_v: dict = {}
    for p in parts:
        by_v.setdefault(p.version, []).append(p)
    assert sorted(
        os.path.basename(p.file_path) for p in by_v[0] + by_v[1]
    ) == ["a.parquet", "b.parquet", "c.parquet", "d.parquet"]
    (diff,) = by_v[8]
    assert [os.path.basename(f) for f, _, _ in diff.removed] == ["d.parquet"]
    assert [(os.path.basename(f), p) for f, p, _ in diff.added] == [("f.parquet", "z")]
    dv_files = {os.path.basename(p.file_path) for p in by_v[4]}
    assert dv_files == {"a.parquet", "c.parquet"}


def _cleaned_log(table):
    """Versions 0..5 with checkpoints at 2 and 4, and a log cleanup that
    truncated entries 0..3 (anchored at the checkpoint at 4)."""
    for v in range(6):
        _file(table, f"f{v}.parquet", 1)
        txnlog.commit(
            table, [f"f{v}.parquet"], [f"f{v - 1}.parquet"] if v % 2 else [],
            v - 1,
        )
    txnlog.write_checkpoint(table, 4)
    txnlog.vacuum(table, retain_versions=2)  # horizon 4
    txnlog.write_checkpoint(table, 2)
    want = txnlog.Snapshot.at(table, 5)
    assert txnlog.txn_cleanup_log(table) == 4
    assert txnlog.log_floor(table) == 4
    return want


def test_fold_restarts_from_the_newer_checkpoint_after_a_cleanup(
    table, monkeypatch
):
    """A txn_cleanup_log that truncates the log between a fold's
    checkpoint choice and its replay: the fold starts again from the
    checkpoint the cleanup anchored at instead of failing on the missing
    entry."""
    want = _cleaned_log(table)
    real = txnlog._latest_checkpoint_at_or_below
    calls = []

    def stale_once(path, v_max):
        calls.append(v_max)
        # the choice a fold made just before the cleanup ran
        return 2 if len(calls) == 1 else real(path, v_max)

    monkeypatch.setattr(txnlog, "_latest_checkpoint_at_or_below", stale_once)
    got = txnlog.Snapshot.at(table, 5)
    assert len(calls) >= 2
    assert (got.live, got.ptype, got.props) == (want.live, want.ptype, want.props)


def test_fold_below_the_retained_floor_still_raises_value_error(table):
    """A version whose entries a cleanup truncated, with no checkpoint to
    start from, stays a ValueError — the change-feed planner's floor
    branch catches exactly that."""
    _cleaned_log(table)
    assert txnlog.Snapshot.at(table, 4).names  # the floor itself resolves
    with pytest.raises(ValueError, match="missing log entry for version 3"):
        txnlog.Snapshot.at(table, 3)


def test_planning_restarts_from_the_newer_checkpoint_after_a_vacuum(
    spark, table, monkeypatch
):
    """A vacuum that reaps the checkpoint a planner is streaming (a newer
    checkpoint superseded it) between two of its parts: the stream starts
    again from the newer checkpoint and plans the same files."""
    for v in range(6):
        _file(table, f"f{v}.parquet", 1)
        add = {"n": f"f{v}.parquet", "stats": {"__rows__": 1, "k": [v, v]}}
        txnlog.commit(table, [add], [], v - 1)
    monkeypatch.setattr(txnlog, "CHECKPOINT_ROWS_PER_PART", 1)
    monkeypatch.setattr(txnlog, "_STATE_BATCH_ROWS", 1)
    txnlog.write_checkpoint(table, 2)  # three parts of one row
    want = txnlog._candidates(txnlog.Snapshot.at(table, 5), bounds={"k": (1, 4)})
    assert want == [f"f{v}.parquet" for v in range(1, 5)]
    real = txnlog._candidates
    batches = []

    def vacuum_after_the_first_batch(snap, **spec):
        batches.append(sorted(spec["live"]))
        if len(batches) == 1:
            txnlog.write_checkpoint(table, 4)
            txnlog.vacuum(table, retain_versions=2)  # horizon 4
            assert txnlog._checkpoint_manifest(table, 2) is None
        return real(snap, **spec)

    monkeypatch.setattr(txnlog, "_candidates", vacuum_after_the_first_batch)
    planned = txnlog.scan_candidates_df(spark, table, {"k": (1, 4)})
    assert [r["n"] for r in planned.collect()] == want
    # one batch from the reaped checkpoint, then the whole newer one
    # (five parts of one row) and the suffix's add
    assert batches == [["f0.parquet"]] + [[f"f{v}.parquet"] for v in range(6)]


def test_change_feed_resumes_at_the_floor_and_refuses_below_it(table):
    """A change-feed stream that consumed up to the version below the
    retained floor plans from the floor's own entry; one further behind
    gets the truncation error instead of silently skipping versions."""
    _cleaned_log(table)
    reader = lakecdc.LakeCdcStreamReader(
        table, {"path": table, "readChangeFeed": "true"}
    )
    parts = reader.partitions({"version": 3}, {"version": 5})
    assert sorted({p.version for p in parts}) == [4, 5]
    with pytest.raises(ValueError, match="version 2 .* truncated by log cleanup"):
        reader.partitions({"version": 1}, {"version": 5})


@pytest.mark.parametrize(
    "table_type, write_type, want",
    [
        ("int", "bigint", "bigint"),
        ("bigint", "int", "bigint"),
        ("bigint", "string", None),
    ],
)
def test_partition_type_widens_and_refuses_unrelated_types(
    spark, table, table_type, write_type, want
):
    """The partition column's type follows the WIDENING join of the
    table's type and each write's; an unrelated type is refused before
    any file is written, with the error a data column gets."""
    def frame(rows, t):
        return spark.createDataFrame(rows, f"k long, p {t}")

    txnlog.txn_append_partitioned(
        spark, frame([(1, 5), (2, 6)], table_type), table, "p"
    )
    data = os.path.join(table, "data")
    before = sorted(os.listdir(table)), sorted(os.listdir(data))
    rows = [(3, "x")] if write_type == "string" else [(3, 7)]
    if want is None:
        with pytest.raises(ValueError, match="'p': bigint vs string is not a widening"):
            txnlog.txn_append(spark, frame(rows, write_type), table)
        assert (sorted(os.listdir(table)), sorted(os.listdir(data))) == before
        assert txnlog.current_version(table) == 0
        return
    txnlog.txn_append(spark, frame(rows, write_type), table)
    assert txnlog.Snapshot.at(table).ptype == want
    back = txnlog.read_snapshot(spark, table)
    assert dict(back.dtypes)["p"] == want
    assert sorted((r["k"], r["p"]) for r in back.collect()) == [(1, 5), (2, 6), (3, 7)]
