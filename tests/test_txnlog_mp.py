"""Round-7 adversarial escalation (r6 verdict item 7): GENUINE
multi-process races over the transaction-log conflict matrix — real
fork()ed writers, compactors, vacuums and readers, no monkeypatched
interleavings. All workers drive the Spark-free log-level API
(commit / snapshot_files / vacuum / current_version) so each process is
cheap; data files are fakes whose CONTENT is the JSON list of leaf file
names they carry, which makes content preservation checkable by pure
expansion (a lost or doubly-removed file breaks the leaf-set equality).
"""

import json
import multiprocessing as mp
import os

import pytest

from dbimport_spark import txnlog

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1


@pytest.fixture(autouse=True, params=["posix", "objstore"])
def commit_backend(request):
    """Every MP race in this file runs TWICE: once on the POSIX
    hard-link backend, once through the object-store adapter
    (conditional-PUT mechanics, no hard links) — the r8 verdict's
    'pass the MP race suites through the adapter unchanged'. Forked
    workers inherit the swapped backend."""
    if request.param == "objstore":
        prev = txnlog.set_commit_backend(
            txnlog.ObjectStoreCommitBackend(txnlog.LocalObjectStoreEmulator())
        )
        yield
        txnlog.set_commit_backend(prev)
    else:
        yield


def _mk_table(tmp_path) -> str:
    table = str(tmp_path / "tbl")
    os.makedirs(os.path.join(table, "_txn_log"), exist_ok=True)
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    return table


def _write_leaf(table: str, name: str) -> None:
    with open(os.path.join(table, "data", name), "w") as fh:
        json.dump([name], fh)


def _expand(table: str, version=None) -> list:
    """Recursively expand the snapshot's fake files to leaf names
    (compacted files carry the leaf lists of everything they merged)."""
    leaves: list = []
    for f in txnlog.snapshot_files(table, version):
        with open(f) as fh:
            leaves.extend(json.load(fh))
    return sorted(leaves)


def _appender(table, wid, n_commits, q):
    got = []
    for i in range(n_commits):
        name = f"leaf_w{wid}_{i}.json"
        _write_leaf(table, name)
        for _ in range(500):
            try:
                got.append(
                    txnlog.commit(table, [name], [], txnlog.current_version(table))
                )
                break
            except txnlog.TxnConflict:
                continue
        else:
            raise AssertionError(f"appender {wid} starved")
    q.put(("append", wid, got))


def _compactor(table, rounds, q):
    """Log-level OPTIMIZE: merge the snapshot's files into one whose
    content is the concatenation of theirs, committing
    {add: merged, remove: old} as one version — the txn_compact
    protocol without Spark."""
    done = 0
    for r in range(rounds):
        for _ in range(500):
            base = txnlog.current_version(table)
            if base < 0:
                break
            files = txnlog.snapshot_files(table, base)
            if len(files) < 2:
                break
            leaves: list = []
            for f in files:
                with open(f) as fh:
                    leaves.extend(json.load(fh))
            merged = f"merged_r{r}_{os.getpid()}_{base}.json"
            with open(os.path.join(table, "data", merged), "w") as fh:
                json.dump(sorted(leaves), fh)
            try:
                txnlog.commit(
                    table, [merged], [os.path.basename(f) for f in files], base
                )
                done += 1
                break
            except txnlog.TxnConflict:
                continue
    q.put(("compact", os.getpid(), done))


def _run(procs, q, n_results):
    for p in procs:
        p.start()
    results = [q.get(timeout=180) for _ in range(n_results)]
    for p in procs:
        p.join(timeout=180)
        assert p.exitcode == 0, f"worker died: {p}"
    return results


def test_mp_appenders_with_compactor_preserve_content(tmp_path):
    """4 appender processes × 8 commits racing 1 compactor loop: the
    final snapshot must expand to EXACTLY the 32 appended leaves (a
    compactor commit that lost a race and landed anyway would duplicate
    or drop leaves), and the version sequence must be contiguous."""
    table = _mk_table(tmp_path)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_appender, args=(table, w, 8, q)) for w in range(4)
    ] + [ctx.Process(target=_compactor, args=(table, 12, q))]
    _run(procs, q, 5)

    expected = sorted(
        f"leaf_w{w}_{i}.json" for w in range(4) for i in range(8)
    )
    assert _expand(table) == expected
    cur = txnlog.current_version(table)
    for v in range(cur + 1):
        assert os.path.exists(
            os.path.join(table, "_txn_log", f"{v:08d}.json")
        ), f"hole at version {v}"


def test_mp_two_compactors_race_without_content_loss(tmp_path):
    """Two compactor processes racing each other AND two appenders —
    the delete-vs-delete cell of the conflict matrix at the log level:
    both try to remove the same base files; exactly one commit per
    version can win, the loser must re-derive from the NEW snapshot.
    Any double-remove or stale-base merge breaks leaf-set equality."""
    table = _mk_table(tmp_path)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_appender, args=(table, w, 6, q)) for w in range(2)
    ] + [
        ctx.Process(target=_compactor, args=(table, 10, q)) for _ in range(2)
    ]
    _run(procs, q, 4)

    expected = sorted(f"leaf_w{w}_{i}.json" for w in range(2) for i in range(6))
    assert _expand(table) == expected
    # every version in the log is still fully readable (no file that a
    # log entry references was clobbered)
    for v in range(txnlog.current_version(table) + 1):
        txnlog.snapshot_files(table, v)


def _vacuumer(table, retain, rounds, q):
    deleted = 0
    for _ in range(rounds):
        deleted += len(txnlog.vacuum(table, retain_versions=retain))
    q.put(("vacuum", retain, deleted))


def test_mp_concurrent_vacuums_keep_horizon_sound(tmp_path):
    """Two vacuum processes with DIFFERENT retention racing appenders
    and a compactor. The readability promise: after the dust settles,
    every version at or above vacuum_horizon() must still fully
    resolve to EXISTING files. A last-write-wins horizon (the r6
    implementation wrote the cutoff unconditionally) lets the
    longer-retention vacuum move the horizon BACKWARD below versions
    whose files the shorter-retention vacuum already deleted — a reader
    trusting the horizon then dies mid-scan."""
    table = _mk_table(tmp_path)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_appender, args=(table, w, 10, q)) for w in range(3)
    ] + [
        ctx.Process(target=_compactor, args=(table, 10, q)),
        ctx.Process(target=_vacuumer, args=(table, 1, 25, q)),
        ctx.Process(target=_vacuumer, args=(table, 5, 25, q)),
    ]
    _run(procs, q, 6)

    horizon = txnlog.vacuum_horizon(table)
    cur = txnlog.current_version(table)
    assert 0 <= horizon <= cur
    for v in range(horizon, cur + 1):
        for f in txnlog.snapshot_files(table, v):
            assert os.path.exists(f), (
                f"version {v} (>= horizon {horizon}) references missing "
                f"{os.path.basename(f)} — horizon moved backward past a "
                f"deletion"
            )
    # the final snapshot's content survived every race
    expected = sorted(f"leaf_w{w}_{i}.json" for w in range(3) for i in range(10))
    assert _expand(table) == expected


def _reader(table, rounds, q):
    """Resolve + fully read the current snapshot in a loop; a missing
    file is only acceptable if the snapshot went stale (vacuum advanced
    past it) — re-resolving at the NEW current version must succeed."""
    ok = 0
    for _ in range(rounds):
        for _attempt in range(50):
            v = txnlog.current_version(table)
            if v < 0:
                break
            try:
                for f in txnlog.snapshot_files(table, v):
                    with open(f) as fh:
                        json.load(fh)
                ok += 1
                break
            except FileNotFoundError:
                continue  # stale view: vacuum advanced — retry at new cur
        else:
            raise AssertionError("reader starved: current snapshot unreadable")
    q.put(("read", os.getpid(), ok))


def test_mp_vacuum_racing_readers_writers_compactor(tmp_path):
    """The full zoo: 2 appenders + compactor + vacuum(retain=3) + 2
    readers hammering the current snapshot. Readers must always succeed
    after bounded retries (the complete-before-named log guarantee +
    vacuum's only-log-proven-dead rule), every worker must exit clean,
    and content must be preserved end to end."""
    table = _mk_table(tmp_path)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = (
        [ctx.Process(target=_appender, args=(table, w, 10, q)) for w in range(2)]
        + [
            ctx.Process(target=_compactor, args=(table, 12, q)),
            ctx.Process(target=_vacuumer, args=(table, 3, 30, q)),
        ]
        + [ctx.Process(target=_reader, args=(table, 20, q)) for _ in range(2)]
    )
    results = _run(procs, q, 6)

    reads = [n for kind, _, n in results if kind == "read"]
    assert all(n == 20 for n in reads), f"reader fell short: {reads}"
    expected = sorted(f"leaf_w{w}_{i}.json" for w in range(2) for i in range(10))
    assert _expand(table) == expected


# ------------------------------- round-7 escalation: deletion-vector races

def _dv_read(table: str, name: str):
    sc = None
    live = txnlog.Snapshot.at(table, txnlog.current_version(table)).live
    m = live.get(name, {}).get("dv")
    if m:
        with open(os.path.join(table, "data", m["d"])) as fh:
            sc = set(json.load(fh))
    return sc or set()


def _expand_visible(table: str, version=None) -> list:
    """Leaf expansion MINUS each file's deletion-vector leaves — the
    log-level analogue of the DV-aware read."""
    v = txnlog.current_version(table) if version is None else version
    live = txnlog.Snapshot.at(table, v).live
    leaves: list = []
    for n in sorted(live):
        with open(os.path.join(table, "data", n)) as fh:
            got = json.load(fh)
        dv = live[n].get("dv")
        dead: set = set()
        if dv:
            with open(os.path.join(table, "data", dv["d"])) as fh:
                dead = set(json.load(fh))
        leaves.extend(l for l in got if l not in dead)
    return sorted(leaves)


def _dv_deleter(table, fname, my_leaves, wid, q):
    """DV-delete ``my_leaves`` from file ``fname`` following the
    txn_delete_dv protocol: fold old positions into a NEW generation,
    commit the replacement ref, re-derive on conflict."""
    for attempt in range(500):
        base = txnlog.current_version(table)
        live = txnlog.Snapshot.at(table, base).live
        old = live[fname].get("dv")
        dead = set(my_leaves)
        if old:
            with open(os.path.join(table, "data", old["d"])) as fh:
                dead |= set(json.load(fh))
        gen = f"{fname}.dv.w{wid}a{attempt}"
        with open(os.path.join(table, "data", gen), "w") as fh:
            json.dump(sorted(dead), fh)
        try:
            txnlog.commit(
                table, [], [], base,
                dv=[{"n": fname, "d": gen, "k": len(dead)}],
            )
            q.put(("dv", wid, True))
            return
        except txnlog.TxnConflict:
            continue
    raise AssertionError(f"dv deleter {wid} starved")


def test_mp_racing_dv_writers_union_their_deletions(tmp_path):
    """4 processes DV-delete DISJOINT leaf subsets of the same file at
    once. Generation-replacement is latest-wins per commit, so a writer
    that lost the race must fold the winner's positions into its retry —
    the final visible set must be the file minus the UNION of all four
    subsets, and every superseded generation must still satisfy its own
    version's read (time travel over DV history)."""
    table = _mk_table(tmp_path)
    leaves = [f"l{i}" for i in range(20)]
    with open(os.path.join(table, "data", "f0.json"), "w") as fh:
        json.dump(leaves, fh)
    txnlog.commit(table, ["f0.json"], [], -1)

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    subsets = [leaves[i::4][:3] for i in range(4)]  # disjoint triples
    procs = [
        ctx.Process(target=_dv_deleter, args=(table, "f0.json", s, w, q))
        for w, s in enumerate(subsets)
    ]
    _run(procs, q, 4)

    union = set().union(*subsets)
    assert _expand_visible(table) == sorted(set(leaves) - union)
    # monotone: each version's visible set only shrinks
    prev = set(leaves)
    for v in range(1, txnlog.current_version(table) + 1):
        vis = set(_expand_visible(table, v))
        assert vis <= prev, f"version {v} resurrected rows"
        prev = vis


def _dv_compactor(table, rounds, q):
    """Compactor that MATERIALIZES deletion vectors: the merged fake
    file carries only the VISIBLE leaves (txn_compact's DV semantics)."""
    done = 0
    for r in range(rounds):
        for _ in range(500):
            base = txnlog.current_version(table)
            if base < 0:
                break
            live = txnlog.Snapshot.at(table, base).live
            if len(live) < 2 and not any(d.get("dv") for d in live.values()):
                break
            merged = f"merged_r{r}_{os.getpid()}_{base}.json"
            with open(os.path.join(table, "data", merged), "w") as fh:
                json.dump(_expand_visible(table, base), fh)
            try:
                txnlog.commit(table, [merged], sorted(live), base)
                done += 1
                break
            except txnlog.TxnConflict:
                continue
    q.put(("compact", os.getpid(), done))


def test_mp_dv_writers_racing_compactor(tmp_path):
    """2 DV deleters × disjoint subsets racing a materializing
    compactor: whichever interleaving wins, the final visible set must
    equal all leaves minus both deletion sets — a compactor working from
    a STALE dv fold (or a deleter whose dv action landed on a file the
    compactor just removed) would resurrect or lose leaves. The fold
    drops dv actions on files that left the live set, so a deleter whose
    target was compacted away MUST re-derive against the merged file."""
    table = _mk_table(tmp_path)
    files = {}
    for i in range(2):
        name = f"f{i}.json"
        files[name] = [f"l{i}_{j}" for j in range(10)]
        with open(os.path.join(table, "data", name), "w") as fh:
            json.dump(files[name], fh)
    txnlog.commit(table, sorted(files), [], -1)

    def deleter_with_rederive(table, victim_leaves, wid, q):
        # deletes two leaves WHEREVER they live now: re-resolves the
        # owning file each attempt (compactor may have merged it away)
        for attempt in range(500):
            base = txnlog.current_version(table)
            live = txnlog.Snapshot.at(table, base).live
            owner = None
            for n in sorted(live):
                with open(os.path.join(table, "data", n)) as fh:
                    if set(victim_leaves) & set(json.load(fh)):
                        owner = n
                        break
            assert owner is not None, "victim leaves vanished"
            old = live[owner].get("dv")
            dead = set(victim_leaves)
            if old:
                with open(os.path.join(table, "data", old["d"])) as fh:
                    dead |= set(json.load(fh))
            gen = f"{owner}.dv.w{wid}a{attempt}"
            with open(os.path.join(table, "data", gen), "w") as fh:
                json.dump(sorted(dead), fh)
            try:
                txnlog.commit(
                    table, [], [], base,
                    dv=[{"n": owner, "d": gen, "k": len(dead)}],
                )
                q.put(("dv", wid, True))
                return
            except txnlog.TxnConflict:
                continue
        raise AssertionError("deleter starved")

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    kill = [["l0_1", "l0_7"], ["l1_2", "l1_8"]]
    procs = [
        ctx.Process(target=deleter_with_rederive, args=(table, k, w, q))
        for w, k in enumerate(kill)
    ] + [ctx.Process(target=_dv_compactor, args=(table, 6, q))]
    _run(procs, q, 3)

    expected = sorted(
        set(files["f0.json"] + files["f1.json"]) - {"l0_1", "l0_7", "l1_2", "l1_8"}
    )
    assert _expand_visible(table) == expected


def test_mp_vacuum_reaps_only_dead_dv_generations(tmp_path):
    """A DV writer stacking generations races a short-retention vacuum:
    afterwards every KEPT version must still fully resolve (its dv
    sidecar exists), and every generation no kept version references is
    gone."""
    table = _mk_table(tmp_path)
    leaves = [f"l{i}" for i in range(12)]
    with open(os.path.join(table, "data", "f0.json"), "w") as fh:
        json.dump(leaves, fh)
    txnlog.commit(table, ["f0.json"], [], -1)

    ctx = mp.get_context("fork")
    q = ctx.Queue()

    def stacker(table, q):
        for i in range(6):
            _dv_deleter(table, "f0.json", [f"l{i}"], 100 + i, q)

    def vac(table, q):
        for _ in range(8):
            txnlog.vacuum(table, retain_versions=1)
        q.put(("vac", 0, True))

    procs = [
        ctx.Process(target=stacker, args=(table, q)),
        ctx.Process(target=vac, args=(table, q)),
    ]
    _run(procs, q, 7)
    txnlog.vacuum(table, retain_versions=1)

    cur = txnlog.current_version(table)
    horizon = txnlog.vacuum_horizon(table)
    # every kept version resolves completely
    for v in range(horizon, cur + 1):
        _expand_visible(table, v)
    # final visible set: all six stacked deletions applied
    assert _expand_visible(table) == sorted(set(leaves) - {f"l{i}" for i in range(6)})
    # no generation outside the kept versions' references survives
    kept_gens = set()
    for v in range(horizon, cur + 1):
        live = txnlog.Snapshot.at(table, v).live
        kept_gens |= {d["dv"]["d"] for d in live.values() if d.get("dv")}
    ever_gens = set()
    for v in range(cur + 1):
        with open(os.path.join(table, "_txn_log", f"{v:08d}.json")) as fh:
            ever_gens |= {e["d"] for e in json.load(fh).get("dv", [])}
    on_disk = {f for f in os.listdir(os.path.join(table, "data")) if ".dv." in f}
    assert not (on_disk & (ever_gens - kept_gens)), "dead generation survived vacuum"


def _prop_setter(table, key, value, q):
    txnlog.txn_set_property(table, key, value, max_retries=500)
    q.put(("prop", key, value))


def test_mp_property_races_linearize(tmp_path):
    """4 processes racing property commits (two keys × two writers each)
    + an appender: the final fold holds exactly one writer's value per
    key (latest-wins by version order — never a torn/merged state), and
    every version's entry parses."""
    table = _mk_table(tmp_path)
    _write_leaf(table, "seed.json")
    txnlog.commit(table, ["seed.json"], [], -1)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_prop_setter, args=(table, "owner", v, q))
        for v in ("alice", "bob")
    ] + [
        ctx.Process(target=_prop_setter, args=(table, "ttl", v, q))
        for v in ("7d", "30d")
    ] + [ctx.Process(target=_appender, args=(table, 0, 4, q))]
    _run(procs, q, 5)
    props = txnlog.table_props(table)
    assert props["owner"] in ("alice", "bob")
    assert props["ttl"] in ("7d", "30d")
    # latest-wins is determined by the LOG, not the queue: replay agrees
    cur = txnlog.current_version(table)
    last = {}
    for v in range(cur + 1):
        with open(os.path.join(table, "_txn_log", f"{v:08d}.json")) as fh:
            for k, val in (json.load(fh).get("props") or {}).items():
                last[k] = val
    assert props == {k: v for k, v in last.items() if v is not None}


def test_mp_restore_racing_appender_linearizes(tmp_path):
    """RESTORE racing an appender: whichever order the commits land in,
    the final visible set must be a LEGAL linearization — either the
    restore target alone (append landed first and was rolled back) or
    target ∪ appended (append landed after the restore)."""
    table = _mk_table(tmp_path)
    _write_leaf(table, "base.json")
    txnlog.commit(table, ["base.json"], [], -1)        # v0: the target
    _write_leaf(table, "junk.json")
    txnlog.commit(table, ["junk.json"], [], 0)         # v1: to roll back

    ctx = mp.get_context("fork")
    q = ctx.Queue()

    def restorer(table, q):
        txnlog.txn_restore(table, 0, max_retries=500)
        q.put(("restore", 0, True))

    procs = [
        ctx.Process(target=restorer, args=(table, q)),
        ctx.Process(target=_appender, args=(table, 7, 1, q)),
    ]
    _run(procs, q, 2)
    final = set(_expand(table))
    legal = (
        {"base.json"},                      # append first, then restore
        {"base.json", "leaf_w7_0.json"},    # restore first, then append
    )
    assert final in legal, final
    # every version still resolves (restore is a commit, never surgery)
    for v in range(txnlog.current_version(table) + 1):
        _expand(table, v)


# ------------------------------------------------- row-id allocation races


def _write_parquet_leaf(table: str, name: str, n_rows: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"k": list(range(n_rows))}),
        os.path.join(table, "data", name),
    )


def _rid_appender(table, wid, n_commits, q):
    import random

    rng = random.Random(wid)
    for i in range(n_commits):
        name = f"rid_w{wid}_{i}.parquet"
        _write_parquet_leaf(table, name, rng.randint(1, 9))
        for _ in range(500):
            try:
                txnlog.commit(
                    table, [name], [], txnlog.current_version(table), op="APPEND"
                )
                break
            except txnlog.TxnConflict:
                continue
        else:
            raise AssertionError(f"rid appender {wid} starved")
    q.put(("rid", wid, n_commits))


def test_mp_rowid_allocation_is_disjoint_under_real_races(tmp_path):
    """Four forked appenders on a row-tracking table: the (base, base +
    rows) ranges of every live file must tile WITHOUT overlap and stay
    under the final high-water mark — the property the commit-time
    atomic assignment exists for. Genuine process races, no
    monkeypatching."""
    import pyarrow.parquet as pq

    table = _mk_table(tmp_path)
    txnlog.txn_set_property(table, "rowids.next", "0")
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_rid_appender, args=(table, w, 6, q)) for w in range(4)
    ]
    _run(procs, q, 4)
    live = txnlog.Snapshot.at(table, txnlog.current_version(table)).live
    nxt = int(txnlog.table_props(table)["rowids.next"])
    spans = []
    total_rows = 0
    for n, d in live.items():
        assert d.get("rid") is not None, f"{n} missing base"
        rows = pq.read_metadata(os.path.join(table, "data", n)).num_rows
        spans.append((d["rid"], d["rid"] + rows))
        total_rows += rows
    spans.sort()
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert a1 <= b0, f"overlap: {spans}"
    assert spans[-1][1] <= nxt
    assert nxt == total_rows  # append-only: allocation exactly covers rows


def _cleaner(table, rounds, q):
    deleted = 0
    for _ in range(rounds):
        txnlog.write_checkpoint(table)
        deleted += txnlog.txn_cleanup_log(table)
    q.put(("cleanup", os.getpid(), deleted))


def test_mp_log_cleanup_racing_writers_vacuum_readers(tmp_path):
    """Log retention under the full zoo: 2 appenders + compactor +
    vacuum + 2 readers + a checkpoint-then-cleanup loop. Invariants
    after the dust settles: content preserved exactly, every version at
    or above the horizon resolves, the retained log is contiguous from
    log_floor, and nothing above the horizon was truncated."""
    table = _mk_table(tmp_path)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = (
        [ctx.Process(target=_appender, args=(table, w, 10, q)) for w in range(2)]
        + [
            ctx.Process(target=_compactor, args=(table, 10, q)),
            ctx.Process(target=_vacuumer, args=(table, 2, 20, q)),
            ctx.Process(target=_cleaner, args=(table, 20, q)),
        ]
        + [ctx.Process(target=_reader, args=(table, 15, q)) for _ in range(2)]
    )
    _run(procs, q, 7)

    expected = sorted(f"leaf_w{w}_{i}.json" for w in range(2) for i in range(10))
    assert _expand(table) == expected
    cur = txnlog.current_version(table)
    horizon = txnlog.vacuum_horizon(table)
    floor = txnlog.log_floor(table)
    assert floor <= horizon
    for v in range(floor, cur + 1):
        assert os.path.exists(
            os.path.join(table, "_txn_log", f"{v:08d}.json")
        ), f"hole at retained version {v}"
    for v in range(horizon, cur + 1):
        for f in txnlog.snapshot_files(table, v):
            assert os.path.exists(f)
    # a fresh vacuum AFTER the races still deletes nothing it must not:
    # every surviving version's expansion is intact
    txnlog.vacuum(table, retain_versions=1)
    assert _expand(table) == expected
