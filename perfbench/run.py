"""Import-and-merge benchmark of ``dbimport_spark``.

    python3 perfbench/run.py --workload csv_import --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process runs one closed-loop
client thread against a ``local[<cores>]`` Spark session; every op is
checked against a pure-Python oracle (``perfbench/oracle.py``).

Set-up starts the session (JVM, Python workers), prepares the workload's
inputs and seeded table in a fresh directory (a *replica*) and runs its
warm-up ops. With ``--trace 0`` that replica then runs whole cycles of
ops until their summed time reaches ``--seconds`` and at least the
workload's minimum op count, and the end-to-end metrics are printed. With
``--trace 1`` two warmed replicas run the same fixed sequence of the
minimum length, op by op in turn, one untraced and one traced (see
``perfbench/trace.py``); the per-layer metrics and the tracing overhead
are printed and the spans are written out.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a fuller record of the
run (sizes, canary readings, every op's latency) goes to
``.perfbench/<workload>-seed<n>-trace<t>.json``. Scratch files live under
``.perfbench/`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

OUT_DIR = ".perfbench"

# End-to-end metrics of an untraced run, in the order printed.
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "stored_bytes_per_live_byte": "ratio",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
# Those BENCHMARK.json compares, which the result line carries. Over runs
# of the same code on a shared 4-core host, the quartile spread of the
# latency metrics passed 0.25 of their median whenever the CPU other
# guests took from the host changed between runs, and peak RSS follows
# the JVM's heap sizing more than the program (spreads in README.md). The failed fraction is 0 on a correct program;
# the result line carries it as ``failed`` and ``attempted``.
COMPARED = ("setup_s", "op_cpu_s", "stored_bytes_per_live_byte")


class Loop:
    """Closed-loop client of one replica: runs its ops one at a time,
    timing each and checking it against the oracle between ops."""

    def __init__(self, rep, tracer=None, on_op=None) -> None:
        self.rep, self.tracer, self.on_op = rep, tracer, on_op
        self.latencies, self.kinds, self.problems = [], [], []
        self.cpu = []  # CPU seconds of each op: this process and its children (JVM, Python workers)
        self.rows = self.failed = 0
        self.stored_per_live = None

    def step(self, stored_at: int) -> None:
        rep = self.rep
        op = rep.next_op()
        err = None
        cpu0 = harness.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.op_span(op.index, op.kind):
                    result = rep.execute(op)
            else:
                result = rep.execute(op)
        except Exception as exc:  # an op that raises is a failed op; keep measuring
            err = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
        self.latencies.append(time.perf_counter() - t0)
        self.cpu.append(harness.tree_cpu_s(os.getpid()) - cpu0)
        self.kinds.append(op.kind)
        if err is not None:
            rep.broken = True
            self.failed += 1
            self.problems.append(f"op {op.index} {op.kind}: {err}")
        else:
            out = rep.verify(op, result)
            self.rows += out.rows
            if out.problems:
                self.failed += 1
                self.problems += [f"op {op.index} {op.kind}: {p}" for p in out.problems]
            if self.on_op is not None:
                self.on_op(op, out)
        if len(self.latencies) == stored_at:  # a fixed point of the sequence, whatever the speed
            self.stored_per_live = rep.stored_per_live()


def run_ops(rep, n_min: int, seconds: float | None) -> Loop:
    """Runs exactly ``n_min`` ops when ``seconds`` is None, else whole
    cycles of op kinds until the ops' summed time reaches ``seconds`` and
    at least ``n_min`` ops ran, so every run has the same mix of kinds."""
    loop = Loop(rep)
    cycle = len(rep.CYCLE)
    lat = loop.latencies
    while len(lat) < n_min or (seconds is not None and (sum(lat) < seconds or len(lat) % cycle)):
        loop.step(n_min)
    return loop


def end_to_end(setup_s: float, loop: Loop, tail: dict, peak_rss_mb: float) -> dict:
    lat = loop.latencies
    main = [s for k, s in zip(loop.kinds, lat) if k == loop.rep.MAIN_KIND]
    return {
        "setup_s": setup_s,
        "op_cpu_s": sum(loop.cpu) / len(lat),
        "stored_bytes_per_live_byte": loop.stored_per_live,
        "op_p50_s": harness.median(main),
        "rows_per_s": loop.rows / sum(lat),
        "op_tail_s": tail["value"],
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(an, extra: dict) -> dict:
    """Per-layer metrics of one traced pass (``an`` is a trace.Analysis)."""
    from perfbench.trace import ERR, LAYER, MODULE, NAME

    po = an.per_op
    job_s = an.job_time()
    wall = sum(an.op_walls())
    m = {
        "spark.jobs_per_op": po(len(an.jobs)),
        "spark.tasks_per_op": po(sum(j["tasks"] for j in an.jobs)),
        "spark.job_s_per_op": po(job_s),
        "spark.driver_gap_s_per_op": po(wall - job_s),
    }
    for layer in ("cli", "sources"):
        m[f"{layer}.self_s_per_op"] = po(an.self_where(lambda s, L=layer: s[LAYER] == L))
        m[f"{layer}.spark_jobs_per_op"] = po(an.jobs_where(lambda s, L=layer: s[LAYER] == L))
    m["schema.infer_schema.self_s"] = an.self_per_call("schema.infer.infer_schema")
    m["schema.infer_schema.calls"] = an.calls("schema.infer.infer_schema")
    m["schema.spark_jobs_per_op"] = po(an.jobs_where(lambda s: s[LAYER] == "schema"))
    for mod in ("coerce", "dedup", "merge", "errors"):
        name = f"operators.{mod}"
        m[f"{name}.self_s_per_op"] = po(an.self_where(lambda s, N=name: s[MODULE] == N))
    m["operators.coerce.valid_ratio"] = extra["valid_ratio"]
    m["operators.dedup.collapse_ratio"] = extra["collapse_ratio"]
    m["pipeline.run_import.self_s_per_op"] = po(an.self_where(lambda s: s[NAME] == "pipeline.run_import"))
    m["pipeline.run_import.spark_jobs_per_op"] = po(an.jobs_where(lambda s: s[NAME] == "pipeline.run_import"))
    for fn in ("current_version", "table_props", "snapshot_files", "read_snapshot"):
        m[f"txnlog.{fn}.calls_per_op"] = po(an.calls(f"txnlog.{fn}"))
    m["txnlog.spark_jobs_per_op"] = po(an.jobs_where(lambda s: s[LAYER] == "txnlog"))
    commits = an.calls("txnlog.commit")
    conflicts = sum(1 for s in an.spans if s[NAME] == "txnlog.commit" and s[ERR] == "TxnConflict")
    m["txnlog.commit.self_s"] = an.self_per_call("txnlog.commit")
    m["txnlog.commit.conflict_ratio"] = conflicts / commits if commits else 0.0
    m["txnlog.write_checkpoint.calls"] = an.calls("txnlog.write_checkpoint")
    m["txnlog.write_checkpoint.self_s"] = an.self_per_call("txnlog.write_checkpoint")
    m["txnlog.bytes_written_per_source_row"] = extra["bytes_per_source_row"]
    sizes = extra["commit_sizes"]
    m["txnlog.files_added_per_commit"] = sum(a for a, _ in sizes) / len(sizes) if sizes else 0.0
    m["txnlog.files_removed_per_commit"] = sum(r for _, r in sizes) / len(sizes) if sizes else 0.0
    for fn in ("txn_upsert", "txn_append", "txn_delete_dv", "read_snapshot",
               "read_snapshot_skipping", "read_changes", "txn_append_stats"):
        m[f"txnlog.{fn}.self_s"] = an.self_per_call(f"txnlog.{fn}")
    rs_calls = an.calls("txnlog.read_snapshot")
    m["txnlog.read_snapshot.spark_jobs_per_call"] = (
        an.jobs_under("txnlog.read_snapshot") / rs_calls if rs_calls else 0.0
    )
    m["txnlog.scan_files_ratio"] = extra["scan_files_ratio"]
    m["txnlog.files_live"] = extra["files_live"]
    m["trace.spans_per_op"] = po(len(an.spans) - an.n_ops)
    m["trace.overhead_s"] = extra["overhead_s"]
    m["trace.overhead_frac"] = extra["overhead_s"] / extra["untraced_s"]
    return m


PER_LAYER_UNITS_BY_SUFFIX = (
    ("_ratio", "ratio"), ("_frac", "ratio"), ("calls_per_op", "count"),
    ("jobs_per_op", "count"), ("tasks_per_op", "count"), ("jobs_per_call", "count"),
    ("spans_per_op", "count"), (".calls", "count"), ("files_live", "count"),
    ("_per_commit", "count"), ("per_source_row", "B/row"), ("_s_per_op", "s"),
    ("_s", "s"),
)


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS_BY_SUFFIX:
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-wrong", action="store_true",
                   help="self-check: corrupt one expectation, which must be reported as a failure")
    args = p.parse_args(argv)

    t_start = time.perf_counter()
    import dbimport_spark  # noqa: F401  (fails fast outside a checkout)

    cls = WORKLOADS[args.workload]
    sizes = cls.SIZES
    n_min = cls.MIN_OPS
    sizing = harness.machine()
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.abspath(os.path.join(OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}"))
    spark = None
    try:
        spark = harness.start_session(work, sizing)
        jvm_up_s = time.perf_counter() - t_start
        harness.warm_python_workers(spark, sizing["cpus"])
        session_s = time.perf_counter() - t_start

        runners, prep_s = [], []
        for k in range(2 if args.trace else 1):
            rep = cls(spark, os.path.join(work, f"rep{k}"), args.seed, sizes)
            t0 = time.perf_counter()
            rep.prepare()
            prep_s.append(time.perf_counter() - t0)
            runners.append(rep)
        warm = [run_ops(r, r.WARMUP_OPS, None) for r in runners]
        warmup_s = sum(warm[-1].latencies)
        setup_s = session_s + prep_s[-1] + warmup_s
        if args.plant_wrong:
            _plant_wrong(runners[-1])

        canaries = harness.Canaries(spark, sizing["cpus"])
        canary_before = canaries.reading(first=True)
        record = {}
        steal0 = harness.cpu_jiffies()
        if not args.trace:
            rss = harness.PeakRss([os.getpid(), harness.jvm_pid(spark)])
            rss.reset(spark)
            loop = run_ops(runners[-1], n_min, args.seconds)
            record["op_tail"] = harness.tail(loop.latencies)
            metrics = end_to_end(setup_s, loop, record["op_tail"], rss.peak_mb())
            loops = [loop]
        else:
            metrics, loops = _traced(spark, runners, n_min, args, record)
        steal1 = harness.cpu_jiffies()
        canary_after = canaries.reading()
        record["cpu_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        problems = [p for lp in warm + loops for p in lp.problems]
        failed = sum(lp.failed for lp in warm + loops)
        attempted = sum(len(lp.latencies) for lp in warm + loops)
        for r in runners:
            final = r.final_problems()
            problems += final
            failed = min(attempted, failed + len(final))

        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "loop": "closed, 1 client thread",
            "machine": sizing, "sizes": sizes, "min_ops": n_min,
            "counts": runners[-1].counts(),
            "setup": {"jvm_up_s": jvm_up_s, "session_s": session_s, "prepare_s": prep_s, "warmup_s": warmup_s},
            "canaries": {"before": canary_before, "after": canary_after,
                         "jvm_rows": canaries.jvm_rows, "py_rows": canaries.py_rows},
            "ops": [{"kind": k, "s": round(s, 6), "cpu_s": round(c, 2)}
                    for lp in loops for k, s, c in zip(lp.kinds, lp.latencies, lp.cpu)],
            "failed_op_frac": failed / attempted,
            "problems": problems[:50],
            "metrics": metrics, **record,
        }
        path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = END_TO_END_UNITS if not args.trace else {k: unit_of(k) for k in metrics}
    for p_ in problems[:20]:
        print(f"FAILED {p_}")
    print(f"{args.workload} seed={args.seed} trace={args.trace} attempted={attempted} "
          f"failed={failed} failed_op_frac = {failed / attempted:.4g} ratio")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    if not args.trace:
        tail = record["op_tail"]
        print(f"op_tail_s is p{tail['percentile']:g} of {tail['samples']} ops, {tail['beyond']} beyond it")
    print(f"canaries jvm_s/py_s before={canary_before} after={canary_after}; "
          f"cpu steal {record['cpu_steal_frac']:.3f} of the timed ops; record: {path}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in (metrics if args.trace else COMPARED)},
    }))
    return 0


def _traced(spark, runners, n_min: int, args, record: dict):
    """The same ``n_min`` ops on two replicas, interleaved op by op (ABBA)
    so both see the same JVM warm-up: untraced on the first, traced on
    the second. The wrappers stay installed for both; they record only
    inside a traced op."""
    from perfbench.trace import ID, OP, T0, T1, Analysis, Tracer

    plain, traced = runners
    tracer = Tracer(spark)
    lake = hasattr(traced, "live_files")
    seen = {"stats": [], "source_rows": 0, "scan": []}
    bytes_before = harness.dir_bytes(traced.dir)

    def on_op(op, out):
        seen["source_rows"] += op.source_rows
        if out.stats is not None:
            seen["stats"].append(out.stats)
        if op.kind == "lookup":
            seen["scan"].append(len(traced.last_scan.inputFiles()) / len(traced.live_files()))

    untraced, loop = Loop(plain), Loop(traced, tracer, on_op)
    tracer.install()
    try:
        for i in range(n_min):
            for lp in (untraced, loop) if i % 2 == 0 else (loop, untraced):
                lp.step(n_min)
    finally:
        tracer.uninstall()
    jobs = tracer.jobs()
    an = Analysis(tracer.spans, jobs)
    spans_path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-spans.jsonl")
    tracer.write(spans_path, jobs)
    stats, scan = seen["stats"], seen["scan"]
    found = sum(s["found"] for s in stats)
    valid = sum(s["valid"] for s in stats)
    written = harness.dir_bytes(traced.dir) - bytes_before
    traced_s, untraced_s = sum(loop.latencies), sum(untraced.latencies)
    extra = {
        "valid_ratio": valid / found if found else 0.0,
        "collapse_ratio": sum(s["duplicate"] for s in stats) / valid if valid else 0.0,
        "bytes_per_source_row": written / seen["source_rows"] if lake and seen["source_rows"] else 0.0,
        "commit_sizes": tracer.commit_sizes,
        "scan_files_ratio": sum(scan) / len(scan) if scan else 0.0,
        "files_live": len(traced.live_files()) if lake else 0,
        "overhead_s": traced_s - untraced_s,
        "untraced_s": untraced_s,
    }
    span_self = {}
    for sp in an.spans:
        span_self[sp[OP]] = span_self.get(sp[OP], 0.0) + an.self_s[sp[ID]]
    record["trace"] = {
        "spans_file": spans_path,
        "untraced_pass_s": untraced_s,
        "traced_pass_s": traced_s,
        "jobs": len(jobs),
        # per op: latency timed by the loop, root span wall, sum of the
        # self times of every span in the op's tree
        "op_wall_vs_self_sum": [
            [lat, r[T1] - r[T0], span_self[r[OP]]] for lat, r in zip(loop.latencies, an.roots)
        ],
    }
    return per_layer(an, extra), [untraced, loop]


def _plant_wrong(rep) -> None:
    """Corrupt the expectation of the replica's next op."""
    op = rep.next_op()
    if isinstance(op.expect, dict):
        op.expect = dict(op.expect, found=op.expect["found"] + 1)
    elif isinstance(op.expect, list):
        op.expect = op.expect + [op.expect[0] if op.expect else ("planted",)]
    else:
        op.expect = op.expect + 1
    rep.pending.insert(0, op)


if __name__ == "__main__":
    sys.exit(main())
