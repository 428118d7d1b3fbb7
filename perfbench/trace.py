"""Layer tracing for the traced run, from outside the program.

``Tracer.install`` replaces the public functions (and the public methods
of public classes) of every ``dbimport_spark`` module of the traced layers
with wrappers that record a span per call, and ``uninstall`` puts the
originals back. Names bound elsewhere by ``from module import name`` are
replaced too, so a call is seen whichever way it is reached.

Spans are kept in memory as ``[id, parent, op, name, layer, module, fn,
start, end, error]`` and written out when the run ends. Each benchmark op
is the root span of its tree and tags the Spark jobs it launches with
``perfbench-op-<n>`` (one tag per op keeps the tagging cost off every
call). Inside an op, a job belongs to the innermost span open at the
job's submission time, read from the application status store.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import time

# layer → modules imported before wrapping; every other already-imported
# module under the same package is wrapped as well
LAYERS = {
    "cli": ("dbimport_spark.__main__",),
    "sources": ("dbimport_spark.sources.csv", "dbimport_spark.sources.compression"),
    "schema": ("dbimport_spark.schema.infer", "dbimport_spark.schema.mapping"),
    "operators": (
        "dbimport_spark.operators.coerce",
        "dbimport_spark.operators.dedup",
        "dbimport_spark.operators.merge",
        "dbimport_spark.operators.errors",
        "dbimport_spark.operators.order",
    ),
    "pipeline": ("dbimport_spark.pipeline",),
    "txnlog": ("dbimport_spark.txnlog",),
}
_PACKAGE = "dbimport_spark."
OP_TAG = "perfbench-op-"

ID, PARENT, OP, NAME, LAYER, MODULE, FN, T0, T1, ERR = range(10)


def _layer_of(module_name: str):
    rest = module_name[len(_PACKAGE):]
    if rest == "__main__":
        return "cli", "cli"
    head = rest.split(".")[0]
    return (head, rest) if head in LAYERS else (None, None)


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op = None
        self.commit_sizes: list[tuple[int, int]] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- install
    def install(self) -> None:
        for mods in LAYERS.values():
            for m in mods:
                importlib.import_module(m)
        wrapped: dict[int, object] = {}
        for name, mod in list(sys.modules.items()):
            layer, short = _layer_of(name) if name.startswith(_PACKAGE) else (None, None)
            if layer is None or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == name:
                    w = self._wrap(obj, layer, short, obj.__qualname__)
                    wrapped[id(obj)] = (obj, w)
                    self._patch(mod, attr, w)
                elif (
                    inspect.isclass(obj)
                    and obj.__module__ == name
                    and not issubclass(obj, BaseException)
                ):
                    for m_name, m_obj in list(vars(obj).items()):
                        if not m_name.startswith("_") and inspect.isfunction(m_obj):
                            w = self._wrap(m_obj, layer, short, m_obj.__qualname__)
                            self._patch(obj, m_name, w)
        # names bound by ``from module import fn`` elsewhere in the package
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == "dbimport_spark" or name.startswith(_PACKAGE)):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patch(mod, attr, hit[1])

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, fn, layer: str, module: str, qualname: str):
        name = f"{module}.{qualname}"
        tracer = self
        commit_args = None
        if name == "txnlog.commit":
            sig = inspect.signature(fn)

            def commit_args(a, k):
                b = sig.bind_partial(*a, **k).arguments
                return len(b.get("added", ())), len(b.get("removed", ()))

        @functools.wraps(fn)
        def wrapper(*a, **k):
            if tracer.op is None:
                return fn(*a, **k)
            if commit_args is not None:
                tracer.commit_sizes.append(commit_args(a, k))
            span = tracer._open(name, layer, module, qualname)
            try:
                return fn(*a, **k)
            except BaseException as exc:
                span[ERR] = type(exc).__name__
                raise
            finally:
                tracer._close(span)

        return wrapper

    # --------------------------------------------------------------- spans
    def _open(self, name, layer, module, fn) -> list:
        span = [len(self.spans), self.stack[-1] if self.stack else None, self.op,
                name, layer, module, fn, time.time(), None, None]
        self.spans.append(span)
        self.stack.append(span[ID])
        return span

    def _close(self, span) -> None:
        span[T1] = time.time()
        self.stack.pop()

    @contextlib.contextmanager
    def op_span(self, op_index: int, kind: str):
        """Root span of one benchmark op; tags the op's Spark jobs."""
        sc = self.spark.sparkContext
        tag = f"{OP_TAG}{op_index}"
        sc.addJobTag(tag)
        self.op = op_index
        span = self._open(f"op.{kind}", "op", "op", kind)
        try:
            yield span
        finally:
            self._close(span)
            self.op = None
            sc.removeJobTag(tag)

    # ---------------------------------------------------------------- jobs
    def jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """Finished jobs of the traced ops from the status store:
        ``{id, op, tasks, start, end}`` with epoch-second times."""
        store = self.spark._jsc.sc().statusStore()
        deadline = time.time() + timeout_s
        while True:
            out, pending = [], 0
            jl = store.jobsList(None)
            for i in range(jl.size()):
                j = jl.apply(i)
                tags = [t for t in j.jobTags().toList().mkString("\n").split("\n") if t.startswith(OP_TAG)]
                if not tags:
                    continue
                if j.completionTime().isEmpty():
                    pending += 1
                    continue
                out.append({
                    "id": int(j.jobId()),
                    "op": int(tags[0][len(OP_TAG):]),
                    "tasks": int(j.numTasks()),
                    "start": j.submissionTime().get().getTime() / 1000.0,
                    "end": j.completionTime().get().getTime() / 1000.0,
                })
            if not pending or time.time() > deadline:
                return sorted(out, key=lambda d: d["id"])
            time.sleep(0.2)

    def write(self, path: str, jobs: list[dict]) -> None:
        keys = ("id", "parent", "op", "name", "layer", "module", "fn", "start", "end", "error")
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(zip(keys, s))) + "\n")
            for j in jobs:
                fh.write(json.dumps({"job": j}) + "\n")


# ------------------------------------------------------------------ analysis

def _union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Analysis:
    """Self times, call counts and job attribution over a traced pass."""

    def __init__(self, spans: list[list], jobs: list[dict]) -> None:
        self.spans = spans
        self.roots = [s for s in spans if s[PARENT] is None]
        self.n_ops = len(self.roots)
        child_time = [0.0] * len(spans)
        self.depth = [0] * len(spans)
        for s in spans:  # parents precede children
            if s[PARENT] is not None:
                child_time[s[PARENT]] += s[T1] - s[T0]
                self.depth[s[ID]] = self.depth[s[PARENT]] + 1
        self.self_s = [s[T1] - s[T0] - child_time[s[ID]] for s in spans]
        by_op: dict[int, list] = {}
        for s in spans:
            by_op.setdefault(s[OP], []).append(s)
        self.jobs = jobs
        self.job_span = {}
        for j in jobs:
            t = j["start"] + 0.0005  # the store truncates to milliseconds
            best = None
            for s in by_op.get(j["op"], ()):
                if s[T0] <= t <= s[T1] and (best is None or self.depth[s[ID]] > self.depth[best[ID]]):
                    best = s
            if best is None:  # submitted at the root's edge
                best = next(s for s in by_op[j["op"]] if s[PARENT] is None)
            self.job_span[j["id"]] = best

    def per_op(self, x: float) -> float:
        return x / self.n_ops if self.n_ops else 0.0

    def self_where(self, pred) -> float:
        return sum(self.self_s[s[ID]] for s in self.spans if pred(s))

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[NAME] == name)

    def self_per_call(self, name: str) -> float:
        n = self.calls(name)
        return self.self_where(lambda s: s[NAME] == name) / n if n else 0.0

    def jobs_where(self, pred) -> int:
        return sum(1 for j in self.jobs if pred(self.job_span[j["id"]]))

    def jobs_under(self, name: str) -> int:
        """Jobs launched inside any span called ``name``, counted once."""
        n = 0
        for j in self.jobs:
            s = self.job_span[j["id"]]
            while s is not None:
                if s[NAME] == name:
                    n += 1
                    break
                s = self.spans[s[PARENT]] if s[PARENT] is not None else None
        return n

    def op_walls(self) -> list[float]:
        return [r[T1] - r[T0] for r in self.roots]

    def job_time(self) -> float:
        """Per op, the union of its jobs' intervals clipped to the op."""
        total = 0.0
        for r in self.roots:
            iv = [(max(j["start"], r[T0]), min(j["end"], r[T1])) for j in self.jobs if j["op"] == r[OP]]
            total += _union([i for i in iv if i[1] > i[0]])
        return total
