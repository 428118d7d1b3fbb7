"""Round-9 (r8 verdict item 7): property-based adversarial pass over the
full MERGE INTO clause lattice (operators/merge.merge_into) — random
ORDERED clause sets x conditions x partial assignments x NULL keys x
duplicate-key sources, checked against an independent pure-Python model
of ANSI/Delta MERGE semantics (first-match-wins per branch, unassigned
columns keep-target/NULL-fill, unmatched-source drop, multi-match
RAISES). The txnlog protocol machines found real bugs twice; this is the
same discipline pointed at the r8 DML surface.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbimport_spark.operators.merge import merge_into

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1

# condition pool per branch: (sql over t/s aliases, python evaluator)
MATCHED_CONDS = [
    (None, lambda t, s: True),
    ("t.val < 0", lambda t, s: t["val"] is not None and t["val"] < 0),
    ("s.val % 2 = 0", lambda t, s: s["val"] is not None and s["val"] % 2 == 0),
    ("s.val > t.val", lambda t, s: (
        s["val"] is not None and t["val"] is not None and s["val"] > t["val"]
    )),
]
INSERT_CONDS = [
    (None, lambda t, s: True),
    ("s.val % 3 = 0", lambda t, s: s["val"] is not None and s["val"] % 3 == 0),
]
BY_SOURCE_CONDS = [
    (None, lambda t, s: True),
    ("t.val < 0", lambda t, s: t["val"] is not None and t["val"] < 0),
]

# assignments: (spark form, python evaluator) — partial forms pin the
# keep-target / NULL-fill rules
ASSIGNS = [
    ("all", lambda t, s: {"k": s["k"], "val": s["val"]}),
    ({"val": "s.val + 100"}, lambda t, s: {
        "val": None if s["val"] is None else s["val"] + 100
    }),
    ({"val": "t.val + 1"}, lambda t, s: {
        "val": None if (t is None or t["val"] is None) else t["val"] + 1
    }),
]
BY_SOURCE_ASSIGNS = [
    ({"val": "t.val * 2"}, lambda t, s: {
        "val": None if t["val"] is None else t["val"] * 2
    }),
]


def _clause_strategy():
    matched = st.tuples(
        st.sampled_from(["matched_update", "matched_delete"]),
        st.sampled_from(range(len(MATCHED_CONDS))),
        st.sampled_from(range(len(ASSIGNS))),
    )
    insert = st.tuples(
        st.just("not_matched_insert"),
        st.sampled_from(range(len(INSERT_CONDS))),
        st.sampled_from(range(len(ASSIGNS))),
    )
    by_source = st.tuples(
        st.sampled_from(
            ["not_matched_by_source_update", "not_matched_by_source_delete"]
        ),
        st.sampled_from(range(len(BY_SOURCE_CONDS))),
        st.sampled_from(range(len(BY_SOURCE_ASSIGNS))),
    )
    return st.lists(st.one_of(matched, insert, by_source), min_size=1, max_size=5)


def _conds_for(kind):
    if kind.startswith("matched"):
        return MATCHED_CONDS
    if kind == "not_matched_insert":
        return INSERT_CONDS
    return BY_SOURCE_CONDS


def _assigns_for(kind):
    if kind.startswith("not_matched_by_source"):
        return BY_SOURCE_ASSIGNS
    return ASSIGNS


def _model(target, source, clauses):
    """Pure-Python MERGE: returns the expected multiset of (k, val)."""
    out = []
    matched_source_keys = set()
    # Delta parity: multi-match only raises when the merge carries
    # MATCHED clauses; an insert-only merge keeps the target row once
    # and the matched source rows are no-ops.
    has_matched = any(kind.startswith("matched") for kind, _, _ in clauses)
    for t in target:
        matches = [s for s in source if t["k"] is not None and s["k"] == t["k"]]
        if len(matches) > 1 and has_matched:
            return None  # multi-match: merge_into must raise
        s = matches[0] if matches else None
        if s is not None:
            matched_source_keys.add(s["k"])
        branch = "matched" if s is not None else "not_matched_by_source"
        applied = False
        for kind, ci, ai in clauses:
            if not kind.startswith(branch):
                continue
            if not _conds_for(kind)[ci][1](t, s):
                continue
            applied = True
            if kind.endswith("_delete"):
                pass  # dropped
            else:
                vals = _assigns_for(kind)[ai][1](t, s)
                out.append(
                    {"k": vals.get("k", t["k"]), "val": vals.get("val", t["val"])}
                )
            break
        if not applied:
            out.append(dict(t))
    for s in source:
        if s["k"] is not None and s["k"] in matched_source_keys:
            continue
        if s["k"] is not None and any(
            t["k"] == s["k"] for t in target
        ):
            continue  # matched row already handled above
        for kind, ci, ai in clauses:
            if kind != "not_matched_insert":
                continue
            if not _conds_for(kind)[ci][1](None, s):
                continue
            vals = _assigns_for(kind)[ai][1](None, s)
            out.append({"k": vals.get("k"), "val": vals.get("val")})
            break
        # no matching insert clause: unmatched source rows drop
    return sorted(
        ((r["k"] is None, r["k"]), (r["val"] is None, r["val"])) for r in out
    )


_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=9)),
    ),
    min_size=0,
    max_size=6,
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(target=_rows, source=_rows, clause_spec=_clause_strategy())
def test_merge_into_matches_model(spark, target, source, clause_spec):
    # target keys unique and non-null keys in source may duplicate —
    # duplicates flip the model to the expected-raise arm
    tgt = [
        {"k": k, "val": v}
        for i, (k, v) in enumerate(target)
        if k is None or k not in [kk for kk, _ in target[:i]]
    ]
    src = [{"k": k, "val": v} for k, v in source]
    clauses = [
        (kind, _conds_for(kind)[ci][0])
        if kind.endswith("_delete")
        else (kind, _conds_for(kind)[ci][0], _assigns_for(kind)[ai][0])
        for kind, ci, ai in clause_spec
    ]
    tdf = spark.createDataFrame(
        [(r["k"], r["val"]) for r in tgt] or [(None, None)], "k long, val long"
    )
    if not tgt:
        tdf = tdf.limit(0)
    sdf = spark.createDataFrame(
        [(r["k"], r["val"]) for r in src] or [(None, None)], "k long, val long"
    )
    if not src:
        sdf = sdf.limit(0)
    expected = _model(tgt, src, clause_spec)
    if expected is None:
        with pytest.raises(Exception, match="multiple source rows"):
            merge_into(tdf, sdf, ["k"], clauses).collect()
        return
    got = sorted(
        ((r.k is None, r.k), (r.val is None, r.val))
        for r in merge_into(tdf, sdf, ["k"], clauses).collect()
    )
    assert got == expected, (
        f"clauses={clauses}\ntarget={tgt}\nsource={src}\n"
        f"got={got}\nexpected={expected}"
    )
