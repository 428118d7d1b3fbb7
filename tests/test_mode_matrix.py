"""Full ImportMode × DuplicateMode × update_with_null_values golden matrix.

Every valid dispatch cell of pipeline.run_import (the Spark re-expression
of DbImportWorker.java:426-581) is checked against a DuckDB golden that
implements the reference semantics independently in SQL:

  * source: FIXTURES.md F3 — 8 rows, dup keys {1,1,2,2,3,3,4,5}, second
    occurrence of each dup has NULL varchar and a distinct clob;
  * target: 6 prefilled rows with dup keys {1,1,3,3,999,999} and
    alternating NULL varchar (the DbImportTest_HSQL.java:1010-1102 shape),
    so UPDATE_FIRST / MAKE_UNIQUE actually have duplicate target rows to
    discriminate (golden 6 → 3 for MAKE_UNIQUE).

The golden SQL is assembled per cell from the same orthogonal decisions
the dispatcher takes: source dedup (none / drop-first / join-last-wins
± IGNORE NULLS), target pre-dedup (MAKE_UNIQUE drop/join), then the merge
mode (CLEARINSERT / INSERT / UPDATE / UPSERT with the reference's
NO_CHECK & CKECK_SOURCE_ONLY special cases). Each cell's statistics
(found / valid / invalid / duplicate / deleted / inserted / updated) are
checked against counts over the same golden source and target.
"""

import duckdb
import pytest

from dbimport_spark.config import (
    ColumnMapping,
    DuplicateMode,
    ImportDefinition,
    ImportMode,
    KeyColumn,
)
from dbimport_spark.pipeline import run_import
from dbimport_spark.sources.csv import CsvSource

pytestmark = pytest.mark.slow  # opt in: SPARK_GRAFT_FULL_TESTS=1

F3_CSV = (
    "column integer; column_double; column_varchar; column_clob\n"
    "1; 123.456; aBcDeF123_1; aBcDeF1234\n"
    "1; 123.456; ; aBcDeF1235_1\n"
    "2; 123.456; aBcDeF123_2; aBcDeF1234\n"
    "2; 123.456; ; aBcDeF1235_2\n"
    "3; 123.456; aBcDeF123_3; aBcDeF1234\n"
    "3; 123.456; ; aBcDeF1235_3\n"
    "4; 123.456; ; aBcDeF1235_4\n"
    "5; 123.456; aBcDeF123_5; aBcDeF1234\n"
)

# (id, column_integer, column_double, column_varchar, column_clob)
TARGET_ROWS = [
    (1, 1, 1.5, "<T>_1", "c1"),
    (2, 1, None, None, "c2"),
    (3, 3, 2.5, "<T>_3", None),
    (4, 3, None, "<T>_3b", "c4"),
    (5, 999, 9.9, "<T>_999", "c9"),
    (6, 999, None, None, None),
]

# F3 rows as DuckDB literals, with the 1-based file order.
SRC_ROWS = [
    (1, 123.456, "aBcDeF123_1", "aBcDeF1234", 1),
    (1, 123.456, None, "aBcDeF1235_1", 2),
    (2, 123.456, "aBcDeF123_2", "aBcDeF1234", 3),
    (2, 123.456, None, "aBcDeF1235_2", 4),
    (3, 123.456, "aBcDeF123_3", "aBcDeF1234", 5),
    (3, 123.456, None, "aBcDeF1235_3", 6),
    (4, 123.456, None, "aBcDeF1235_4", 7),
    (5, 123.456, "aBcDeF123_5", "aBcDeF1234", 8),
]

TCOLS = ["id", "column_integer", "column_double", "column_varchar", "column_clob"]
VCOLS = ["column_double", "column_varchar", "column_clob"]  # non-key value cols


def _duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE src (column_integer INTEGER, column_double DOUBLE, "
        "column_varchar VARCHAR, column_clob VARCHAR, ord INTEGER)"
    )
    con.executemany("INSERT INTO src VALUES (?,?,?,?,?)", SRC_ROWS)
    con.execute(
        "CREATE TABLE tgt (id BIGINT, column_integer INTEGER, column_double DOUBLE, "
        "column_varchar VARCHAR, column_clob VARCHAR)"
    )
    con.executemany("INSERT INTO tgt VALUES (?,?,?,?,?)", TARGET_ROWS)
    return con


def _prelude(dmode: DuplicateMode, uwn: bool) -> str:
    """`WITH ded AS (deduped source), wt AS (working target)`."""
    ign = "" if uwn else " IGNORE NULLS"
    win = (
        "PARTITION BY column_integer ORDER BY {o} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    )

    # --- source dedup → `ded` (always carries a NULL id: the F3 mapping
    # maps the target's id column to no source column) ------------------
    if dmode.source_dedup is None:
        ded = (
            "SELECT CAST(NULL AS BIGINT) AS id, column_integer, column_double, "
            "column_varchar, column_clob FROM src"
        )
    elif dmode.source_dedup == "drop":
        ded = (
            "SELECT CAST(NULL AS BIGINT) AS id, column_integer, column_double, "
            "column_varchar, column_clob FROM src "
            "QUALIFY row_number() OVER (PARTITION BY column_integer ORDER BY ord) = 1"
        )
    else:  # join: later occurrence wins per column (± null skipping)
        lv = ", ".join(f"last_value({c}{ign}) OVER w AS {c}" for c in VCOLS)
        ded = (
            f"SELECT DISTINCT CAST(NULL AS BIGINT) AS id, column_integer, {lv} "
            f"FROM src WINDOW w AS ({win.format(o='ord')})"
        )

    # --- MAKE_UNIQUE target pre-dedup → `wt` ----------------------------
    if dmode.make_unique_target:
        if dmode.source_dedup == "drop":
            wt = (
                "SELECT * FROM tgt QUALIFY row_number() OVER "
                "(PARTITION BY column_integer ORDER BY id) = 1"
            )
        else:  # join: id keeps the FIRST occurrence (min), values last-wins
            lv = ", ".join(f"last_value({c}{ign}) OVER w AS {c}" for c in VCOLS)
            wt = (
                f"SELECT DISTINCT min(id) OVER w AS id, column_integer, {lv} "
                f"FROM tgt WINDOW w AS ({win.format(o='id')})"
            )
    else:
        wt = "SELECT * FROM tgt"
    return f"WITH ded AS ({ded}), wt AS ({wt})"


# source rows whose key has no working-target row
FRESH = "NOT EXISTS (SELECT 1 FROM wt WHERE wt.column_integer = ded.column_integer)"


def _golden_sql(mode: ImportMode, dmode: DuplicateMode, uwn: bool) -> str:
    cols = ", ".join(TCOLS)
    prelude = _prelude(dmode, uwn)
    anti = f"SELECT {cols} FROM ded WHERE {FRESH}"

    if mode is ImportMode.CLEARINSERT:
        return f"{prelude} SELECT {cols} FROM ded"
    if mode is ImportMode.INSERT:
        if dmode.source_only_check:
            return f"{prelude} SELECT {cols} FROM wt UNION ALL SELECT {cols} FROM ded"
        return f"{prelude} SELECT {cols} FROM wt UNION ALL {anti}"
    if mode is ImportMode.UPDATE and dmode.source_only_check:
        return f"{prelude} SELECT {cols} FROM wt"
    if mode is ImportMode.UPSERT and dmode.source_only_check:
        return f"{prelude} SELECT {cols} FROM wt UNION ALL SELECT {cols} FROM ded"

    # keyed UPDATE / UPSERT: left-join update (all rows or first-per-key),
    # UPSERT appends the anti-join remainder afterwards.
    first = dmode.update_first_only
    rn = (
        ", row_number() OVER (PARTITION BY column_integer ORDER BY id) AS __rn"
        if first
        else ""
    )
    matched = "s.column_integer IS NOT NULL" + (" AND t.__rn = 1" if first else "")

    def upd(c):
        new = f"s.{c}" if uwn else f"coalesce(s.{c}, t.{c})"
        return f"CASE WHEN {matched} THEN {new} ELSE t.{c} END AS {c}"

    sel = ", ".join(
        ["t.column_integer" if c == "column_integer" else upd(c) for c in TCOLS]
    )
    updated = (
        f"SELECT {sel} FROM (SELECT *{rn} FROM wt) t "
        "LEFT JOIN ded s ON s.column_integer = t.column_integer"
    )
    if mode is ImportMode.UPDATE:
        return f"{prelude} {updated}"
    return f"{prelude} SELECT {cols} FROM ({updated}) UNION ALL {anti}"


def _golden_stats(con, mode: ImportMode, dmode: DuplicateMode, uwn: bool) -> dict:
    """The statistics line the reference reports for a cell: found/valid
    over the F3 source, `duplicate` = rows collapsed by source dedup,
    `deleted` = the CLEARINSERT pre-delete, `inserted` = rows appended,
    `updated` = working-target rows whose key matches a source key."""
    n_ded, n_fresh, n_matched = con.execute(
        f"{_prelude(dmode, uwn)} SELECT "
        "(SELECT count(*) FROM ded), "
        f"(SELECT count(*) FROM ded WHERE {FRESH}), "
        "(SELECT count(*) FROM wt WHERE EXISTS "
        "(SELECT 1 FROM ded WHERE ded.column_integer = wt.column_integer))"
    ).fetchone()
    checked = not dmode.source_only_check
    inserted = {
        ImportMode.CLEARINSERT: n_ded,
        ImportMode.INSERT: n_fresh if checked else n_ded,
        ImportMode.UPDATE: 0,
        ImportMode.UPSERT: n_fresh if checked else n_ded,
    }[mode]
    updates = mode in (ImportMode.UPDATE, ImportMode.UPSERT) and checked
    return {
        "found": len(SRC_ROWS),
        "valid": len(SRC_ROWS),
        "invalid": 0,
        "duplicate": len(SRC_ROWS) - n_ded,
        "deleted": len(TARGET_ROWS) if mode is ImportMode.CLEARINSERT else 0,
        "inserted": inserted,
        "updated": n_matched if updates else 0,
    }


def _canon(rows):
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    return sorted((tuple(r) for r in rows), key=key)


def test_full_mode_matrix_against_duckdb(spark, tmp_path):
    p = tmp_path / "f3.csv"
    p.write_text(F3_CSV)
    source = CsvSource(trim=True).read(spark, str(p))
    target = spark.createDataFrame(
        TARGET_ROWS,
        "id long, column_integer int, column_double double, "
        "column_varchar string, column_clob string",
    )
    mappings = [
        ColumnMapping("column_integer", "column integer"),
        ColumnMapping("column_double", "column_double"),
        ColumnMapping("column_varchar", "column_varchar"),
        ColumnMapping("column_clob", "column_clob"),
        ColumnMapping("id", None),
    ]
    con = _duck()

    failures = []
    for mode in ImportMode:
        for dmode in DuplicateMode:
            for uwn in (True, False):
                # uwn only reaches execution through join-dedup or the
                # keyed update paths; skip no-op duplicates of uwn=True.
                touches_uwn = dmode.value.endswith("JOIN") or (
                    mode in (ImportMode.UPDATE, ImportMode.UPSERT)
                    and not dmode.source_only_check
                )
                if not uwn and not touches_uwn:
                    continue
                d = ImportDefinition(
                    import_mode=mode,
                    duplicate_mode=dmode,
                    key_columns=[KeyColumn("column_integer")],
                    mappings=mappings,
                    update_with_null_values=uwn,
                )
                result, _, stats = run_import(d, source, target, target_order_col="id")
                cell = f"{mode.value}×{dmode.value}×uwn={uwn}"
                got = _canon([tuple(r) for r in result.select(*TCOLS).collect()])
                want = _canon(con.execute(_golden_sql(mode, dmode, uwn)).fetchall())
                if got != want:
                    failures.append(f"{cell}:\n  spark={got}\n  duck ={want}")
                want_stats = _golden_stats(con, mode, dmode, uwn)
                got_stats = {k: stats.as_dict()[k] for k in want_stats}
                if got_stats != want_stats:
                    failures.append(
                        f"{cell} stats:\n  spark={got_stats}\n  duck ={want_stats}"
                    )
    assert not failures, "\n".join(failures[:5]) + f"\n({len(failures)} cells failed)"
