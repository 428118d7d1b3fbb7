"""CLI (python -m dbimport_spark) end-to-end: the reference's flagship
single-file import path (SURVEY §3.1) against a parquet warehouse —
create-from-inference, UPSERT with keys, invalid-row routing to a
format-faithful errors file, atomic table swap, JSON statistics."""

import json
import os

import pytest

from dbimport_spark.__main__ import build_parser, main


def _run(capsys, *argv):
    rc = main(list(argv))
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


def test_cli_create_then_upsert_with_errors(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    f1 = tmp_path / "t1.csv"
    f1.write_text("id;name;amount\n1;alice;10,5\n2;bob;20,25\n")
    f2 = tmp_path / "t2.csv"
    f2.write_text("id;name;amount\n2;bobby;30,75\n4;dora;oops\n5;eve;50,0\n")
    mapping = "id='id'; name='name'; amount='amount' ,"

    rc, st = _run(capsys, wh, "people", "-importfile", str(f1), "-m", mapping)
    assert rc == 0 and st["ok"] and st["created"]
    assert (st["found"], st["inserted"], st["invalid"]) == (2, 2, 0)

    rc, st = _run(
        capsys, wh, "people", "-importfile", str(f2),
        "-import", "UPSERT", "-k", "id", "-m", mapping,
    )
    assert rc == 0 and st["ok"] and not st["created"]
    assert (st["found"], st["inserted"], st["updated"], st["invalid"]) == (3, 1, 1, 1)
    # format-faithful errors file with reference naming (t2.csv.errors.csv)
    assert st["error_file"] == str(f2) + ".errors.csv"
    assert open(st["error_file"]).read() == "id;name;amount\n4;dora;oops\n"

    rows = sorted(
        (r.id, r.name, float(r.amount))
        for r in spark.read.parquet(os.path.join(wh, "people")).collect()
    )
    assert rows == [(1, "alice", 10.5), (2, "bobby", 30.75), (5, "eve", 50.0)]
    # the inference lattice typed the ','-format column numerically
    sch = {f.name: f.dataType.simpleString() for f in spark.read.parquet(os.path.join(wh, "people")).schema.fields}
    assert sch["amount"] == "double" and sch["id"] in ("int", "bigint")


def test_cli_complete_commit_aborts_and_preserves_table(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    f1 = tmp_path / "a.csv"
    f1.write_text("id;v\n1;10\n")
    f2 = tmp_path / "b.csv"
    f2.write_text("id;v\n2;bad\n3;30\n")
    rc, st = _run(capsys, wh, "t", "-importfile", str(f1))
    assert rc == 0 and st["inserted"] == 1

    rc, st = _run(
        capsys, wh, "t", "-importfile", str(f2), "-import", "UPSERT", "-k", "id", "-c",
    )
    assert rc == 2 and not st["ok"] and "rolled back" in st["error"]
    # -c rollback: table untouched
    assert [tuple(r) for r in spark.read.parquet(os.path.join(wh, "t")).collect()] == [(1, 10)]


def test_cli_inline_data_and_flag_grammar(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    rc, st = _run(
        capsys, wh, "inline_t", "-data", "k;v\n1;x\n2;y", "-sep", ";",
    )
    assert rc == 0 and st["inserted"] == 2
    p = build_parser()
    ns = p.parse_args([wh, "x", "-importfile", "f.csv", "-u", "-t", "-n", "NULL"])
    assert ns.no_null_update and ns.trim and ns.null_value == "NULL"
    # missing source is a clean runtime JSON error now that utility
    # modes (-connectiontest) legitimately run without one
    rc, st = _run(capsys, wh, "x")
    assert rc == 2 and not st["ok"] and "required" in st["error"]


def test_cli_wildcard_multifile_table_per_file(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    (tmp_path / "m_one.csv").write_text("id;v\n1;10\n")
    (tmp_path / "m_two.csv").write_text("id;v\n2;20\n")
    rc, st = _run(capsys, wh, "*", "-importfile", str(tmp_path / "m_*.csv"))
    assert rc == 0 and st["ok"] and st["files"] == 2
    assert [i["table"] for i in st["imports"]] == ["m_one", "m_two"]
    assert {r.id for r in spark.read.parquet(os.path.join(wh, "m_two")).collect()} == {2}


def test_cli_sql_script_over_warehouse_views(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    (tmp_path / "t.csv").write_text("id;v\n1;10\n")
    rc, _ = _run(capsys, wh, "base", "-importfile", str(tmp_path / "t.csv"))
    assert rc == 0
    script = tmp_path / "s.sql"
    script.write_text("SELECT count(*) FROM base; SELECT 1;")
    rc, st = _run(capsys, wh, "x", "-importfile", str(script))
    assert rc == 0 and st == {"ok": True, "executed": 2, "errors": []}
    bad = tmp_path / "bad.sql"
    bad.write_text("SELECT * FROM does_not_exist;")
    rc, st = _run(capsys, wh, "x", "-importfile", str(bad))
    assert rc == 2 and not st["ok"] and st["errors"]


def test_cli_utility_modes(spark, tmp_path, capsys):
    """§3.4: connectiontest and importblob (DbImport.java:1042-1126, :822-835)."""
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    rc, st = _run(capsys, wh, "x", "-connectiontest", "2")
    assert rc == 0 and st == {"ok": True, "iterations": [True, True]}

    spark.createDataFrame([(1, None), (2, None)], "id int, payload binary").write.parquet(
        os.path.join(wh, "blobs")
    )
    blob = tmp_path / "b.bin"
    blob.write_bytes(b"\x01\x02payload")
    rc, st = _run(
        capsys, wh, "blobs", "-importfile", str(blob), "-blobimport", "payload", "id = 2",
    )
    assert rc == 0 and st["ok"]
    rows = {r.id: r.payload for r in spark.read.parquet(os.path.join(wh, "blobs")).collect()}
    assert bytes(rows[2]) == b"\x01\x02payload" and rows[1] is None
    # type mismatch surfaces as a clean JSON error, not a traceback
    rc, st = _run(
        capsys, wh, "blobs", "-importfile", str(blob), "-blobimport", "id", "id = 2",
    )
    assert rc == 2 and not st["ok"] and "DATATYPE_MISMATCH" in st["error"]


def test_cli_import_after_a_crash_between_the_renames(spark, tmp_path, capsys):
    """A crash between the swap's two renames leaves the old table only
    at ``<table>.__old__`` (and the finished shadow beside it). The next
    import puts the old table back before reading the target, so an
    UPSERT merges into it instead of creating the table afresh."""
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    f1 = tmp_path / "a.csv"
    f1.write_text("id;v\n" + "".join(f"{i};{i * 10}\n" for i in range(1, 101)))
    rc, st = _run(capsys, wh, "t", "-importfile", str(f1))
    assert rc == 0 and st["inserted"] == 100
    table = os.path.join(wh, "t")
    os.rename(table, table + ".__old__")
    os.makedirs(table + ".__import__")
    f2 = tmp_path / "b.csv"
    f2.write_text("id;v\n" + "".join(f"{i};{i}\n" for i in range(101, 111)))
    rc, st = _run(
        capsys, wh, "t", "-importfile", str(f2), "-import", "UPSERT", "-k", "id",
    )
    assert rc == 0 and st["created"] is False and st["inserted"] == 10
    assert spark.read.parquet(table).count() == 110
    assert sorted(os.listdir(wh)) == ["t"]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_releases_its_caches(spark, tmp_path, capsys):
    """Each import releases what run_import persisted: after a 3-file
    wildcard import on one session, and after a `-c` abort, the session's
    cache manager is empty again."""
    from dbimport_spark import release_caches

    release_caches(spark)
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    (tmp_path / "base.csv").write_text("id;v\n1;10\n")
    rc, _ = _run(capsys, wh, "t", "-importfile", str(tmp_path / "base.csv"))
    assert rc == 0
    for i in (2, 3, 4):
        (tmp_path / f"c_{i}.csv").write_text(f"id;v\n{i};1{i}\n{i};2{i}\n9;bad\n")
    rc, st = _run(
        capsys, wh, "t", "-importfile", str(tmp_path / "c_*.csv"),
        "-import", "UPSERT", "-k", "id",
    )
    assert rc == 0 and st["files"] == 3
    got = [(i["inserted"], i["invalid"], i["duplicate"]) for i in st["imports"]]
    assert got == [(1, 1, 1)] * 3
    assert _cache_empty(spark)

    rc, st = _run(
        capsys, wh, "t", "-importfile", str(tmp_path / "c_2.csv"),
        "-import", "UPSERT", "-k", "id", "-c",
    )
    assert rc == 2 and "rolled back" in st["error"]
    assert _cache_empty(spark)


def test_cli_upsert_job_budget(spark, tmp_path, capsys):
    """One CLI UPSERT of a keyed CSV with in-file duplicates, invalid rows
    and existing keys launches a fixed number of Spark jobs (the count
    repeats exactly for a given input). The coerced source and the
    target-annotated dedup are each materialized once, so the import runs
    16 jobs: 3 to read and order the source, 1 to read the target schema,
    4 for the valid/invalid aggregate (filling the first cache), 5 for the
    dedup/target-count aggregate (filling the second), 2 for the table
    write and 1 for the error-file rows."""
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    base = tmp_path / "base.csv"
    base.write_text("id;name;qty\n" + "".join(f"{i};n{i};{i}\n" for i in range(20)))
    upd = tmp_path / "upd.csv"
    rows = [f"{i};m{i};{2 * i}" for i in range(10, 30)]
    rows += ["12;dup;7", "25;dup2;8", "31;bad;x", "32;bad2;1.2.3"]
    upd.write_text("id;name;qty\n" + "\n".join(rows) + "\n")
    rc, _ = _run(capsys, wh, "t", "-importfile", str(base))
    assert rc == 0

    sc = spark.sparkContext
    group = "test_cli_upsert_job_budget"
    sc.setJobGroup(group, group)
    try:
        rc, st = _run(
            capsys, wh, "t", "-importfile", str(upd),
            "-import", "UPSERT", "-k", "id", "-duplicate", "UPDATE_ALL_JOIN",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rc == 0
    assert jobs <= 16 + 2, f"{jobs} Spark jobs for one CLI UPSERT"
    assert (st["found"], st["invalid"], st["duplicate"], st["inserted"], st["updated"]) == (
        24, 2, 2, 10, 10
    )
    assert st["invalid_reasons"] == [
        "item 23: invalid value for qty", "item 24: invalid value for qty"
    ]
