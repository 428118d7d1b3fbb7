"""CLI entry point — the reference's flagship single-file import path
(SURVEY §3.1), re-expressed for a parquet lake warehouse.

Mirrors the flag grammar of ``de.soderer.dbimport.DbImport``
(DbImport.java:267-743) for the semantic subset that maps onto a lake
sink: instead of ``vendor host db user password`` the two positionals
are ``warehouse_dir table`` (a directory of parquet tables). Every
other flag keeps the reference's spelling and default:

    python -m dbimport_spark WAREHOUSE TABLE -importfile data.csv \\
        -import UPSERT -k "id" -m "name='full_name'" -t -sep ';'

Lifecycle parity (DbImportWorker.work, :330-686): read source →
create-table-if-needed from the inference lattice (:391) → mapping check
→ coerce/validate split → dedup → mode dispatch → atomic table swap →
statistics line → erroneous-row re-extraction in the original
format/compression (:591-593) → release of the import's caches (the
imports of a wildcard run share one session). The import is
all-or-nothing at the table level: the new table is written to a shadow
directory and swapped in with two renames, so a crash mid-import leaves
the old table intact, and the next import puts it back in place if the
crash fell between the renames — the lake equivalent of the reference's
single-transaction commit (:584).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from dbimport_spark.config import (
    DuplicateMode,
    ImportDefinition,
    ImportMode,
    parse_key_column,
    parse_mapping_string,
)


def _parse_values(spec: str) -> dict[str, str]:
    """``col=expr; col2=expr2`` → dict (reference -insvalues/-updvalues)."""
    out: dict[str, str] = {}
    for part in spec.split(";"):
        part = part.strip()
        if not part:
            continue
        k, _, v = part.partition("=")
        out[k.strip()] = v.strip()
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m dbimport_spark",
        description="Spark-native dbimport: single-file import into a parquet lake warehouse",
    )
    p.add_argument("warehouse", help="warehouse directory (one parquet dir per table)")
    p.add_argument("table", help="target table name")
    src = p.add_mutually_exclusive_group()
    src.add_argument("-importfile", help="source file path")
    src.add_argument("-data", help="inline data (reference -data)")
    p.add_argument("-x", dest="format", help="format override (CSV JSON YAML XML XLSX XLS ODS VCF); default: detect from extension")
    p.add_argument("-import", dest="mode", default="INSERT", choices=[m.value for m in ImportMode])
    p.add_argument("-duplicate", dest="duplicate", default=None, choices=[m.value for m in DuplicateMode])
    p.add_argument("-k", dest="keys", default=None, help="key columns, comma-separated; SQL functions allowed")
    p.add_argument("-m", dest="mapping", default=None, help="column mapping: target='source' pairs")
    p.add_argument("-u", dest="no_null_update", action="store_true", help="do not update with null values (DbImport.java:469-471)")
    p.add_argument("-c", dest="complete_commit", action="store_true", help="any invalid row aborts the import")
    p.add_argument("-t", dest="trim", action="store_true")
    p.add_argument("-a", dest="underfilled", action="store_true", help="allow underfilled CSV lines")
    p.add_argument("-n", dest="null_value", default="", help="null value string")
    p.add_argument("-sep", default=";")
    p.add_argument("-quote", default='"')
    p.add_argument("-noheaders", action="store_true")
    p.add_argument("-dp", dest="data_path", default=None, help="data path inside JSON/YAML/XML documents")
    p.add_argument("-zippassword", default=None)
    p.add_argument("-idtz", dest="import_tz", default=None)
    p.add_argument("-dbtz", dest="db_tz", default=None)
    p.add_argument("-dateformat", default=None)
    p.add_argument("-datetimeformat", default=None)
    p.add_argument("-insvalues", default=None)
    p.add_argument("-updvalues", default=None)
    p.add_argument("-noerrorfile", action="store_true", help="skip erroneous-row re-extraction")
    p.add_argument("-connectiontest", default=None, metavar="N", help="utility mode: run the check statement N times against the warehouse session (DbImport.java:1042-1126)")
    p.add_argument("-blobimport", nargs=2, default=None, metavar=("COLUMN", "WHERE"), help="utility mode: UPDATE table SET column = bytes(-importfile) WHERE ... (DbImport.java:822-835)")
    p.add_argument("-cpus", default=None, help="local[<cpus>] (default: all cores)")
    return p


def _read_source(spark, args):
    """Format dispatch mirroring DbImportDefinition.getConfiguredWorker's
    DataProvider selection (:763-862)."""
    from dbimport_spark.sources.compression import decompress_if_needed, detect_format

    if args.data is not None:
        from dbimport_spark.sources.inline import read_inline_data

        return read_inline_data(spark, args.data, separator=args.sep)

    path = args.importfile
    fmt = (args.format or detect_format(path)).lower()
    if fmt in ("yml",):
        fmt = "yaml"
    if fmt == "csv":
        from dbimport_spark.sources.csv import CsvSource

        readable = decompress_if_needed(path, password=args.zippassword)
        return CsvSource(
            separator=args.sep,
            quote=args.quote,
            no_headers=args.noheaders,
            null_value_string=args.null_value,
            trim=args.trim,
            allow_underfilled=args.underfilled,
        ).read(spark, readable)
    plain = decompress_if_needed(path, password=args.zippassword, for_spark_text_reader=False)
    if fmt == "json":
        from dbimport_spark.sources.json import read_json

        return read_json(spark, plain, data_path=args.data_path)
    if fmt == "yaml":
        from dbimport_spark.sources.yaml import read_yaml

        return read_yaml(spark, plain, data_path=args.data_path)
    if fmt == "xml":
        from dbimport_spark.sources.xml import read_xml

        return read_xml(spark, plain, data_path=args.data_path, null_value_string=args.null_value)
    if fmt == "vcf":
        from dbimport_spark.sources.vcf import read_vcf

        return read_vcf(spark, plain)
    if fmt == "kdbx":
        if not args.zippassword:
            raise SystemExit("KDBX import needs -zippassword")
        from dbimport_spark.sources.kdbx import read_kdbx

        return read_kdbx(spark, plain, args.zippassword)
    if fmt in ("xlsx", "xls", "ods"):
        from dbimport_spark.sources.excel import read_excel

        # reference routes the sheet name through -dp for spreadsheets
        return read_excel(spark, plain, sheet_name=args.data_path, no_headers=args.noheaders)
    raise SystemExit(f"unsupported import format {fmt!r}")


def _build_definition(args) -> ImportDefinition:
    definition = ImportDefinition(
        import_mode=ImportMode(args.mode),
        key_columns=[parse_key_column(k) for k in args.keys.split(",")] if args.keys else [],
        mappings=parse_mapping_string(args.mapping) if args.mapping else None,
        update_with_null_values=not args.no_null_update,
        complete_commit=args.complete_commit,
        trim_values=args.trim,
        null_value_string=args.null_value,
        import_data_time_zone=args.import_tz,
        database_time_zone=args.db_tz,
        date_format=args.dateformat,
        date_time_format=args.datetimeformat,
        additional_insert_values=_parse_values(args.insvalues) if args.insvalues else {},
        additional_update_values=_parse_values(args.updvalues) if args.updvalues else {},
    )
    if args.duplicate:
        definition.duplicate_mode = DuplicateMode(args.duplicate)
    return definition


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    cpus = args.cpus or "*"
    from dbimport_spark import recommended_confs

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dbimport_spark_cli")
        .config("spark.ui.enabled", "false")
    )
    for k, v in recommended_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")


    # §3.4 utility modes ------------------------------------------------
    if args.connectiontest is not None:
        from dbimport_spark.sinks import connection_test

        ok_list = connection_test(spark, iterations=int(args.connectiontest))
        print(json.dumps({"ok": all(ok_list), "iterations": ok_list}))
        return 0 if all(ok_list) else 2

    if args.blobimport is not None:
        if not args.importfile:
            print(json.dumps({"ok": False, "error": "-blobimport needs -importfile"}))
            return 2
        from dbimport_spark.operators.blobimport import import_blob

        column, where = args.blobimport
        table_dir = os.path.join(args.warehouse, args.table)
        _restore_stranded(table_dir)
        target = spark.read.parquet(table_dir)
        try:
            updated = import_blob(spark, target, args.importfile, column, where)
            _swap_in(table_dir, updated.write.mode("overwrite").parquet)
        except Exception as exc:  # noqa: BLE001 — CLI boundary: JSON error line
            print(json.dumps({"ok": False, "error": str(exc).splitlines()[0]}))
            return 2
        print(json.dumps({"ok": True, "table": args.table, "column": column}))
        return 0

    if not args.importfile and args.data is None:
        print(json.dumps({"ok": False, "error": "one of -importfile / -data is required"}))
        return 2

    # §3.2 multi-file wildcard import: expand, then run one import per
    # file in file-name-sorted order; table '*' derives each target from
    # its file name (reference: DbImport.java:907-923, importData loop)
    if args.importfile and any(ch in os.path.basename(args.importfile) for ch in "*?"):
        from dbimport_spark.sources.wildcard import expand_wildcard, table_name_for_file

        files = expand_wildcard(args.importfile)
        if not files:
            print(json.dumps({"ok": False, "error": f"no files match {args.importfile!r}"}))
            return 2
        results = []
        rc = 0
        for f in files:
            sub = argparse.Namespace(**vars(args))
            sub.importfile = f
            sub.table = table_name_for_file(f) if args.table == "*" else args.table
            code = _run_one(spark, sub, results)
            rc = rc or code
        print(json.dumps({"ok": rc == 0, "files": len(files), "imports": results}))
        return rc

    # §3.3 SQL script execution: statements run against the warehouse
    # tables registered as temp views; changed views are NOT written back
    # (scripts here are queries/DDL checks, reference: DbSqlWorker)
    if args.importfile and (args.format or "").lower() == "sql" or (
        args.importfile and args.importfile.lower().endswith(".sql")
    ):
        from dbimport_spark.sources.sqlscript import run_sql_script

        for entry in sorted(os.listdir(args.warehouse)):
            tdir = os.path.join(args.warehouse, entry)
            if os.path.isdir(tdir):
                spark.read.parquet(tdir).createOrReplaceTempView(entry)
        with open(args.importfile, encoding="utf-8") as fh:
            script = fh.read()
        res = run_sql_script(spark, script, complete_commit=args.complete_commit)
        ok = not res.errors
        print(json.dumps({"ok": ok, "executed": res.executed, "errors": res.errors}))
        return 0 if ok else 2

    return _run_one(spark, args, None)


def _restore_stranded(table_dir: str) -> None:
    """Put back the old table a crash left between _swap_in's two
    renames (``<table>`` gone, ``<table>.__old__`` holding it), before
    an import reads the target."""
    backup = table_dir + ".__old__"
    if not os.path.isdir(table_dir) and os.path.isdir(backup):
        os.rename(backup, table_dir)


def _swap_in(table_dir: str, write) -> None:
    """Replace the table all-or-nothing: ``write(shadow)`` writes the new
    table to a shadow directory, then two renames put it in place. The
    old table survives any crash before the second rename, at
    ``table_dir`` or at ``<table>.__old__`` (see _restore_stranded) —
    the lake equivalent of the reference's single transaction committed
    at DbImportWorker.java:584."""
    shadow = table_dir + ".__import__"
    backup = table_dir + ".__old__"
    shutil.rmtree(shadow, ignore_errors=True)
    write(shadow)
    shutil.rmtree(backup, ignore_errors=True)
    if os.path.isdir(table_dir):
        os.rename(table_dir, backup)
    os.rename(shadow, table_dir)
    shutil.rmtree(backup, ignore_errors=True)


def _created_target(spark, definition, source):
    """The empty table an import into a missing table merges into:
    createTableIfNeeded from the inference lattice (DbImportWorker.java:391,
    DbImportWorker.createTableIfNeeded), as a local relation."""
    from dbimport_spark.frames import local_frame
    from dbimport_spark.schema.infer import infer_schema

    fmt_infos = {
        m.target: m.format_info
        for m in (definition.mappings or [])
        if m.format_info
    }
    cols = infer_schema(source, format_infos=fmt_infos)
    return local_frame(
        spark, [], ", ".join(f"`{c.name}` {c.spark_type}" for c in cols)
    )


def _run_one(spark, args, results: list | None) -> int:
    definition = _build_definition(args)
    source = _read_source(spark, args)

    table_dir = os.path.join(args.warehouse, args.table)
    _restore_stranded(table_dir)
    t0 = time.time()
    if os.path.isdir(table_dir):
        target = spark.read.parquet(table_dir)
        created = False
    else:
        target = _created_target(spark, definition, source)
        created = True

    from dbimport_spark.pipeline import ImportError_, run_import

    # run_import's persisted temp tables; this run owns their release
    persisted: list = []
    try:
        try:
            new_target, invalid, stats = run_import(
                definition, source, target, persisted=persisted
            )
        except ImportError_ as exc:
            err = {"ok": False, "table": args.table, "error": str(exc)}
            if results is not None:
                results.append(err)
            else:
                print(json.dumps(err))
            return 2

        _swap_in(table_dir, new_target.write.mode("overwrite").parquet)

        error_file = None
        if (
            not args.noerrorfile
            and args.importfile
            and stats.items_invalid > 0
        ):
            # erroneous-row re-extraction in the ORIGINAL format/compression
            # (DbImportWorker.java:591-593), read from the persisted projection
            from dbimport_spark.operators.errors import filter_data_items
            from dbimport_spark.operators.order import SRC_ORDER_COL

            bad = sorted(
                (int(r[0]) + 1, r[1])
                for r in invalid.select(SRC_ORDER_COL, "error_reason").collect()
                if r[0] is not None
            )
            stats.invalid_reasons = [f"item {i}: {reason}" for i, reason in bad[:10]]
            try:
                error_file = filter_data_items(
                    args.importfile,
                    [i for i, _ in bad],
                    separator=args.sep,
                    quote=args.quote,
                    has_header=not args.noheaders,
                    data_path=args.data_path,
                    null_value=args.null_value,
                    zip_password=args.zippassword,
                )
            except ValueError:
                error_file = None  # format without a faithful errors writer
    finally:
        for df in persisted:
            df.unpersist()

    out = {
        "ok": True,
        "table": args.table,
        "created": created,
        "mode": definition.import_mode.value,
        "wall_seconds": round(time.time() - t0, 3),
        "error_file": error_file,
        **stats.as_dict(),
    }
    if results is not None:
        results.append(out)
    else:
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
