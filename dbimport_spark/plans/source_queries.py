"""Source-layer + schema-inference + end-to-end-pipeline queries.

Each query round-trips data derived deterministically from the sf parquet
tables through a REAL source reader (CSV / JSON-dataPath / XML / YAML /
VCF / inline / gz / zip / wildcard multi-file / SQL script), so the whole
import surface of SURVEY.md §2.1-§2.2 sits inside the driver's DuckDB
correctness gate — the oracle recomputes the expected result straight from
the parquet views.

Export files are small by construction (nation/region/supplier slices, or
key-capped customer/orders slices) and written driver-side to a temp dir —
the same single-archive / single-file shape the reference handles
(DataProvider.java:166-197); the distributed path is the Spark reader that
consumes them.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import tempfile
import zipfile
from functools import reduce
from xml.sax.saxutils import escape as _xml_escape

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbimport_spark.config import ColumnMapping, ImportDefinition, ImportMode, KeyColumn
from dbimport_spark.config import DuplicateMode
from dbimport_spark.operators.coerce import apply_mappings
from dbimport_spark.plans.registry import load, register
from dbimport_spark.plans.merge_queries import (
    CUST_SEL,
    INSERTED_SQL,
    MERGED_SQL,
    UPDATED_OVERWRITE_SQL,
    UPDATES_SQL,
)
from dbimport_spark.sources.compression import decompress_if_needed
from dbimport_spark.sources.csv import CsvSource
from dbimport_spark.sources.inline import read_inline_data
from dbimport_spark.sources.json import read_json
from dbimport_spark.sources.sqlscript import run_sql_script
from dbimport_spark.sources.vcf import read_vcf
from dbimport_spark.sources.wildcard import expand_wildcard, table_name_for_file
from dbimport_spark.sources.xml import read_xml
from dbimport_spark.sources.yaml import read_yaml


def _export_dir(sf_dir: str) -> str:
    d = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_exports",
        re.sub(r"\W+", "_", sf_dir.rstrip("/")),
    )
    os.makedirs(d, exist_ok=True)
    return d


# --------------------------------------------------------------------- CSV


def _export_customer_csv(spark: SparkSession, sf_dir: str) -> str:
    """customer (c_custkey<=200) as `;`-CSV: EU decimals, NULL sentinel on
    c_mktsegment when c_nationkey%5=0, padding blanks around c_name."""
    path = os.path.join(_export_dir(sf_dir), "customer_slice.csv")
    rows = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .orderBy("c_custkey")
        .collect()
    )
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("c_custkey;c_name;c_nationkey;c_acctbal;c_mktsegment\n")
        for r in rows:
            acct = ("%.2f" % r.c_acctbal).replace(".", ",")
            mkt = "NULL" if r.c_nationkey % 5 == 0 else r.c_mktsegment
            f.write(
                f"{r.c_custkey};{_csv_cell(' ' + r.c_name + ' ')};"
                f"{r.c_nationkey};{acct};{mkt}\n"
            )
    return path


@register(
    "src_csv_import",
    """SELECT c_custkey, trim(c_name) AS c_name, c_nationkey,
       CAST(printf('%.2f', c_acctbal) AS DOUBLE) AS c_acctbal,
       CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
FROM customer WHERE c_custkey <= 200""",
)
def src_csv_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with the reference option surface (`;` separator, trim,
    null sentinel — CsvDataProvider.java:48-62,:211-218) feeding the
    coercion kernel: EU decimal (`,` format-info) on c_acctbal, int casts,
    sentinel → NULL."""
    path = _export_customer_csv(spark, sf_dir)
    raw = CsvSource(separator=";", trim=True, null_value_string="NULL").read(
        spark, path, with_order=False
    )
    mappings = [
        ColumnMapping("c_custkey", "c_custkey"),
        ColumnMapping("c_name", "c_name"),
        ColumnMapping("c_nationkey", "c_nationkey"),
        ColumnMapping("c_acctbal", "c_acctbal", format_info=","),
        ColumnMapping("c_mktsegment", "c_mktsegment"),
    ]
    types = {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    }
    valid, _invalid = apply_mappings(raw, mappings, types)
    return valid


# --------------------------------------------------------------------- JSON


@register(
    "src_json_datapath",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def src_json_datapath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON source with `-dp` dataPath into a nested sub-array
    (JsonDataProvider.java:305-311): document shape
    {"payload": {"items": [...]}} → explode payload.items."""
    path = os.path.join(_export_dir(sf_dir), "supplier.json")
    rows = load(spark, sf_dir, "supplier").orderBy("s_suppkey").collect()
    doc = {
        "payload": {
            "items": [
                {
                    "s_suppkey": r.s_suppkey,
                    "s_name": r.s_name,
                    "s_nationkey": r.s_nationkey,
                    "s_acctbal": r.s_acctbal,
                }
                for r in rows
            ]
        }
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f)
    df = read_json(spark, path, data_path="payload/items", with_order=False)
    return df.select(
        F.col("s_suppkey").cast("bigint"),
        "s_name",
        F.col("s_nationkey").cast("int"),
        F.col("s_acctbal").cast("double"),
    )


# --------------------------------------------------------------------- XML


@register(
    "src_xml_datapath",
    """SELECT CASE WHEN n_nationkey % 7 = 3 THEN NULL ELSE n_name END AS n_name,
       n_nationkey, n_regionkey,
       CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS BIGINT) AS _src_order
FROM nation""",
)
def src_xml_datapath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source (`<list><entry><col>` shape, XmlDataProvider.java:139-348)
    with slash dataPath and null sentinel; _src_order = document order."""
    path = os.path.join(_export_dir(sf_dir), "nation.xml")
    rows = load(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    with open(path, "w", encoding="utf-8") as f:
        f.write("<root><entries>")
        for r in rows:
            name = "NULL" if r.n_nationkey % 7 == 3 else r.n_name
            f.write(
                "<entry>"
                f"<n_nationkey>{r.n_nationkey}</n_nationkey>"
                f"<n_name>{_xml_escape(name)}</n_name>"
                f"<n_regionkey>{r.n_regionkey}</n_regionkey>"
                "</entry>"
            )
        f.write("</entries></root>")
    df = read_xml(spark, path, data_path="root/entries", null_value_string="NULL")
    return df.select(
        "n_name",
        F.col("n_nationkey").cast("int"),
        F.col("n_regionkey").cast("int"),
        "_src_order",
    )


# --------------------------------------------------------------------- YAML


@register("src_yaml_datapath", "SELECT r_regionkey, r_name FROM region")
def src_yaml_datapath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YAML source (sequence-of-mappings under a dataPath,
    YamlDataProvider.java:32-302); typed values survive the round trip."""
    import yaml as _yaml

    path = os.path.join(_export_dir(sf_dir), "region.yaml")
    rows = load(spark, sf_dir, "region").orderBy("r_regionkey").collect()
    doc = {
        "data": {
            "rows": [
                {"r_regionkey": int(r.r_regionkey), "r_name": str(r.r_name)} for r in rows
            ]
        }
    }
    with open(path, "w", encoding="utf-8") as f:
        _yaml.safe_dump(doc, f)
    df = read_yaml(spark, path, data_path="data/rows", with_order=False)
    return df.select(F.col("r_regionkey").cast("int"), "r_name")


# --------------------------------------------------------------------- VCF


@register(
    "src_vcf_contacts",
    """SELECT c_name AS formattedname,
       '+00-' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS telephonenumber_1,
       'work' AS telephonenumber_1_attr,
       'customer' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email_1,
       c_mktsegment AS note,
       CAST(c_nationkey AS VARCHAR) || ' Market Street' AS address_1_street,
       'home' AS address_1_attr
FROM customer WHERE c_custkey <= 100""",
)
def src_vcf_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VCF source: one row per card, ADR exploded into address_N_part
    dynamic columns, TYPE attrs captured (VcfDataProvider.java:178-222;
    golden flattening DbImportTest_HSQL.java:1660-1683)."""
    path = os.path.join(_export_dir(sf_dir), "contacts.vcf")
    rows = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 100)
        .orderBy("c_custkey")
        .collect()
    )
    with open(path, "w", encoding="utf-8", newline="") as f:
        for r in rows:
            f.write(
                "BEGIN:VCARD\n"
                "VERSION:3.0\n"
                f"FN:{r.c_name}\n"
                f"TEL;TYPE=work:+00-{r.c_custkey:07d}\n"
                f"EMAIL:customer{r.c_custkey}@example.com\n"
                f"NOTE:{r.c_mktsegment}\n"
                f"ADR;TYPE=home:;;{r.c_nationkey} Market Street;;;;\n"
                "END:VCARD\n"
            )
    return read_vcf(spark, path, with_order=False)


# --------------------------------------------------------------------- inline


@register(
    "src_inline_data",
    """SELECT * FROM (VALUES
  (1, 'alpha', CAST(3.5 AS DOUBLE), CAST(0 AS BIGINT)),
  (2, 'beta',  CAST(NULL AS DOUBLE), CAST(1 AS BIGINT)),
  (3, 'gamma', CAST(1.25 AS DOUBLE), CAST(2 AS BIGINT)),
  (4, 'de;lta', CAST(7.0 AS DOUBLE), CAST(3 AS BIGINT))
) AS t(id, name, score, _src_order)""",
)
def src_inline_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline `-data` source (DataProvider.java:150-156): the argument IS
    the data; quote-aware parse, empty → NULL, _src_order assigned."""
    data = 'id;name;score\n1;alpha;3,5\n2;beta;\n3;gamma;1,25\n4;"de;lta";7,0\n'
    df = read_inline_data(spark, data, separator=";", null_value_string="")
    return df.select(
        F.col("id").cast("int"),
        "name",
        F.regexp_replace("score", ",", ".").cast("double").alias("score"),
        "_src_order",
    )


# ----------------------------------------------------------- compression


def _csv_cell(v, sep: str = ";") -> str:
    """RFC-4180-style quoting for fixture writers: a value containing the
    separator, a quote, or a newline is wrapped in double quotes with
    internal quotes doubled. (The adversarial hostile-strings suite
    caught the unquoted f-string writers truncating 'semi;colon' values
    at read time — every fixture writer now routes through this.)"""
    s = str(v)
    if sep in s or '"' in s or "\n" in s or "\r" in s:
        return '"' + s.replace('"', '""') + '"'
    return s


def _write_nation_csv_text(spark: SparkSession, sf_dir: str) -> str:
    rows = load(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    lines = ["n_nationkey;n_name;n_regionkey"]
    lines += [
        ";".join(_csv_cell(v) for v in (r.n_nationkey, r.n_name, r.n_regionkey))
        for r in rows
    ]
    return "\n".join(lines) + "\n"


@register(
    "src_csv_gz",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def src_csv_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gzip envelope read natively by the Spark CSV reader
    (DataProvider.java:166-197; gz is the Spark-transparent case)."""
    path = os.path.join(_export_dir(sf_dir), "nation.csv.gz")
    with gzip.open(path, "wt", encoding="utf-8") as f:
        f.write(_write_nation_csv_text(spark, sf_dir))
    df = CsvSource(separator=";").read(spark, path, with_order=False)
    return df.select(
        F.col("n_nationkey").cast("int"), "n_name", F.col("n_regionkey").cast("int")
    )


@register("src_csv_zip", "SELECT r_regionkey, r_name FROM region")
def src_csv_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zip envelope: single-entry archive extracted by the compression
    pre-step, then the normal CSV reader (DataProvider.java:166-197 —
    single-zip-entry enforcement lives in decompress_if_needed)."""
    rows = load(spark, sf_dir, "region").orderBy("r_regionkey").collect()
    text = "r_regionkey;r_name\n" + "".join(
        f"{_csv_cell(r.r_regionkey)};{_csv_cell(r.r_name)}\n" for r in rows
    )
    path = os.path.join(_export_dir(sf_dir), "region.csv.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("region.csv", text)
    extracted = decompress_if_needed(path)
    df = CsvSource(separator=";").read(spark, extracted, with_order=False)
    return df.select(F.col("r_regionkey").cast("int"), "r_name")


@register("src_csv_zip_aes", "SELECT n_nationkey, n_name FROM nation")
def src_csv_zip_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WinZip-AES-256 passworded zip envelope: from-scratch stdlib AES
    (sources/aes.py + zipaes.py) behind the same decompress pre-step
    (reference accepts AES-256 zips: DataProvider.java:166-197)."""
    from dbimport_spark.sources.zipaes import write_aes_zip

    rows = load(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    text = "n_nationkey;n_name\n" + "".join(
        f"{_csv_cell(r.n_nationkey)};{_csv_cell(r.n_name)}\n" for r in rows
    )
    path = os.path.join(_export_dir(sf_dir), "nation.csv.zip")
    write_aes_zip(path, "nation.csv", text.encode("utf-8"), "dbimport-pw", strength=3)
    extracted = decompress_if_needed(path, password="dbimport-pw")
    df = CsvSource(separator=";").read(spark, extracted, with_order=False)
    return df.select(F.col("n_nationkey").cast("int"), "n_name")


@register(
    "src_kdbx",
    """SELECT c_custkey, c_name AS title, c_mktsegment AS username,
       'pw-' || CAST(c_custkey AS VARCHAR) AS password
FROM customer WHERE c_custkey <= 50""",
)
def src_kdbx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDBX (KeePass) source: stdlib KDBX3 decrypt — AES-KDF + AES-CBC +
    hashed-block stream + Salsa20-protected passwords (sources/kdbx.py;
    reference KdbxDataProvider.java:176-273). The fixture database is
    written by the from-scratch KDBX3 writer at plan-construction time."""
    from dbimport_spark.sources.kdbx import read_kdbx, write_kdbx3_minimal

    rows = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 50)
        .orderBy("c_custkey")
        .collect()
    )
    entries = [
        {
            "title": r.c_name,
            "username": r.c_mktsegment,
            "password": f"pw-{r.c_custkey}",
            "url": str(r.c_custkey),
        }
        for r in rows
    ]
    path = os.path.join(_export_dir(sf_dir), "customers.kdbx")
    write_kdbx3_minimal(path, entries, "graded-pw", rounds=600)
    df = read_kdbx(spark, path, "graded-pw")
    return df.select(
        F.col("url").cast("int").alias("c_custkey"),
        F.col("title"),
        F.col("username"),
        F.col("password"),
    )


# ------------------------------------------------------------- wildcard


@register(
    "src_wildcard_multifile",
    """SELECT s_suppkey, 'sup_p' || CAST(s_suppkey % 3 AS VARCHAR) AS src_table
FROM supplier""",
)
def src_wildcard_multifile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-file wildcard import: `?`/`*` expansion sorted by name, one
    target table per file derived from the filename
    (DbImport.java:907-948,:1316-1361; DbImportMultiWorker.java:39-196)."""
    d = _export_dir(sf_dir)
    rows = load(spark, sf_dir, "supplier").orderBy("s_suppkey").collect()
    buckets: dict[int, list] = {0: [], 1: [], 2: []}
    for r in rows:
        buckets[r.s_suppkey % 3].append(r)
    for i, rs in buckets.items():
        with open(os.path.join(d, f"sup_p{i}.csv"), "w", encoding="utf-8") as f:
            f.write("s_suppkey;s_name\n")
            for r in rs:
                f.write(f"{r.s_suppkey};{_csv_cell(r.s_name)}\n")
    files = expand_wildcard(os.path.join(d, "sup_p*.csv"))
    parts = []
    for fpath in files:
        tbl = table_name_for_file(fpath)
        parts.append(
            CsvSource(separator=";")
            .read(spark, fpath, with_order=False)
            .select(
                F.col("s_suppkey").cast("bigint"), F.lit(tbl).alias("src_table")
            )
        )
    return reduce(DataFrame.unionByName, parts)


# ------------------------------------------------------------ SQL script


@register(
    "src_sql_script",
    """SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
FROM orders GROUP BY o_orderpriority""",
)
def src_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-script source: statements split (quotes/comments respected),
    executed sequentially against the Spark catalog
    (DbSqlWorker.java:104-216)."""
    script = f"""
-- orders rollup per priority
CREATE OR REPLACE TEMPORARY VIEW _ss_orders AS
  SELECT * FROM parquet.`{sf_dir}/orders.parquet`;
/* aggregate step; the ';' inside 'literal;string' must not split */
CREATE OR REPLACE TEMPORARY VIEW _ss_result AS
  SELECT o_orderpriority, count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
  FROM _ss_orders WHERE 'a;b' = 'a;b' GROUP BY o_orderpriority;
"""
    res = run_sql_script(spark, script, complete_commit=True)
    assert res.executed == 2 and not res.errors
    return spark.table("_ss_result")


# ------------------------------------------------------- schema inference

_INFER_DT_PATTERNS = [
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S",
    "%d.%m.%Y %H:%M:%S",
    "%d.%m.%Y %H:%M",
    "%m/%d/%Y %H:%M:%S",
    "%Y-%m-%d",
    "%d.%m.%Y",
    "%m/%d/%Y",
]
_INFER_D_PATTERNS = ["%Y-%m-%d", "%d.%m.%Y", "%m/%d/%Y"]
_BOOL_WORDS = "'true','yes','y','ja','j','1','on','false','no','n','nein','0','off'"


def _lattice_branch_sql(name: str, expr: str) -> str:
    """DuckDB mirror of the detectNextDataType lattice for one column
    (DataProvider.java:61-148): same priority order, same strict-integer
    grammar, same ≤20-char guard, same 4000-byte BLOB rule."""
    s = f"trim({expr})"
    ne = f"({expr}) IS NOT NULL AND {s} <> ''"
    dt_list = ", ".join(f"'{p}'" for p in _INFER_DT_PATTERNS)
    d_list = ", ".join(f"'{p}'" for p in _INFER_D_PATTERNS)
    count = lambda cond: f"count(*) FILTER (WHERE {ne} AND ({cond}))"  # noqa: E731
    n = f"count(*) FILTER (WHERE {ne})"
    maxb = f"max(strlen({expr}))"  # DuckDB strlen = byte length of VARCHAR
    is_int = (
        f"regexp_matches({s}, '^[+-]?[0-9]+$') AND length({s}) <= 20"
    )
    dtype = f"""CASE
      WHEN coalesce({maxb}, 0) > 4000 THEN 'BLOB'
      WHEN {n} = 0 THEN 'VARCHAR'
      WHEN {count(f"try_strptime({s}, [{d_list}]) IS NOT NULL")} = {n} THEN 'DATE'
      WHEN {count(f"try_strptime({s}, [{dt_list}]) IS NOT NULL")} = {n} THEN 'TIMESTAMP'
      WHEN {count(f"{is_int} AND try_cast({s} AS INTEGER) IS NOT NULL")} = {n} THEN 'INTEGER'
      WHEN {count(f"{is_int} AND try_cast({s} AS BIGINT) IS NOT NULL")} = {n} THEN 'BIGINT'
      WHEN {count(f"length({s}) <= 20 AND try_cast({s} AS DOUBLE) IS NOT NULL")} = {n} THEN 'DOUBLE'
      WHEN {count(f"lower({s}) IN ({_BOOL_WORDS})")} = {n} THEN 'BOOLEAN'
      ELSE 'VARCHAR' END"""
    return f"""SELECT '{name}' AS column_name, {dtype} AS data_type,
      CASE WHEN ({dtype}) = 'VARCHAR'
           THEN CAST(greatest(coalesce({maxb}, 0), 1) AS INTEGER)
           ELSE CAST(NULL AS INTEGER) END AS data_size
    FROM infer_src"""


_INFER_COLS = {
    "o_orderkey": "CAST(o_orderkey AS VARCHAR)",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": "CAST(o_totalprice AS VARCHAR)",
    "o_orderdate": "CAST(o_orderdate AS VARCHAR)",
    "o_orderpriority": "o_orderpriority",
    "is_even": "CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END",
    "big_note": "CASE WHEN o_orderkey % 100 = 0 THEN repeat('x', 4001) ELSE 'short' END",
    "sparse_int": "CASE WHEN o_orderkey % 3 = 0 THEN '' ELSE CAST(o_orderkey AS VARCHAR) END",
}

_INFER_ORACLE = (
    "WITH infer_src AS (SELECT "
    + ", ".join(f"{e} AS {n}" for n, e in _INFER_COLS.items())
    + " FROM orders) "
    + " UNION ALL ".join(_lattice_branch_sql(n, n) for n in _INFER_COLS)
)


@register("schema_infer_lattice", _INFER_ORACLE)
def schema_infer_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven type-lattice inference (detectNextDataType,
    DataProvider.java:61-148) over a string-read projection of `orders`:
    int / double / timestamp / boolean / sticky-BLOB / empty-skip /
    VARCHAR-with-byte-size — one aggregation pass; the oracle recomputes
    the identical lattice in SQL."""
    from dbimport_spark.schema.infer import infer_schema

    o = load(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        F.col("o_orderstatus").alias("o_orderstatus"),
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        F.col("o_orderpriority").alias("o_orderpriority"),
        F.when(F.col("o_orderkey") % 2 == 0, "true").otherwise("false").alias("is_even"),
        F.when(F.col("o_orderkey") % 100 == 0, F.expr("repeat('x', 4001)"))
        .otherwise("short")
        .alias("big_note"),
        F.when(F.col("o_orderkey") % 3 == 0, "")
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("sparse_int"),
    )
    cols = infer_schema(src)
    return spark.createDataFrame(
        [(c.name, c.data_type, c.size) for c in cols],
        "column_name string, data_type string, data_size int",
    )


# ------------------------------------------------- end-to-end pipeline

_UPDATES_RT_SQL = UPDATES_SQL.replace(
    "o_totalprice AS c_acctbal",
    "CAST(printf('%.2f', o_totalprice) AS DOUBLE) AS c_acctbal",
)


def _export_updates_csv(spark: SparkSession, sf_dir: str) -> str:
    """The F3-shaped updates source as a CSV file: EU decimals, NULL
    sentinel, rows in _src_order so file order == merge order."""
    from dbimport_spark.plans.merge_queries import updates_df

    path = os.path.join(_export_dir(sf_dir), "customer_updates.csv")
    rows = updates_df(spark, sf_dir).orderBy("_src_order").collect()
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("c_custkey;c_name;c_nationkey;c_acctbal;c_mktsegment\n")
        for r in rows:
            acct = ("%.2f" % r.c_acctbal).replace(".", ",")
            mkt = "NULL" if r.c_mktsegment is None else r.c_mktsegment
            f.write(
                f"{r.c_custkey};{_csv_cell(r.c_name)};{r.c_nationkey};{acct};{mkt}\n"
            )
    return path


@register(
    "pipeline_csv_upsert",
    f"""WITH {_UPDATES_RT_SQL}, {MERGED_SQL}, {UPDATED_OVERWRITE_SQL}, {INSERTED_SQL}
SELECT {CUST_SEL} FROM updated UNION ALL SELECT {CUST_SEL} FROM inserted""",
)
def pipeline_csv_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DbImportWorker.work() equivalent end-to-end
    (DbImportWorker.java:330-686): CSV file → mapping + coercion
    (EU decimal, null sentinel) → join-duplicates dedup → UPSERT into
    customer — one run_import call, executed as scan → split → hash-agg
    dedup → left-join update + anti-join insert."""
    from dbimport_spark.pipeline import run_import

    path = _export_updates_csv(spark, sf_dir)
    source = CsvSource(separator=";", null_value_string="NULL").read(
        spark, path, with_order=True
    )
    target = load(spark, sf_dir, "customer")
    definition = ImportDefinition(
        import_mode=ImportMode.UPSERT,
        duplicate_mode=DuplicateMode.UPDATE_ALL_JOIN,
        key_columns=[KeyColumn("c_custkey")],
        mappings=[
            ColumnMapping("c_custkey", "c_custkey"),
            ColumnMapping("c_name", "c_name"),
            ColumnMapping("c_nationkey", "c_nationkey"),
            ColumnMapping("c_acctbal", "c_acctbal", format_info=","),
            ColumnMapping("c_mktsegment", "c_mktsegment"),
        ],
    )
    result, _invalid, _stats = run_import(definition, source, target)
    return result


@register(
    "merge_clearinsert",
    f"WITH {UPDATES_SQL}, {MERGED_SQL} SELECT {CUST_SEL} FROM merged",
)
def merge_clearinsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLEARINSERT: the target is emptied first, so the post-import table
    is exactly the deduped source (DbImportWorker.java:411-415; overwrite
    write mode in Spark terms)."""
    from dbimport_spark.pipeline import run_import

    source = (
        __import__("dbimport_spark.plans.merge_queries", fromlist=["updates_df"])
        .updates_df(spark, sf_dir)
    )
    target = load(spark, sf_dir, "customer")
    definition = ImportDefinition(
        import_mode=ImportMode.CLEARINSERT,
        duplicate_mode=DuplicateMode.UPDATE_ALL_JOIN,
        key_columns=[KeyColumn("c_custkey")],
    )
    result, _invalid, _stats = run_import(definition, source, target)
    return result.select(*CUST_SEL.split(", "))


# ------------------------------------------------------------ xlsx / ods


@register(
    "src_xlsx_import",
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey <= 150""",
)
def src_xlsx_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xlsx source parsed with the stdlib zip+XML reader (typed numeric /
    string / boolean cells — ExcelDataProvider.java:259-332); numerics
    arrive as doubles and the int columns are down-cast by coercion."""
    from dbimport_spark.sources.excel import read_excel, write_xlsx_minimal

    path = os.path.join(_export_dir(sf_dir), "customer.xlsx")
    rows = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 150)
        .orderBy("c_custkey")
        .collect()
    )
    write_xlsx_minimal(
        path,
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        [[r.c_custkey, r.c_name, r.c_nationkey, r.c_acctbal, r.c_mktsegment] for r in rows],
    )
    df = read_excel(spark, path)
    return df.select(
        F.col("c_custkey").cast("bigint"),
        "c_name",
        F.col("c_nationkey").cast("int"),
        F.col("c_acctbal").cast("double"),
        "c_mktsegment",
    )


@register(
    "src_ods_import",
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_suppkey <= 80""",
)
def src_ods_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS source parsed with the stdlib zip+XML reader (typed cells per
    OdsDataProvider.java's contract)."""
    from dbimport_spark.sources.excel import read_ods, write_ods_minimal

    path = os.path.join(_export_dir(sf_dir), "supplier.ods")
    rows = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 80)
        .orderBy("s_suppkey")
        .collect()
    )
    write_ods_minimal(
        path,
        ["s_suppkey", "s_name", "s_acctbal"],
        [[r.s_suppkey, r.s_name, r.s_acctbal] for r in rows],
    )
    df = read_ods(spark, path)
    return df.select(
        F.col("s_suppkey").cast("bigint"),
        "s_name",
        F.col("s_acctbal").cast("double"),
    )


@register(
    "src_xls_import",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey <= 20""",
)
def src_xls_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy .xls source parsed by the stdlib OLE2+BIFF8 reader
    (ExcelDataProvider.java's HSSF path re-expressed without POI/xlrd)."""
    from dbimport_spark.sources.excel import read_excel
    from dbimport_spark.sources.xls import write_xls_minimal

    path = os.path.join(_export_dir(sf_dir), "nation.xls")
    rows = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") <= 20)
        .orderBy("n_nationkey")
        .collect()
    )
    write_xls_minimal(
        path,
        ["n_nationkey", "n_name", "n_regionkey"],
        [[r.n_nationkey, r.n_name, r.n_regionkey] for r in rows],
    )
    df = read_excel(spark, path)
    return df.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


@register(
    "src_kdbx4",
    """SELECT c_custkey, c_name AS title, c_mktsegment AS username,
       'pw-' || CAST(c_custkey AS VARCHAR) AS password
FROM customer WHERE c_custkey <= 50""",
)
def src_kdbx4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDBX4 (KeePass 2.x current format) source: Argon2d KDF (numpy,
    RFC 9106-validated, sources/argon2.py), header HMAC, HMAC block
    stream, AES-CBC payload, ChaCha20-protected passwords
    (sources/kdbx.py KDBX4 section; reference KdbxDataProvider.java:
    176-273). Fixture written by the from-scratch KDBX4 writer at
    plan-construction time."""
    from dbimport_spark.sources.kdbx import read_kdbx, write_kdbx4_minimal

    rows = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 50)
        .orderBy("c_custkey")
        .collect()
    )
    entries = [
        {
            "title": r.c_name,
            "username": r.c_mktsegment,
            "password": f"pw-{r.c_custkey}",
            "url": str(r.c_custkey),
        }
        for r in rows
    ]
    path = os.path.join(_export_dir(sf_dir), "customers4.kdbx")
    write_kdbx4_minimal(path, entries, "graded-pw4", memory_kib=64, iterations=2)
    df = read_kdbx(spark, path, "graded-pw4")
    return df.select(
        F.col("url").cast("int").alias("c_custkey"),
        F.col("title"),
        F.col("username"),
        F.col("password"),
    )


@register(
    "src_orc_roundtrip",
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier WHERE s_suppkey % 3 = 0""",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar source/sink roundtrip via Spark's built-in connector —
    the lake-format sibling of the file sources (the reference imports
    whatever container lands in the drop directory; columnar parity here
    means a user can point the import surface at ORC as readily as
    parquet/CSV). The write is distributed (no driver materialization)
    and the read-back plan gets the same predicate/column pushdown as a
    parquet scan. The oracle recomputes the slice straight from the
    parquet view — roundtrip identity IS the assertion."""
    path = os.path.join(_export_dir(sf_dir), "supplier_orc")
    sup = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 == 0)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )
    sup.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "src_jsonl_documents",
    """SELECT doc_id, lang, sha256(text) AS text_sha256,
       CAST(strlen(text) AS BIGINT) AS n_chars
FROM documents""",
)
def src_jsonl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL (line-delimited JSON) roundtrip over the document corpus —
    THE interchange format of LLM training data. Write is distributed
    (spark.write.json emits one JSON object per line, splittable on
    read); read-back goes through the same line-based reader the import
    surface uses for `.json` drops, with an explicit schema so the scan
    needs no inference pass. Content fidelity is graded via sha256 of the
    roundtripped text (JSON string escaping must be lossless), recomputed
    by the oracle straight from parquet."""
    path = os.path.join(_export_dir(sf_dir), "documents_jsonl")
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d.write.mode("overwrite").json(path)
    back = spark.read.schema("doc_id bigint, lang string, text string").json(path)
    return back.select(
        "doc_id",
        "lang",
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@register(
    "src_avro_roundtrip",
    """SELECT s_suppkey,
       CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_name END AS s_name,
       s_nationkey, s_acctbal
FROM supplier WHERE s_suppkey % 3 = 1""",
)
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container roundtrip through the from-scratch stdlib
    codec (sources/avro.py — no Avro jar ships with this pyspark): a
    supplier slice, with s_name nulled on a sub-slice to exercise the
    ["null","string"] union branch encoding, is written as deflate-coded
    container part files (one per partition, distributed via mapInPandas)
    and read back through the binaryFile source with per-file task-local
    decode. The oracle recomputes the slice straight from parquet —
    roundtrip identity is the assertion, including null round-tripping
    and double bit-exactness through the little-endian IEEE encoding."""
    from dbimport_spark.sources.avro import read_avro_dir, write_avro_dir

    path = os.path.join(_export_dir(sf_dir), "supplier_avro")
    sup = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 == 1)
        .select(
            "s_suppkey",
            F.when(F.col("s_suppkey") % 5 == 0, F.lit(None))
            .otherwise(F.col("s_name"))
            .alias("s_name"),
            "s_nationkey",
            "s_acctbal",
        )
        .repartition(2)
    )
    write_avro_dir(sup, path, codec="deflate")
    return read_avro_dir(
        spark,
        path,
        "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double",
    )


# ---------------------------------------------------------------- TFRecord


@register(
    "src_tfrecord_roundtrip",
    """SELECT s_suppkey, s_name, s_nationkey,
       CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents,
       CAST(s_nationkey * 0.5 AS DOUBLE) AS score
FROM supplier""",
)
def src_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord + tf.Example roundtrip — the training-data container,
    implemented from the public wire formats alone (sources/tfrecord.py:
    masked-CRC32C framing, varint/length-delimited proto fields, packed
    numeric lists). The supplier table is sharded round-robin into 4
    TFRecord files (a FILE is the format's unit of parallelism), each row
    one tf.Example with int64/bytes/float features; the distributed read
    maps one task per shard and projects typed columns in an Arrow
    kernel. Exactness: money rides as int64 cents (float_list is f32 —
    the wrong place for money, so the fixture keeps a separate f32-exact
    score column to exercise FloatList: n·0.5 is exact in every float
    width). A CRC slip, varint bug, or packed-list misparse corrupts
    every downstream value."""
    import pandas as pd

    from dbimport_spark.sources.tfrecord import (
        dict_to_example,
        example_to_dict,
        read_tfrecords,
        write_tfrecords,
    )

    n_shards = 4
    shard_dir = os.path.join(_export_dir(sf_dir), "supplier_tfrecord")
    os.makedirs(shard_dir, exist_ok=True)
    rows = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            "s_name",
            "s_nationkey",
            F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal_cents"),
        )
        .orderBy("s_suppkey")
        .collect()
    )
    shards: list[list[bytes]] = [[] for _ in range(n_shards)]
    for r in rows:
        shards[r.s_suppkey % n_shards].append(
            dict_to_example(
                {
                    "s_suppkey": [int(r.s_suppkey)],
                    "s_name": [r.s_name.encode("utf-8")],
                    "s_nationkey": [int(r.s_nationkey)],
                    "bal_cents": [int(r.bal_cents)],
                    "score": [float(r.s_nationkey) * 0.5],
                }
            )
        )
    paths = []
    for i, recs in enumerate(shards):
        p = os.path.join(shard_dir, f"part-{i:05d}.tfrecord")
        with open(p, "wb") as fh:
            fh.write(write_tfrecords(recs))
        paths.append(p)

    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(n_shards)

    def kernel(batches):
        for pdf in batches:
            out = []
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    blob = fh.read()
                for rec in read_tfrecords(blob):
                    d = example_to_dict(rec)
                    out.append(
                        (
                            d["s_suppkey"][0],
                            d["s_name"][0].decode("utf-8"),
                            d["s_nationkey"][0],
                            d["bal_cents"][0],
                            float(d["score"][0]),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=["s_suppkey", "s_name", "s_nationkey", "bal_cents", "score"],
            )

    return files.mapInPandas(
        kernel,
        "s_suppkey bigint, s_name string, s_nationkey int, "
        "bal_cents bigint, score double",
    )


# --------------------------------------------------------------- WebDataset


@register(
    "src_webdataset_roundtrip",
    """SELECT doc_id, text, lang, n_chars FROM documents""",
)
def src_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard roundtrip — the multimodal training-data
    layout (sample = adjacent tar members sharing a stem:
    00000042.txt / .cls / .json). The documents table is packed into 4
    shards round-robin (sources/webdataset.py, deterministic bytes), read
    back one-task-per-shard, and each sample's fields are projected to
    typed columns: the text body, the .cls label, and n_chars parsed out
    of the .json metadata — so the oracle is simply the original table.
    Shards are the unit of parallelism AND of corpus shuffling in this
    layout; at 100 TB you add shards, never bigger tars."""
    import json as _json

    import pandas as pd

    from dbimport_spark.sources.webdataset import read_webdataset, write_shard

    n_shards = 4
    shard_dir = os.path.join(_export_dir(sf_dir), "documents_wds")
    os.makedirs(shard_dir, exist_ok=True)
    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    shards: list[list] = [[] for _ in range(n_shards)]
    for r in rows:
        shards[r.doc_id % n_shards].append(
            (
                f"{r.doc_id:08d}",
                {
                    "txt": r.text.encode("utf-8"),
                    "cls": r.lang.encode("utf-8"),
                    "json": _json.dumps({"n_chars": r.n_chars}).encode("utf-8"),
                },
            )
        )
    paths = []
    for i, samples in enumerate(shards):
        p = os.path.join(shard_dir, f"shard-{i:05d}.tar")
        write_shard(p, samples)
        paths.append(p)

    wds = read_webdataset(spark, paths, ["txt", "cls", "json"])

    def project(batches):
        for pdf in batches:
            out = []
            for key, txt, cls, js in zip(
                pdf["key"], pdf["txt"], pdf["cls"], pdf["json"]
            ):
                meta = _json.loads(bytes(js).decode("utf-8"))
                out.append(
                    (
                        int(key),
                        bytes(txt).decode("utf-8"),
                        bytes(cls).decode("utf-8"),
                        int(meta["n_chars"]),
                    )
                )
            yield pd.DataFrame(out, columns=["doc_id", "text", "lang", "n_chars"])

    return wds.mapInPandas(
        project, "doc_id bigint, text string, lang string, n_chars bigint"
    )


@register(
    "src_webdataset_datasource",
    """SELECT doc_id, text, lang, n_chars FROM documents""",
)
def src_webdataset_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shards read through the REGISTERED Spark data source
    (Python DataSource API, Spark 4): spark.read.format("webdataset") —
    the catalog-native spelling of the reference's format-name dispatch
    (DataProvider factory). Spark plans ONE input partition per tar
    shard (sources/pyds.py partitions()), so parallelism is the
    layout's own unit without a hand-built path DataFrame; the field
    projection back to typed columns is all JVM-side (decode +
    get_json_object), no Python kernel after the source itself. Same
    shard bytes and the same oracle as src_webdataset_roundtrip — only
    the READ PATH differs, which is the point: one operator, two API
    surfaces, identical results."""
    import json as _json

    from dbimport_spark.sources.pyds import register_webdataset
    from dbimport_spark.sources.webdataset import write_shard

    register_webdataset(spark)

    n_shards = 4
    shard_dir = os.path.join(_export_dir(sf_dir), "documents_wds_ds")
    os.makedirs(shard_dir, exist_ok=True)
    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    shards: list[list] = [[] for _ in range(n_shards)]
    for r in rows:
        shards[r.doc_id % n_shards].append(
            (
                f"{r.doc_id:08d}",
                {
                    "txt": r.text.encode("utf-8"),
                    "cls": r.lang.encode("utf-8"),
                    "json": _json.dumps({"n_chars": r.n_chars}).encode("utf-8"),
                },
            )
        )
    for i, samples in enumerate(shards):
        write_shard(os.path.join(shard_dir, f"shard-{i:05d}.tar"), samples)

    wds = (
        spark.read.format("webdataset")
        .option("path", os.path.join(shard_dir, "*.tar"))
        .option("exts", "txt,cls,json")
        .load()
    )
    return wds.select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.decode(F.col("txt"), "utf-8").alias("text"),
        F.decode(F.col("cls"), "utf-8").alias("lang"),
        F.get_json_object(F.decode(F.col("json"), "utf-8"), "$.n_chars")
        .cast("bigint")
        .alias("n_chars"),
    )


@register(
    "src_webdataset_distributed_write",
    """SELECT doc_id, text, lang, n_chars FROM documents""",
)
def src_webdataset_distributed_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully DISTRIBUTED WebDataset roundtrip — no driver data path in
    either direction: df.write.format("webdataset") packs each of 4 hash
    partitions into its own tar shard inside the task (the
    DataSourceWriter in sources/pyds.py — this retires the survey's
    known-hard driver-side collect for this layout, because shards are
    many-file by design and the partition IS the shard), then
    format("webdataset") reads the shards back one task per shard and
    the fields project to typed columns JVM-side. At 100 TB this is the
    production export shape: repartition to the target shard count,
    write, and both directions scale with executors."""
    from dbimport_spark.sources.pyds import register_webdataset

    register_webdataset(spark)

    shard_dir = os.path.join(_export_dir(sf_dir), "documents_wds_dist")
    src = load(spark, sf_dir, "documents").select(
        F.format_string("%08d", F.col("doc_id")).alias("key"),
        F.encode(F.col("text"), "utf-8").alias("txt"),
        F.encode(F.col("lang"), "utf-8").alias("cls"),
        F.encode(F.to_json(F.struct(F.col("n_chars"))), "utf-8").alias("json"),
    )
    (
        src.repartition(4, F.col("key"))
        .write.format("webdataset")
        .option("path", shard_dir)
        .mode("overwrite")
        .save()
    )
    wds = (
        spark.read.format("webdataset")
        .option("path", os.path.join(shard_dir, "*.tar"))
        .option("exts", "txt,cls,json")
        .load()
    )
    return wds.select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.decode(F.col("txt"), "utf-8").alias("text"),
        F.decode(F.col("cls"), "utf-8").alias("lang"),
        F.get_json_object(F.decode(F.col("json"), "utf-8"), "$.n_chars")
        .cast("bigint")
        .alias("n_chars"),
    )


# --------------------------------------------------------------- Arrow IPC


@register(
    "src_arrow_ipc_roundtrip",
    """SELECT c_custkey,
       CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END AS c_name,
       c_nationkey, c_acctbal
FROM customer WHERE c_custkey % 3 = 1""",
)
def src_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) roundtrip (sources/arrowipc.py): a
    customer slice with nulls planted on a sub-slice is written as
    bounded-batch .arrow shards (distributed, one file per task) and
    read back through BATCH-RANGE tasks — the driver plans from file
    footers only, and each task memory-maps just its batch slice.
    Roundtrip identity is the assertion: nulls survive the validity
    bitmaps and doubles stay bit-exact through the IEEE columnar
    encoding. At 100 TB this read shape is one task per ~64 MB of
    record batches regardless of file count — the Arrow-native analogue
    of the WARC member-range scan. Small batch_rows + 1 KB target here
    force the fan-out even at fixture scale."""
    from dbimport_spark.sources.arrowipc import (
        read_arrow_ipc_dir,
        write_arrow_ipc_dir,
    )

    path = os.path.join(_export_dir(sf_dir), "customer_arrow")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 1)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
            .otherwise(F.col("c_name"))
            .alias("c_name"),
            "c_nationkey",
            "c_acctbal",
        )
    )
    write_arrow_ipc_dir(cust, path, num_shards=4, key_col="c_custkey", batch_rows=64)
    return read_arrow_ipc_dir(
        spark,
        path,
        "c_custkey bigint, c_name string, c_nationkey bigint, c_acctbal double",
        target_bytes=1 << 10,
    )


# ----------------------------------------------------------- xz/bz2 envelope


@register(
    "src_csv_xz",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def src_csv_xz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xz (LZMA) envelope: no Hadoop codec ships for .xz in this build,
    so the compression pre-step decompresses driver-side (stdlib lzma)
    like the other single-file envelopes, then the normal CSV reader
    runs (DataProvider.java:166-197 — the format-envelope pattern; xz
    itself is a beyond-reference addition). bz2 takes the NATIVE path —
    Spark's Hadoop codec decodes it transparently and SPLITTABLY
    (tests/test_sources.py::test_csv_bz2_native_and_xz_prestep)."""
    import lzma

    path = os.path.join(_export_dir(sf_dir), "nation.csv.xz")
    with lzma.open(path, "wt", encoding="utf-8") as f:
        f.write(_write_nation_csv_text(spark, sf_dir))
    extracted = decompress_if_needed(path, for_spark_text_reader=True)
    df = CsvSource(separator=";").read(spark, extracted, with_order=False)
    return df.select(
        F.col("n_nationkey").cast("int"), "n_name", F.col("n_regionkey").cast("int")
    )


@register(
    "src_csv_zst",
    "SELECT r_regionkey, r_name FROM region",
)
def src_csv_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zstandard envelope through the from-scratch RFC 8878 decoder
    (sources/zstd.py — full FSE/Huffman/sequence stack, differentially
    validated against libzstd in tests/test_zstd.py; the envelope takes
    the native codec fast path only when the frame declares its content
    size). The fixture is compressed BY the reference implementation
    (pyarrow's bundled libzstd), so the graded read exercises real
    encoder output, not self-made frames."""
    import pyarrow as pa

    rows = load(spark, sf_dir, "region").orderBy("r_regionkey").collect()
    text = "r_regionkey;r_name\n" + "".join(
        f"{_csv_cell(r.r_regionkey)};{_csv_cell(r.r_name)}\n" for r in rows
    )
    path = os.path.join(_export_dir(sf_dir), "region.csv.zst")
    with open(path, "wb") as fh:
        fh.write(
            bytes(
                pa.Codec("zstd", compression_level=9).compress(
                    text.encode("utf-8")
                )
            )
        )
    extracted = decompress_if_needed(path, for_spark_text_reader=True)
    df = CsvSource(separator=";").read(spark, extracted, with_order=False)
    return df.select(F.col("r_regionkey").cast("int"), "r_name")


@register(
    "pipeline_reimport_widen",
    """WITH b1 AS (
  SELECT CAST(c_custkey AS BIGINT) AS k,
         CAST(round(c_acctbal * 100) AS BIGINT) AS v
  FROM customer WHERE c_custkey % 2 = 0
), b2 AS (
  SELECT CAST(c_custkey AS BIGINT) AS k,
         CAST(round(c_acctbal * 100) + 10000000000 AS BIGINT) AS v
  FROM customer WHERE c_custkey % 2 = 1
), unioned AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(v) AS BIGINT) AS v_sum,
       CAST(max(v) AS BIGINT) AS v_max,
       CAST(min(v) AS BIGINT) AS v_min
FROM unioned""",
)
def pipeline_reimport_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's RE-IMPORT DECAY end to end (DataProvider.java:
    61-148 detectNextDataType int→bigint), composed through this repo's
    own pipeline pieces: day-1 CSV export infers v as INTEGER and lands
    in a lake table as int32 parquet; day-2's export carries values
    beyond the int range, infers BIGINT, and appends WITHOUT any
    declared widen — the table's footers now mix widths, and the
    append's commit widens the log-carried schema through the widening
    lattice (txnlog._merge_schema: every read is one explicit-schema
    scan that upcasts the int-era files, no rewrite, no manual ALTER). Graded on exact bigint aggregates spanning both eras;
    v_min pins the int-era values surviving the upcast, v_max the
    beyond-int-range era."""
    import shutil

    from dbimport_spark import txnlog
    from dbimport_spark.schema.infer import infer_schema
    from dbimport_spark.sources.csv import CsvSource

    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("k"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    day1 = base.filter(F.col("k") % 2 == 0).select(
        "k", F.col("cents").alias("v")
    )
    day2 = base.filter(F.col("k") % 2 == 1).select(
        "k", (F.col("cents") + F.lit(10_000_000_000)).alias("v")
    )
    exports = []
    for tag, df in (("day1", day1), ("day2", day2)):
        p = os.path.join(_export_dir(sf_dir), f"reimport_{tag}.csv")
        rows = df.orderBy("k").collect()  # export fixture: driver-side by design
        with open(p, "w", encoding="utf-8", newline="") as f:
            f.write("k;v\n")
            for r in rows:
                f.write(f"{r.k};{r.v}\n")
        exports.append(p)

    table = os.path.join(
        tempfile.gettempdir(),
        "dbimport_spark_txn",
        "reimport_widen_" + sf_dir.rstrip("/").replace("/", "_"),
    )
    if os.path.isdir(table):
        shutil.rmtree(table)
    inferred_types = []
    for p in exports:
        raw = CsvSource(separator=";").read(spark, p, with_order=False)
        cols = infer_schema(raw)
        inferred_types.append({c.name: c.data_type for c in cols}["v"])
        typed = raw.select(
            *[F.col(c.name).cast(c.spark_type).alias(c.name) for c in cols]
        )
        txnlog.txn_append(spark, typed, table)
    # the decay actually happened: day1 landed int32, day2 bigint
    assert inferred_types == ["INTEGER", "BIGINT"], inferred_types
    snap = txnlog.read_snapshot(spark, table)
    assert dict(snap.dtypes)["v"] == "bigint"
    return snap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("v").cast("bigint").alias("v_sum"),
        F.max("v").cast("bigint").alias("v_max"),
        F.min("v").cast("bigint").alias("v_min"),
    )
