"""Data-driven schema inference replicating the reference's type lattice.

Reference: DataProvider.detectNextDataType (DataProvider.java:61-148):
* empty values contribute nothing (:76-79)
* any value > 4000 chars (or `file` format-info) → BLOB, sticky (:75,80-81)
* with a date-pattern format-info: pattern containing h/m/s → TIMESTAMP
  else DATE (:82-100)
* otherwise try datetime → date → Integer → BIGINT → DOUBLE (≤20-char
  guard :95,114) → BOOLEAN, else VARCHAR(max observed UTF-8 byte length)
* conflicting types decay to VARCHAR.

The reference folds row-at-a-time; here the whole lattice is ONE
aggregation pass (count of values parseable at each lattice level per
column) — map-side combined, one job regardless of column count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbimport_spark.operators.coerce import (
    DATETIME_FALLBACK_PATTERNS,
    _FALSE_WORDS,
    _TRUE_WORDS,
)
from dbimport_spark.operators.order import SRC_ORDER_COL

DATE_ONLY_PATTERNS = ["yyyy-MM-dd", "dd.MM.yyyy", "MM/dd/yyyy"]

# Java Integer.parseInt/Long.parseLong accept only optional sign + digits
# (DataProvider.java:101-146 routes through them); Spark's try_cast is
# equally strict but the guard pins the reference grammar explicitly so
# oracle SQL can mirror it engine-independently.
INT_GRAMMAR_RE = r"^[+-]?[0-9]+$"


@dataclass
class InferredColumn:
    name: str
    data_type: str  # INTEGER | BIGINT | DOUBLE | BOOLEAN | DATE | TIMESTAMP | VARCHAR | BLOB
    size: int | None = None  # byte length for VARCHAR

    @property
    def spark_type(self) -> str:
        return {
            "INTEGER": "int",
            "BIGINT": "bigint",
            "DOUBLE": "double",
            "BOOLEAN": "boolean",
            "DATE": "date",
            "TIMESTAMP": "timestamp",
            "VARCHAR": "string",
            "BLOB": "binary",
        }[self.data_type]


def _counts_for(col: str, fmt: str | None):
    c = F.col(col).cast("string")
    s = F.trim(c)
    nonempty = c.isNotNull() & (s != "")
    exprs = {
        "n": F.sum(nonempty.cast("long")),
        "max_bytes": F.max(F.octet_length(c)),
    }
    if fmt in (",", "."):
        # numeric format info (reference: ',' = EU decimal comma, '.' =
        # decimal point; the other separator is thousands): normalize,
        # then count how many values are numeric / integral
        if fmt == ",":
            norm = F.replace(F.replace(s, F.lit("."), F.lit("")), F.lit(","), F.lit("."))
        else:
            norm = F.replace(s, F.lit(","), F.lit(""))
        exprs["n_pattern"] = F.sum(
            (nonempty & norm.try_cast("double").isNotNull()).cast("long")
        )
        exprs["n_pattern_int"] = F.sum(
            (
                nonempty
                & norm.rlike(INT_GRAMMAR_RE)
                & norm.try_cast("bigint").isNotNull()
            ).cast("long")
        )
        return exprs
    if fmt in ("lc", "uc", "email"):
        # string-transform infos: the column is textual by declaration
        return exprs
    if fmt and fmt != "file":
        # explicit date pattern: does every non-empty value parse?
        parsed = F.try_to_timestamp(s, F.lit(fmt))
        exprs["n_pattern"] = F.sum((nonempty & parsed.isNotNull()).cast("long"))
        return exprs
    dt = F.coalesce(*[F.try_to_timestamp(s, F.lit(p)) for p in DATETIME_FALLBACK_PATTERNS])
    d = F.coalesce(*[F.try_to_timestamp(s, F.lit(p)) for p in DATE_ONLY_PATTERNS])
    short = F.length(s) <= 20
    exprs.update(
        {
            "n_datetime": F.sum((nonempty & dt.isNotNull()).cast("long")),
            "n_dateonly": F.sum((nonempty & d.isNotNull()).cast("long")),
            "n_int": F.sum(
                (nonempty & short & s.rlike(INT_GRAMMAR_RE) & s.try_cast("int").isNotNull()).cast("long")
            ),
            "n_bigint": F.sum(
                (nonempty & short & s.rlike(INT_GRAMMAR_RE) & s.try_cast("bigint").isNotNull()).cast("long")
            ),
            "n_double": F.sum((nonempty & short & s.try_cast("double").isNotNull()).cast("long")),
            "n_bool": F.sum(
                (nonempty & F.lower(s).isin(*(_TRUE_WORDS + _FALSE_WORDS))).cast("long")
            ),
        }
    )
    return exprs


def infer_schema(
    df: DataFrame,
    format_infos: dict[str, str] | None = None,
    blob_threshold: int = 4000,
) -> list[InferredColumn]:
    """One-pass lattice inference over a string-read DataFrame."""
    format_infos = format_infos or {}
    cols = [c for c in df.columns if c != SRC_ORDER_COL]
    aggs = []
    for c in cols:
        for key, expr in _counts_for(c, format_infos.get(c)).items():
            aggs.append(expr.alias(f"{c}\x00{key}"))
    row = df.agg(*aggs).collect()[0].asDict()
    out: list[InferredColumn] = []
    for c in cols:
        g = {k.split("\x00", 1)[1]: v for k, v in row.items() if k.startswith(c + "\x00")}
        n = g["n"] or 0
        max_bytes = g["max_bytes"] or 0
        fmt = format_infos.get(c)
        if fmt == "file" or max_bytes > blob_threshold:
            out.append(InferredColumn(c, "BLOB"))
            continue
        if n == 0:
            out.append(InferredColumn(c, "VARCHAR", size=max(max_bytes, 1)))
            continue
        if fmt in ("lc", "uc", "email"):
            out.append(InferredColumn(c, "VARCHAR", size=max_bytes))
            continue
        if fmt in (",", "."):
            if g.get("n_pattern_int", 0) == n:
                out.append(InferredColumn(c, "BIGINT"))
            elif g.get("n_pattern", 0) == n:
                out.append(InferredColumn(c, "DOUBLE"))
            else:
                out.append(InferredColumn(c, "VARCHAR", size=max_bytes))
            continue
        if fmt:
            if g.get("n_pattern", 0) == n:
                has_time = any(ch in fmt for ch in ("H", "h", "m", "s"))
                out.append(InferredColumn(c, "TIMESTAMP" if has_time else "DATE"))
            else:
                out.append(InferredColumn(c, "VARCHAR", size=max_bytes))
            continue
        if g["n_dateonly"] == n:
            out.append(InferredColumn(c, "DATE"))
        elif g["n_datetime"] == n:
            out.append(InferredColumn(c, "TIMESTAMP"))
        elif g["n_int"] == n:
            out.append(InferredColumn(c, "INTEGER"))
        elif g["n_bigint"] == n:
            out.append(InferredColumn(c, "BIGINT"))
        elif g["n_double"] == n:
            out.append(InferredColumn(c, "DOUBLE"))
        elif g["n_bool"] == n:
            out.append(InferredColumn(c, "BOOLEAN"))
        else:
            out.append(InferredColumn(c, "VARCHAR", size=max_bytes))
    return out


def create_table_ddl(table: str, columns: list[InferredColumn]) -> str:
    """CREATE TABLE statement from inferred columns
    (createTableIfNeeded, DbImportWorker.java:709-758)."""
    defs = []
    for c in columns:
        if c.data_type == "VARCHAR":
            defs.append(f"`{c.name}` STRING")
        elif c.data_type == "BLOB":
            defs.append(f"`{c.name}` BINARY")
        else:
            defs.append(f"`{c.name}` {c.data_type.replace('INTEGER', 'INT')}")
    return f"CREATE TABLE IF NOT EXISTS {table} ({', '.join(defs)}) USING parquet"
