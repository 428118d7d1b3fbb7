"""Coercion kernel: per-column (source, target_type, format_info) -> expression.

Rebuilds DbImportWorker.validateAndSetParameter
(/root/reference/src/main/java/de/soderer/dbimport/DbImportWorker.java:1113-1607)
as pure Spark column expressions — whole-stage-codegen'd, no Python UDFs in
the hot path. Every coercion is a *try*-expression: a non-empty input that
fails to parse marks the ROW invalid (reference: row error + skip,
DbImportWorker.java:1003-1019), it never silently nulls.

Supported format infos (DbImportMappingDialog.java:286-326):
  '.'   US decimal      — ',' grouping stripped      (DbImportWorker.java:1145-1176)
  ','   EU decimal      — '.' grouping, ',' point    (DbImportWorker.java:1177-1208)
  'lc' / 'uc'           — lower/upper case           (:1316-1331)
  'email'               — lower+trim+validate        (:1332-1342)
  date/datetime pattern — strict Java pattern        (:1343-1371)
  (no format)           — type-directed defaults incl. the datetime
                          fallback cascade (:1386-1410, :1454-1479)

Timezone shift: parsed local datetimes are interpreted in the import-data
timezone and converted to the database timezone
(DbImportWorker.java:1346-1348, :1574-1583; golden Dublin→Berlin +1h at
DbImportTest_HSQL.java:1451-1494).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbimport_spark.config import ColumnMapping

# Fallback parse cascade for datetime/date values without an explicit
# pattern (reference: locale-dependent cascade at DbImportWorker.java:1386-1410;
# we pin the ISO + common European orderings the test corpus uses).
DATETIME_FALLBACK_PATTERNS = [
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "dd.MM.yyyy HH:mm:ss",
    "dd.MM.yyyy HH:mm",
    "MM/dd/yyyy HH:mm:ss",
    "yyyy-MM-dd",
    "dd.MM.yyyy",
    "MM/dd/yyyy",
]
DATE_FALLBACK_PATTERNS = [
    "yyyy-MM-dd",
    "dd.MM.yyyy",
    "MM/dd/yyyy",
    # datetime-in-date-column fallback (DbImportWorker.java:1427-1453)
    "yyyy-MM-dd HH:mm:ss",
    "dd.MM.yyyy HH:mm:ss",
]

EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"
_BASE64_RE = r"^[A-Za-z0-9+/]*={0,2}$"

# Accepted boolean spellings (reference Utilities.interpretAsBool; golden
# tests only exercise true/false — keep the conservative superset).
_TRUE_WORDS = ("true", "yes", "y", "ja", "j", "1", "on")
_FALSE_WORDS = ("false", "no", "n", "nein", "0", "off")


@dataclass
class CoercionResult:
    value: Column   # coerced value (null when input null/empty or unparseable)
    error: Column   # boolean: non-empty input that failed to parse/validate


def _nonempty(src: Column) -> Column:
    return src.isNotNull() & (F.trim(src.cast("string")) != F.lit(""))


def _java_pattern_to_spark(pattern: str) -> str:
    """Java SimpleDateFormat/DateTimeFormatter patterns map ~1:1 onto
    Spark's (both are DateTimeFormatter dialects). The reference rewrites
    yyyy→uuuu for the strict resolver (DbImportWorker.java:1635-1653);
    Spark's CORRECTED parser treats yyyy as year-of-era which is identical
    for CE dates, so we keep the pattern as-is."""
    return pattern


def coerce_decimal(src: Column, fmt: str, target_type: str = "double") -> CoercionResult:
    """'.' (US) / ',' (EU) decimal coercion.

    US: strip ',' grouping then parse. EU: strip '.' grouping, ','→'.'.
    Integer targets stay integral when no decimal point present
    (DbImportWorker.java:1145-1208).
    """
    s = F.trim(src.cast("string"))
    if fmt == ".":
        cleaned = F.regexp_replace(s, ",", "")
    elif fmt == ",":
        cleaned = F.regexp_replace(F.regexp_replace(s, r"\.", ""), ",", ".")
    else:
        raise ValueError(f"not a decimal format: {fmt!r}")
    value = cleaned.try_cast(target_type)
    return CoercionResult(value=value, error=_nonempty(src) & value.isNull())


def coerce_case(src: Column, fmt: str) -> CoercionResult:
    value = F.lower(src.cast("string")) if fmt == "lc" else F.upper(src.cast("string"))
    return CoercionResult(value=value, error=F.lit(False))


def coerce_email(src: Column) -> CoercionResult:
    """lower+trim then RFC-ish validation; invalid → row error
    (DbImportWorker.java:1332-1342)."""
    value = F.lower(F.trim(src.cast("string")))
    ok = value.rlike(EMAIL_RE)
    return CoercionResult(
        value=F.when(ok, value), error=_nonempty(src) & ~ok
    )


def coerce_datetime(
    src: Column,
    pattern: str | None = None,
    import_tz: str | None = None,
    db_tz: str | None = None,
    fallback_patterns: list[str] | None = None,
) -> CoercionResult:
    """Strict datetime parse with explicit pattern or fallback cascade,
    plus import-tz → db-tz wall-clock shift."""
    s = F.trim(src.cast("string"))
    if pattern:
        parsed = F.try_to_timestamp(s, F.lit(_java_pattern_to_spark(pattern)))
    else:
        cascade = fallback_patterns or DATETIME_FALLBACK_PATTERNS
        parsed = F.coalesce(*[F.try_to_timestamp(s, F.lit(p)) for p in cascade])
    if import_tz and db_tz and import_tz != db_tz:
        parsed = F.from_utc_timestamp(F.to_utc_timestamp(parsed, import_tz), db_tz)
    return CoercionResult(value=parsed, error=_nonempty(src) & parsed.isNull())


def coerce_date(
    src: Column,
    pattern: str | None = None,
    fallback_patterns: list[str] | None = None,
) -> CoercionResult:
    """Date parse; a datetime under a date-only pattern still parses
    (truncated) per DbImportTest_HSQL.java:1406-1448."""
    s = F.trim(src.cast("string"))
    if pattern:
        parsed = F.coalesce(
            F.try_to_timestamp(s, F.lit(pattern)).cast("date"),
            # datetime-in-date-column fallback: pattern + ' HH:mm:ss'
            F.try_to_timestamp(s, F.lit(pattern + " HH:mm:ss")).cast("date"),
        )
    else:
        cascade = fallback_patterns or DATE_FALLBACK_PATTERNS
        parsed = F.coalesce(*[F.try_to_timestamp(s, F.lit(p)).cast("date") for p in cascade])
    return CoercionResult(value=parsed, error=_nonempty(src) & parsed.isNull())


def coerce_boolean(src: Column) -> CoercionResult:
    s = F.lower(F.trim(src.cast("string")))
    value = (
        F.when(s.isin(*_TRUE_WORDS), F.lit(True))
        .when(s.isin(*_FALSE_WORDS), F.lit(False))
    )
    return CoercionResult(value=value, error=_nonempty(src) & value.isNull())


def coerce_integer(src: Column, target_type: str = "int") -> CoercionResult:
    """Integer coercion; accepts true/false → 1/0 like the reference
    (DbImportWorker.java:1511-1516), and widens values containing '.' to a
    double parse instead of flagging the row (DbImportWorker.java:1517-1535:
    setDouble on the int column; the DB then converts). HSQLDB — the
    reference's primary test DB — rounds on double→int conversion, so we pin
    round-half-up (F.round) as the written value."""
    s = F.trim(src.cast("string"))
    as_bool = (
        F.when(F.lower(s) == "true", F.lit(1)).when(F.lower(s) == "false", F.lit(0))
    )
    widened = F.when(s.contains("."), F.round(s.try_cast("double")))
    value = F.coalesce(
        s.try_cast(target_type), as_bool.cast(target_type), widened.cast(target_type)
    )
    return CoercionResult(value=value, error=_nonempty(src) & value.isNull())


def coerce_blob_base64(src: Column) -> CoercionResult:
    """Base64 text cell → bytes (DbImportWorker.java:1484-1487).

    Whitespace is stripped BEFORE the length%4 gate so MIME-wrapped base64
    (newlines every 76 chars) decodes instead of being flagged."""
    s = F.regexp_replace(F.trim(src.cast("string")), r"\s", "")
    ok = s.rlike(_BASE64_RE) & (F.length(s) % 4 == 0)
    value = F.when(ok, F.unbase64(s))
    return CoercionResult(value=value, error=_nonempty(src) & ~ok)


def coerce_file_blob(src: Column) -> CoercionResult:
    """`file` format-info: the cell value is a PATH; the cell becomes the
    file's bytes, with per-value gz/zip/tgz decompression
    (DbImportWorker.java:1209-1315). Missing/unreadable file → row error.

    Executed as an Arrow-batched pandas UDF — the paths must be reachable
    from executors (shared storage), the same contract the reference has
    for its import host."""
    import pandas as pd

    def _read_file_fn(paths):
        import gzip as _gzip
        import tarfile as _tarfile
        import zipfile as _zipfile

        contents, oks = [], []
        for p in paths:
            if p is None or str(p).strip() == "":
                contents.append(None)
                oks.append(True)  # empty → NULL cell, not an error
                continue
            p = str(p).strip()
            try:
                low = p.lower()
                if low.endswith((".tar.gz", ".tgz", ".tar")):
                    with _tarfile.open(p) as tf:
                        member = next(m for m in tf.getmembers() if m.isfile())
                        data = tf.extractfile(member).read()
                elif low.endswith(".zip"):
                    with _zipfile.ZipFile(p) as zf:
                        names = [n for n in zf.namelist() if not n.endswith("/")]
                        if len(names) != 1:
                            raise ValueError("zip must contain exactly one entry")
                        data = zf.read(names[0])
                elif low.endswith(".gz"):
                    with _gzip.open(p, "rb") as fh:
                        data = fh.read()
                else:
                    with open(p, "rb") as fh:
                        data = fh.read()
                contents.append(data)
                oks.append(True)
            except Exception:
                contents.append(None)
                oks.append(False)
        return pd.DataFrame({"content": contents, "ok": oks})

    read_file = F.pandas_udf(_read_file_fn, "struct<content:binary, ok:boolean>")
    res = read_file(src.cast("string"))
    return CoercionResult(value=res.getField("content"), error=~res.getField("ok"))


def coerce_string(src: Column, trim: bool = False) -> CoercionResult:
    s = src.cast("string")
    return CoercionResult(value=F.trim(s) if trim else s, error=F.lit(False))


def build_coercion(
    src: Column,
    target_type: str,
    format_info: str | None = None,
    import_tz: str | None = None,
    db_tz: str | None = None,
    trim: bool = False,
) -> CoercionResult:
    """Dispatch table mirroring validateAndSetParameter's type switch
    (DbImportWorker.java:1113-1607)."""
    t = target_type.lower()
    if format_info == "file":
        return coerce_file_blob(src)
    if format_info in (".", ","):
        num_t = t if t in ("int", "bigint", "double", "float") else "double"
        return coerce_decimal(src, format_info, num_t)
    if format_info in ("lc", "uc"):
        return coerce_case(src, format_info)
    if format_info == "email":
        return coerce_email(src)
    if t in ("timestamp", "datetime"):
        return coerce_datetime(src, pattern=format_info, import_tz=import_tz, db_tz=db_tz)
    if t == "date":
        return coerce_date(src, pattern=format_info)
    if t in ("int", "integer"):
        return coerce_integer(src, "int")
    if t in ("bigint", "long"):
        return coerce_integer(src, "bigint")
    if t in ("double", "float"):
        s = F.trim(src.cast("string"))
        value = s.try_cast("double")
        return CoercionResult(value=value, error=_nonempty(src) & value.isNull())
    if t in ("boolean", "bool"):
        return coerce_boolean(src)
    if t in ("binary", "blob"):
        return coerce_blob_base64(src)
    return coerce_string(src, trim=trim)


ERRORS_COL = "__errors"  # array<string> of per-column errors; empty = valid row


def project_mappings(
    df: DataFrame,
    mappings: list[ColumnMapping],
    target_types: dict[str, str],
    import_tz: str | None = None,
    db_tz: str | None = None,
    trim: bool = False,
    null_value_string: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Project source → target schema with per-column coercion, one row
    per source row, carrying the row's coercion errors in ``ERRORS_COL``.

    This is the reference's temp table (DbImportWorker.java:438-469): a
    caller that reads both sides of the split persists this frame once
    and takes ``split_valid`` of it.
    """
    values: list[Column] = []
    errors: list[Column] = []
    for m in mappings:
        ttype = target_types.get(m.target, "string")
        if m.source is None:
            values.append(F.lit(None).cast(_spark_type(ttype)).alias(m.target))
            continue
        src = F.col(m.source)
        if null_value_string:
            src = F.when(src.cast("string") == F.lit(null_value_string), None).otherwise(src)
        res = build_coercion(src, ttype, m.format_info, import_tz, db_tz, trim)
        values.append(res.value.cast(_spark_type(ttype)).alias(m.target))
        errors.append(
            F.when(res.error, F.lit(f"invalid value for {m.target}")).otherwise(F.lit(None))
        )
    err_arr = F.array_compact(F.array(*errors)) if errors else F.array().cast("array<string>")
    keep = [F.col(c) for c in (keep_cols or []) if c in df.columns]
    return df.select(*keep, *values, err_arr.alias(ERRORS_COL))


def is_valid() -> Column:
    """Row predicate over a ``project_mappings`` frame: no coercion error."""
    return F.size(ERRORS_COL) == 0


def split_valid(projected: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid_with_reason) filters over a ``project_mappings`` frame.

    The invalid side-output mirrors the reference's erroneous-row routing
    (DbImportWorker.java:1003-1019 + filterDataItems extraction).
    """
    valid = projected.filter(is_valid()).drop(ERRORS_COL)
    invalid = projected.filter(~is_valid()).withColumn(
        "error_reason", F.array_join(ERRORS_COL, "; ")
    ).drop(ERRORS_COL)
    return valid, invalid


def apply_mappings(
    df: DataFrame,
    mappings: list[ColumnMapping],
    target_types: dict[str, str],
    import_tz: str | None = None,
    db_tz: str | None = None,
    trim: bool = False,
    null_value_string: str = "",
    keep_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``split_valid(project_mappings(...))``: the (valid, invalid) split
    for callers that read one side, or accept re-running the projection
    per action."""
    return split_valid(project_mappings(
        df, mappings, target_types, import_tz=import_tz, db_tz=db_tz, trim=trim,
        null_value_string=null_value_string, keep_cols=keep_cols,
    ))


def _spark_type(t: str) -> str:
    t = t.lower()
    return {
        "integer": "int",
        "long": "bigint",
        "datetime": "timestamp",
        "bool": "boolean",
        "blob": "binary",
        "clob": "string",
        "varchar": "string",
    }.get(t, t)
