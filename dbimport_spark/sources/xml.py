"""XML source: `<list><entry><col>value</col>...</entry>...</list>` shape.

Reference: dataprovider/XmlDataProvider.java:139-348 — StAX streaming over
the entry list, `-dp` slash path to the list tag, null sentinel
(:163-166), optional XSD validation (structural-subset validator in
sources/xsd.py — stdlib, no lxml; facets documented out of scope).

Spark has no built-in XML reader in core pyspark; files are parsed in
parallel with one task per file (binaryFile source + mapInPandas using
stdlib xml.etree on each whole file). Row order within a file is document
order; files are ordered by name — same determinism contract as the
reference (DbImport.java:947).
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbimport_spark.frames import local_frame


def _parse_entries(content: bytes, data_path: str | None, null_value: str):
    root = ET.parse(io.BytesIO(content)).getroot()
    list_el = root
    if data_path:
        for part in data_path.strip("/").split("/"):
            if list_el.tag == part:
                continue
            nxt = list_el.find(part)
            if nxt is None:
                raise ValueError(f"dataPath element not found: {part}")
            list_el = nxt
    rows = []
    for entry in list_el:
        row = {}
        for col in entry:
            text = col.text if col.text is not None else ""
            row[col.tag] = None if text == null_value else text
        rows.append(row)
    return rows


def read_xml(
    spark: SparkSession,
    path: str,
    data_path: str | None = None,
    null_value_string: str = "",
    with_order: bool = True,
    schema_file_path: str | None = None,
) -> DataFrame:
    """Distributed whole-file XML parse → string columns + _src_order.

    ``schema_file_path`` mirrors the reference's `-schemaFilePath`: every
    matched document is validated against the XSD before import and a
    violation aborts (XmlDataProvider.java:289-302; structural-subset
    validator, see sources/xsd.py)."""
    import pandas as pd

    if schema_file_path:
        import glob as _glob

        from dbimport_spark.sources.xsd import validate_xml_against_xsd

        for f in sorted(_glob.glob(path)) or [path]:
            validate_xml_against_xsd(f, schema_file_path)

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches):
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                for i, row in enumerate(_parse_entries(r["content"], data_path, null_value_string)):
                    out.append({"__file": r["path"], "__file_pos": i, "__row": row})
            yield pd.DataFrame(
                out, columns=["__file", "__file_pos", "__row"]
            ) if out else pd.DataFrame({"__file": [], "__file_pos": [], "__row": []})

    parsed = files.mapInPandas(
        parse, "`__file` string, `__file_pos` long, `__row` map<string,string>"
    )
    # union of keys across rows = schema (reference: dynamic columns)
    keys = sorted(
        r["k"]
        for r in parsed.select(F.explode(F.map_keys("__row")).alias("k")).distinct().collect()
    )
    cols = [F.col("__row").getItem(k).alias(k) for k in keys]
    out = parsed.select("__file", "__file_pos", *cols)
    if with_order:
        from pyspark.sql import Window

        w_files = sorted(r["__file"] for r in out.select("__file").distinct().collect())
        rank = {f: i for i, f in enumerate(w_files)}
        rank_df = local_frame(spark, list(rank.items()), "__file string, __frank int")
        out = (
            out.join(F.broadcast(rank_df), "__file")
            .withColumn(
                "_src_order",
                F.row_number().over(
                    Window.orderBy("__frank", "__file_pos")
                ).cast("long") - 1,
            )
        )
    return out.drop("__file", "__file_pos", "__frank")
