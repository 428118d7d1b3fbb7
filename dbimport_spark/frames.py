"""Driver-built frames as Arrow local relations.

Every small frame the library computes on the driver (row-order offsets,
file lists for ``mapInPandas`` readers, checkpoint suffix ops, deletion
vector positions, an empty created table) goes through ``local_frame``.

``spark.createDataFrame(list, schema)`` plans as a ``LogicalRDD`` over a
Python RDD: each evaluation starts one Python worker task per
default-parallelism slice, even for two rows (0.41 s wall and 0.87 s of
worker CPU per evaluation on a 4-core VM). The same rows as a
``pyarrow.Table`` plan as a ``LocalRelation`` (``LocalTableScan``),
which the JVM serves without a Python process (0.027 s). The Arrow path
does not depend on ``spark.sql.execution.arrow.pyspark.enabled``.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import DateType, StructType, TimestampNTZType, TimestampType


def local_frame(spark, rows: Iterable[Any], schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in field order, or dicts by field name) as a
    DataFrame of ``schema`` (a ``StructType`` or a DDL string) that plans
    as a local relation and starts no Python worker.

    Dates and timestamps take the values ``createDataFrame(list)`` would
    give them: a naive ``datetime`` is local time for ``TimestampType``
    and wall-clock time for ``TimestampNTZType``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    names = schema.names
    values = [
        [r.get(n) for n in names] if isinstance(r, dict) else r for r in rows
    ]
    columns = []
    for i, (field, atype) in enumerate(zip(schema.fields, arrow_schema)):
        col = [v[i] for v in values]
        dt = field.dataType
        if isinstance(dt, (DateType, TimestampType, TimestampNTZType)):
            # Spark's own internal value (days / micros since the epoch),
            # then Arrow's storage type of the same width
            store = pa.int32() if isinstance(dt, DateType) else pa.int64()
            col = pa.array([dt.toInternal(x) for x in col], store).cast(atype.type)
        else:
            col = pa.array(col, atype.type)
        columns.append(col)
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)
