"""Driver-local relations that plan as ``LocalTableScan`` (r12, §2/§5).

``spark.createDataFrame(list)`` always routes through an RDD — the list is
pickled into ``defaultParallelism`` slices and every downstream action pays
task launches plus a Python-worker roundtrip just to re-read rows the
driver already had (measured 0.5-0.8 s per action on a dozen-row relation
on the bench box, multi-second under load waves).  Routing the same rows
through one Arrow table instead plans as a true ``LocalTableScan``: no
RDD, no Python eval at action time, ~0.1 s per action on the same relation
— and any join against it can be broadcast from plan-visible size.

Used for the tiny frames the engine fabricates on the driver: provider
fetch results entering the ingest path, audit tails, rate/term/lag
dimension tables.  Values, schema and every downstream operator are
unchanged — this is purely the leaf's physical encoding.

Timestamp fields decline to the classic path: a naive ``datetime`` means
"driver-local wall clock" there, and replicating that conversion through
Arrow's tz-aware arrays buys nothing for the row counts involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType, TimestampNTZType


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` that plans as LocalTableScan.

    ``rows``: list of tuples/Rows (positional, one value per field) or
    dicts (by name, missing keys NULL-filled).  ``schema``: DDL string
    or StructType.  Anything the Arrow path cannot represent exactly
    falls back to the classic createDataFrame with identical semantics.
    """
    struct = schema
    if not isinstance(struct, StructType):
        try:
            from pyspark.sql.types import _parse_datatype_string

            struct = _parse_datatype_string(schema)
        except Exception:
            return spark.createDataFrame(rows, schema)
    names = struct.fieldNames()
    by_name = bool(rows) and isinstance(rows[0], dict)
    # a positional row of the wrong length goes to the classic path,
    # which raises — zip would silently truncate or NULL-fill it
    if (by_name or all(len(r) == len(names) for r in rows)) and not any(
        isinstance(f.dataType, (TimestampType, TimestampNTZType))
        for f in struct.fields
    ):
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            data = rows if by_name else [dict(zip(names, r)) for r in rows]
            tbl = pa.Table.from_pylist(data, schema=to_arrow_schema(struct))
            return spark.createDataFrame(tbl, struct)
        except Exception:
            pass
    return spark.createDataFrame(rows, struct)
