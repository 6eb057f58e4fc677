"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` (single JVM); the configs below are the
ones that matter identically on a 1000-executor cluster:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  dynamic broadcast conversion).
- Arrow on (Pandas UDF batches cross the Python boundary columnar).
- ``spark.sql.session.timeZone=UTC`` — parquet timestamps are naive UTC in
  the test data; this keeps Spark/DuckDB/pandas agreeing bit-for-bit.
- shuffle partitions sized by env (32 locally; on a real cluster this is
  left to AQE's coalescing from a high initial number).

``literal_relation`` is the one way driver-side rows enter a plan.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Union

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    IntegerType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    _make_type_verifier,
)


def get_spark(
    app_name: str = "odc-stac-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the synthetic events table carries TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as int64 nanos and convert
        # in sources.tables (same ns→µs truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


# JSON size above which literal_relation hands its rows to createDataFrame:
# the literal travels inside the plan and every task that runs it, and
# Spark warns about tasks over 1000 KiB
LITERAL_MAX_BYTES = 512 * 1024

# top-level type → (JSON type of its internal value, conversion back)
_FROM_INTERNAL = {
    "timestamp": (LongType(), F.timestamp_micros),
    "date": (IntegerType(), F.date_from_unix_date),
}


def _json_type(dt: DataType, top: bool) -> DataType:
    if top and dt.typeName() in _FROM_INTERNAL:
        return _FROM_INTERNAL[dt.typeName()][0]
    if isinstance(dt, (StructType, TimestampType, TimestampNTZType, DateType)):
        raise TypeError(f"literal_relation: unsupported column type {dt.simpleString()}")
    if isinstance(dt, ArrayType):
        _json_type(dt.elementType, False)
    if isinstance(dt, MapType):
        _json_type(dt.keyType, False)
        _json_type(dt.valueType, False)
    return dt


def literal_relation(
    spark: SparkSession, rows: Iterable, schema: Union[StructType, str]
) -> DataFrame:
    """Driver-side rows as a JVM relation, with no Python-RDD scan.

    Rows are verified and converted with the schema's own ``toInternal``,
    as ``createDataFrame`` does, then travel as ONE JSON literal (O(1)
    py4j calls at any row count) that ``from_json`` + ``inline`` unpack
    over a 1-row range. Top-level timestamp and date columns travel as
    their internal µs and day integers; nested structs, timestamps and
    dates raise ``TypeError``. Every field comes out nullable. Rows whose
    JSON exceeds ``LITERAL_MAX_BYTES`` go through ``createDataFrame``."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    fields = [
        StructField(f.name, _json_type(f.dataType, True)) for f in schema.fields
    ]
    verify = _make_type_verifier(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(dict(zip(schema.names, schema.toInternal(r))))
    data = json.dumps(internal)
    if len(data) > LITERAL_MAX_BYTES:
        return spark.createDataFrame(rows, schema)  # keeps the plan small
    parsed = spark.range(0, 1, 1, 1).select(
        F.inline(
            F.from_json(F.lit(data), ArrayType(StructType(fields)), {"mode": "FAILFAST"})
        )
    )
    cols = []
    for f in schema.fields:
        c = parsed[f.name]
        if f.dataType.typeName() in _FROM_INTERNAL:
            c = _FROM_INTERNAL[f.dataType.typeName()][1](c)
        cols.append(c.alias(f.name))
    return parsed.select(cols)
