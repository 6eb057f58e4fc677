"""``literal_relation`` puts driver-side rows into a plan as one JSON
literal; it must give the same rows and schema as ``createDataFrame`` for
every schema the package feeds it, and never a Python-RDD scan."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql.types import (
    DateType,
    LongType,
    NullType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from odc_stac_spark.session import LITERAL_MAX_BYTES, literal_relation
from odc_stac_spark.sources.webdataset import _ROW_SCHEMA

NAN, INF = float("nan"), float("inf")


def _key_map(kt):
    return StructType([StructField("t", LongType()), StructField("_plan_k", kt)])


# one schema per call site, with the edge values the JSON trip must keep
CASES = {
    "cms_params": (
        "i INT, a BIGINT, b BIGINT",
        [(0, 2**53 + 1, -(2**62)), (1, None, 2**63 - 1)],
    ),
    "kmeans_centroids": (
        "cent_id int, cemb array<double>, cnrm double",
        [(0, [0.1, NAN, INF, -INF, None, -0.0], 1 / 3), (1, None, NAN), (2, [], 5e-324)],
    ),
    "ivf_centroids": ("cent_id int, cemb array<double>", [(0, [1e308, -2.5e-308])]),
    "qc_weights": (
        "word STRING, wt DOUBLE",
        [("héllo", 0.5), ("～😀", -1e-300), (None, 1.7976931348623157e308), ('q"\\\n\t', None)],
    ),
    "retention_days": ("day_n int", [(1,), (-(2**31),), (2**31 - 1,), (None,)]),
    "oov_vocab_sizes": ("vocab_size int", []),
    "bpe_merges": (
        "step INT, left STRING, right STRING, merged STRING, pair_count BIGINT",
        [(1, "ü", "😀", "ü😀", 9007199254740993)],
    ),
    "q7_empty": ("supp_nation string, cust_nation string, l_year int, revenue double", []),
    "quality_empty": (
        "check string, column string, violations bigint, total bigint, passed boolean",
        [],
    ),
    "webdataset_empty": (_ROW_SCHEMA, []),
    "stac_docs": ("value string", [(json.dumps({"id": "ü～😀"}),), ("",)]),
    "key_timestamp": (
        _key_map(TimestampType()),
        [
            (0, None),
            (1, dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
            (2, dt.datetime(1900, 1, 1, 0, 0, 0, 1)),
            (3, dt.datetime(2023, 6, 1, 10, 30)),
        ],
    ),
    "key_date": (_key_map(DateType()), [(0, None), (1, dt.date(1960, 2, 29))]),
    "key_void": (_key_map(NullType()), [(0, None)]),
    "key_string": (_key_map(StringType()), [(0, None), (1, "～"), (2, "😀")]),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(CASES))
def test_same_rows_and_schema_as_create_dataframe(spark, name):
    schema, rows = CASES[name]
    want = spark.createDataFrame(rows, schema)
    got = literal_relation(spark, rows, schema)
    assert got.schema == want.schema
    # repr: NaN never equals itself, but prints the same
    assert repr(got.collect()) == repr(want.collect())
    assert "ExistingRDD" not in _plan(got)


@pytest.mark.parametrize("over", [0, 1])
def test_size_cap_is_bytes_and_falls_back_with_same_rows(spark, over):
    base = len(json.dumps([{"value": ""}]))
    rows = [("x" * (LITERAL_MAX_BYTES - base + over),)]
    got = literal_relation(spark, rows, "value string")
    assert ("ExistingRDD" in _plan(got)) == bool(over)
    assert got.collect() == spark.createDataFrame(rows, "value string").collect()


@pytest.mark.parametrize(
    "schema", ["s struct<a:int>", "a array<timestamp>", "m map<string,date>", "t timestamp_ntz"]
)
def test_nested_struct_and_datetime_types_are_rejected(spark, schema):
    with pytest.raises(TypeError):
        literal_relation(spark, [], schema)


def test_rows_are_verified_like_create_dataframe(spark):
    with pytest.raises(TypeError):
        spark.createDataFrame([(1,)], "x double")
    with pytest.raises(TypeError):
        literal_relation(spark, [(1,)], "x double")
