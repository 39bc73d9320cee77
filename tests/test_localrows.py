"""local_df (VALUES LocalRelation) must be value- and schema-identical
to the spark.createDataFrame spelling it replaces — the engine's
metadata views / SQL result frames / lifecycle verification rows all
route through it, and the oracle hash gate compares their stringified
values, so any rendering drift is a correctness bug, not a perf one."""

import datetime as dt
import math

import pytest
from pyspark.sql import types as T

from local_datalakehouse_phase2_spark.localrows import carried_rows, local_df


def _same(spark, rows, schema):
    a = local_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema, (a.schema, b.schema)
    ra = sorted(map(str, a.collect()))
    rb = sorted(map(str, b.collect()))
    assert ra == rb, (ra, rb)
    return a


def test_scalars_roundtrip(spark):
    rows = [
        (1, "plain", 1.5, True, None),
        (-(2**62), "qu'ote \\ back\nline", -1e-07, False, 7),
        (0, "", 123456.789012, None, None),
    ]
    df = _same(spark, rows, "k bigint, s string, d double, b boolean, n bigint")
    # and it really is the JVM path: a LocalTableScan (few JVM tasks,
    # no Python runner), not a 32-partition pickled-rows parallelize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_float_exactness(spark):
    # repr round-trip must reproduce the exact double bits
    vals = [0.1, 1 / 3, 2.2250738585072014e-308, 1.7976931348623157e308]
    rows = [(v,) for v in vals]
    got = {r[0] for r in local_df(spark, rows, "d double").collect()}
    assert got == set(vals)


def test_nan_inf(spark):
    rows = [(float("nan"),), (float("inf",),), (float("-inf"),)]
    got = local_df(spark, rows, "d double").collect()
    assert sorted(str(r[0]) for r in got) == ["-inf", "inf", "nan"]


def test_temporal_and_binary(spark):
    rows = [
        (
            dt.datetime(2026, 8, 15, 12, 30, 45, 123456),
            dt.date(2026, 1, 2),
            b"\x00\xffbin",
        ),
        (None, None, None),
    ]
    _same(spark, rows, "ts timestamp, d date, raw binary")


def test_arrays_and_maps(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField(
                "m", T.MapType(T.StringType(), T.ArrayType(T.StringType()))
            ),
        ]
    )
    rows = [
        ([1, 2, None], {"x": ["1", None], "y": []}),
        ([], {}),
        (None, None),
    ]
    _same(spark, rows, schema)


def test_fallbacks(spark):
    # empty rows, oversized lists, and unrenderable types must still work
    assert local_df(spark, [], "k bigint").count() == 0
    big = [(i,) for i in range(501)]
    assert local_df(spark, big, "k bigint").count() == 501
    # struct column -> createDataFrame fallback
    schema = T.StructType(
        [
            T.StructField(
                "s", T.StructType([T.StructField("x", T.LongType())])
            )
        ]
    )
    assert local_df(spark, [((1,),)], schema).collect()[0][0][0] == 1


def test_decimal(spark):
    from decimal import Decimal

    rows = [(Decimal("123.45"),), (None,)]
    _same(spark, rows, "d decimal(10,2)")


def test_flat_schema_builds_from_arrow(spark):
    """A flat schema takes the Arrow path: a LocalRelation that carries
    its rows, with values identical to the createDataFrame spelling
    (tests/test_fastwrite.py checks the carried rows against collect)."""
    rows = [
        (1, 7, 0.1, "a'b", b"\x00\xff", dt.date(2024, 1, 2),
         dt.datetime(2024, 1, 2, 3, 4, 5, 123456), True),
        (-(2**62), None, -0.0, "", bytearray(b"x"), None,
         dt.datetime(2024, 6, 1, 12, tzinfo=dt.timezone(dt.timedelta(hours=2))), None),
    ]
    df = _same(
        spark, rows,
        "k bigint, i int, f float, s string, raw binary, dte date, ts timestamp, b boolean",
    )
    assert (
        df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        == "LocalRelation"
    )
    assert carried_rows(df) is not None
    # derived frames never carry the source rows
    assert carried_rows(df.filter("k > 0")) is None
    assert carried_rows(df.select("k")) is None


def test_values_path_and_odd_values_carry_nothing(spark):
    """Non-flat schemas and values whose Python type the column does
    not claim (pyarrow would truncate 1.5 or read bytes as text) take
    the VALUES path, which carries no rows."""
    m = local_df(spark, [({"a": 1},)], "m map<string,bigint>")
    assert carried_rows(m) is None
    assert carried_rows(local_df(spark, [(1.5,)], "k bigint")) is None
    assert carried_rows(local_df(spark, [(b"x",)], "s string")) is None
    assert carried_rows(local_df(spark, [(1,)], "k bigint")) == ((1,),)


def test_declared_non_null_schema_is_exact_without_fallback(spark):
    """Declared non-nullable fields (the metadata views' schemas) plan a
    LocalRelation with the exact declared schema on both paths, JVM
    side included -- no createDataFrame fallback, no Spark job."""
    flat = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("p", T.LongType(), True),
        ]
    )
    nested = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField(
                "m", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True
            ),
            T.StructField("n", T.MapType(T.StringType(), T.StringType()), True),
        ]
    )
    cases = [
        (flat, [(1, dt.datetime(2024, 1, 1), None), (2, dt.datetime(2024, 1, 2), 1)]),
        (nested, [(1, None, {"a": "b"}), (2, {"x": ["1", None]}, None)]),
        (flat, []),
        (nested, []),
    ]
    for schema, rows in cases:
        df = local_df(spark, rows, schema)
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
        assert df.schema == schema
        assert T._parse_datatype_json_string(df._jdf.schema().json()) == schema
        want = spark.createDataFrame(rows, schema).collect()
        assert sorted(map(str, df.collect())) == sorted(map(str, want))


def test_null_in_non_null_field_still_raises(spark):
    """A null where the schema forbids one is rejected, as
    createDataFrame rejects it -- on both paths."""
    for ddl, row in [
        ("k bigint not null", (None,)),
        ("k bigint not null, m map<string,string>", (None, None)),
    ]:
        with pytest.raises(Exception):
            local_df(spark, [row], ddl).collect()
