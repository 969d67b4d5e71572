"""SQL-text helpers in ``flink_ml__spark.base``: literals rendered by
``sql_double`` must parse back to the very bits they came from."""

import struct

from pyspark.sql import functions as F

from flink_ml__spark.base import sql_double, sql_ident

VALUES = [float("nan"), float("inf"), float("-inf"), -0.0, 5e-324, 1e308,
          0.1, 1 / 3]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_sql_double_round_trips_bit_exactly(spark):
    row = spark.range(1).select(*[
        F.expr(sql_double(v)).alias(f"c{i}")
        for i, v in enumerate(VALUES)]).collect()[0]
    for v, got in zip(VALUES, row):
        assert isinstance(got, float)
        assert _bits(got) == _bits(v), (v, got)


def test_sql_double_in_arithmetic_and_null(spark):
    # a negative literal after a minus must not start a -- comment
    row = spark.range(1).select(
        F.expr(f"1.0D -{sql_double(-0.5)}").alias("a"),
        F.expr(sql_double(None)).alias("b")).collect()[0]
    assert row["a"] == 1.5
    assert row["b"] is None
    assert dict(spark.range(1).select(
        F.expr(sql_double(None)).alias("b")).dtypes)["b"] == "double"


def test_sql_ident_quotes_any_name(spark):
    df = spark.createDataFrame([(1.5,)], ["we`ird name"])
    got = df.select(F.expr(f"{sql_ident('we`ird name')} * 2")).collect()
    assert got[0][0] == 3.0
