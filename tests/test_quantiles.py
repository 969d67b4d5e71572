"""exact_percentiles: one in-engine kernel, bit-identical to F.percentile.

The kernel gathers the column with ``sort_array(collect_list(x))`` and
replays ``Percentile.getPercentile``'s interpolation in one projection.
These tests compare its output bit for bit with the aggregate itself,
on the edge values where the two could part ways, and check that the
scan feeding the gather stays parallel.
"""

import struct

import pytest
from pyspark.sql import functions as F

from flink_ml__spark.functions.quantiles import exact_percentiles

GRID = [0.0, 0.01, 0.1, 0.25, 0.5, 0.5000000000000001, 0.75, 0.9, 0.99,
        1.0]
NAN, INF = float("nan"), float("inf")


def _mixed_df(spark):
    # duplicates, negatives, nulls, and a half-boundary interpolation
    vals = ([(float(i % 97),) for i in range(1500)]
            + [(-3.25,), (None,), (1e12,), (0.1 + 0.2,)])
    return spark.createDataFrame(vals, "x double")


def _int_df(spark):
    # integer-typed: the kernel must aggregate the column cast to double
    vals = [(i % 89 - 40,) for i in range(1200)] + [(None,), (2 ** 40,)]
    return spark.createDataFrame(vals, "x long")


EDGE_CASES = {
    "signed_zeros": [(0.0,), (-0.0,), (-0.0,), (1.0,), (-1.0,), (0.0,)],
    "nan": [(1.0,), (NAN,), (2.0,), (NAN,), (3.5,), (None,)],
    "infinities": [(INF,), (-INF,), (1.0,), (2.0,), (INF,)],
    "one_row": [(4.2,)],
    "heavy_duplicates": [(1.0,)] * 50 + [(2.0,)] * 3 + [(7.0,)] * 40,
}


def _reference(df, probs):
    row = df.agg(F.percentile(
        F.col("x").cast("double"),
        F.array(*[F.lit(p) for p in probs]))).collect()[0]
    return None if row[0] is None else list(row[0])


def _bits(vals):
    return None if vals is None else [struct.pack(">d", v) for v in vals]


@pytest.mark.parametrize("frame", [_mixed_df, _int_df])
def test_bit_identical_to_percentile(spark, frame):
    df = frame(spark)
    assert exact_percentiles(df, "x", GRID) == _reference(df, GRID)


@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_edge_values_bit_identical(spark, case, parts):
    df = spark.createDataFrame(EDGE_CASES[case], "x double")
    df = df.repartition(parts)
    got = exact_percentiles(df, "x", GRID)
    ref = _reference(df, GRID)
    if case == "signed_zeros":
        # which of two equal zeros sorts first is not pinned (see the
        # module docstring): the values must compare equal
        assert got == ref
    else:
        assert _bits(got) == _bits(ref)


def test_empty_input_returns_none(spark):
    df = spark.createDataFrame([(None,)], "x double")
    assert exact_percentiles(df, "x", [0.5]) is None
    assert exact_percentiles(df.filter("x > 0"), "x", [0.5]) is None


def test_scan_stays_parallel(spark, monkeypatch):
    """The gather must not collapse the scan into one task: the plan
    runs a partial collect_list in the scan tasks, below the one
    exchange to the final aggregate, and has no Coalesce."""
    # patch the CLASSIC subclass — instances dispatch to its override,
    # not to the pyspark.sql.DataFrame facade (Spark 4 classic/connect
    # split)
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    captured = {}
    orig = ClassicDF.collect

    def spy(self):
        captured["plan"] = (self._jdf.queryExecution().executedPlan()
                            .toString())
        return orig(self)

    monkeypatch.setattr(ClassicDF, "collect", spy)
    exact_percentiles(_mixed_df(spark).repartition(4), "x", [0.5])
    plan = captured["plan"]
    final = plan.index("functions=[collect_list(")
    exchange = plan.index("Exchange SinglePartition")
    partial = plan.index("functions=[partial_collect_list(")
    assert final < exchange < partial, plan
    assert "Coalesce" not in plan, plan
