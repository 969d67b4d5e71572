"""exact_percentiles: both routes bit-identical to F.percentile.

r13 made the helper two-path (small inputs → the JVM aggregate itself,
large inputs → parallel scan + single Arrow merge task, routed by the
optimizer's driver-side size estimate). Either branch must return the
same bits as ``F.percentile``; these tests force each branch explicitly
so a routing change can never hide a parity break.
"""

import pytest
from pyspark.sql import functions as F

from flink_ml__spark.functions import quantiles
from flink_ml__spark.functions.quantiles import exact_percentiles

GRID = [0.01, 0.1, 0.25, 0.5, 0.5000000000000001, 0.75, 0.9, 0.99]


def _mixed_df(spark):
    # duplicates, negatives, nulls, and a half-boundary interpolation
    vals = ([(float(i % 97),) for i in range(1500)]
            + [(-3.25,), (None,), (1e12,), (0.1 + 0.2,)])
    return spark.createDataFrame(vals, "x double")


def _int_df(spark):
    # integer-typed: both routes must aggregate the column cast to double
    vals = [(i % 89 - 40,) for i in range(1200)] + [(None,), (2 ** 40,)]
    return spark.createDataFrame(vals, "x long")


def _reference(df, probs):
    row = df.agg(F.percentile(
        F.col("x").cast("double"),
        F.array(*[F.lit(p) for p in probs]))).first()
    return None if row[0] is None else list(row[0])


@pytest.mark.parametrize("force_small", [True, False])
def test_both_routes_bit_identical(spark, force_small, monkeypatch):
    monkeypatch.setattr(
        quantiles, "_SMALL_INPUT_BYTES", (1 << 62) if force_small else 0)
    for df in (_mixed_df(spark), _int_df(spark)):
        got = exact_percentiles(df, "x", GRID)
        ref = _reference(df, GRID)
        assert got == ref  # exact equality: both replay the same arithmetic


@pytest.mark.parametrize("force_small", [True, False])
def test_empty_input_returns_none(spark, force_small, monkeypatch):
    monkeypatch.setattr(
        quantiles, "_SMALL_INPUT_BYTES", (1 << 62) if force_small else 0)
    df = spark.createDataFrame([(None,)], "x double")
    assert exact_percentiles(df, "x", [0.5]) is None


def test_large_route_scan_stays_parallel(spark, monkeypatch):
    """The Arrow route must not collapse the scan into the merge task:
    the plan feeding mapInPandas has to carry a round-robin exchange
    (repartition(1)), not a Coalesce(1) (r12 verdict item 2)."""
    # patch the CLASSIC subclass — instances dispatch to its override,
    # not to the pyspark.sql.DataFrame facade (Spark 4 classic/connect
    # split)
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    monkeypatch.setattr(quantiles, "_SMALL_INPUT_BYTES", 0)
    captured = {}
    orig = ClassicDF.mapInPandas

    def spy(self, fn, schema, barrier=False, profile=None):
        captured["plan"] = self._jdf.queryExecution().optimizedPlan().toString()
        return orig(self, fn, schema)

    monkeypatch.setattr(ClassicDF, "mapInPandas", spy)
    exact_percentiles(_mixed_df(spark), "x", [0.5])
    plan = captured["plan"]
    assert "Repartition 1, true" in plan or "REPARTITION_BY_NUM" in plan, plan
    assert "Coalesce" not in plan, plan
