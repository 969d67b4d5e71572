"""TOPSIS multi-criteria scoring, Spark-first.

Reimplements the semantics of the reference operator
``/root/reference/src/main/java/cn/swust/algorithms/topsis/Topsis.java``
(positive-ization ``Topsis.java:324-385``, normalization ``:299-321``,
ideal-distance score ``:261-297``) as pure Catalyst column arithmetic:

1. one aggregation pass collects the per-column stats the positive-ization
   step needs (col max for *min*-type criteria, max|x-best| for
   *intermediate*, col min/max for *interval* — skipped entirely when every
   criterion is *max*-type);
2. a second (fused) pass computes ``sum(v^2)``, ``max(v)``, ``min(v)`` of
   the positive-ized matrix in a single ``agg`` — the post-normalization
   ideal points are derived analytically from these because normalization
   is a per-column linear scaling (``v * w_j / sqrt(sum v^2)``), so the
   reference's third full pass (``Topsis.java:203-220``) is not needed;
3. the final score ``D- / (D+ + D-)`` is a single whole-stage-codegen
   projection with all stats folded in as literals.

Scale notes: the input is scanned exactly twice (once when any non-max
criterion type is present); no UDFs, no shuffles — the aggregations use
Spark's automatic partial+final merge, replacing the reference's manual
``countWindowAll(parallelism).reduce`` fusion (``Topsis.java:92-112``).

Output schema: input columns + ``predictionCol`` (double). The reference
emits only ``(features, prediction vector[1])``; keeping the input columns
and a scalar score is the Spark-idiomatic superset.
"""

from __future__ import annotations

import math

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import (
    AlgoOperator,
    HasFeaturesCol,
    HasPredictionCol,
    double_array_sql,
    sql_double,
    sql_sum,
)

EXTREMELY_LARGE = 1
EXTREMELY_SMALL = 2
INTERMEDIATE = 3
INTERVAL = 4


class TopsisParams(HasFeaturesCol, HasPredictionCol):
    """Params shared by Topsis and OnlineTopsis (``TopsisParams.java:8-38``)."""

    criteriaTypes = Param(
        Params._dummy(), "criteriaTypes",
        "per-column criteria type: 1=max 2=min 3=intermediate 4=interval",
        typeConverter=TypeConverters.toListInt)
    weights = Param(
        Params._dummy(), "weights", "per-column weight",
        typeConverter=TypeConverters.toListFloat)
    bestValue = Param(
        Params._dummy(), "bestValue",
        "optimal value for intermediate-type criteria",
        typeConverter=TypeConverters.toFloat)
    intervalValue = Param(
        Params._dummy(), "intervalValue",
        "[lo, hi] optimal interval for interval-type criteria",
        typeConverter=TypeConverters.toListFloat)

    _defaults = dict(bestValue=None, intervalValue=None)

    def setCriteriaTypes(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(criteriaTypes=list(value))

    def setWeights(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(weights=list(value))

    def setIntervalValue(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(intervalValue=[float(v) for v in value])

    def _validate(self) -> None:
        """Mirrors ``Topsis.checkCriteriaTypes`` (``Topsis.java:451-465``)."""
        types = self.getCriteriaTypes()
        if not types:
            raise ValueError("criteriaTypes must be a non-empty array")
        for t in types:
            if t not in (EXTREMELY_LARGE, EXTREMELY_SMALL, INTERMEDIATE, INTERVAL):
                raise ValueError(f"unknown criteria type: {t}")
            if t == INTERMEDIATE and self.getBestValue() is None:
                raise ValueError(
                    "The best value of intermediate type criteria must be set")
            if t == INTERVAL:
                iv = self.getIntervalValue()
                if iv is None:
                    raise ValueError(
                        "The interval of interval type criteria must be set")
                if not iv[0] < iv[1]:
                    raise ValueError(
                        "The interval must be a pair of ascending numbers")
        weights = self.getWeights()
        if not weights:
            raise ValueError("weights must be a non-empty array")
        if len(weights) != len(types):
            raise ValueError("weights and criteriaTypes must have equal length")


class Topsis(AlgoOperator, TopsisParams):
    """Batch TOPSIS scorer (reference ``Topsis.java:45-480``)."""

    def transform(self, df: DataFrame) -> DataFrame:
        self._validate()
        types = self.getCriteriaTypes()
        weights = self.getWeights()
        n = len(types)
        # every expression is SQL text, one F.expr each (base.sql_double);
        # a vector features column goes through a helper column
        helper = f"__x_{self.uid}"
        data, arr = double_array_sql(df, self.getFeaturesCol(), helper)
        x = [f"element_at({arr}, {j + 1})" for j in range(n)]

        # -- pass 1: stats needed by positive-ization -----------------------
        aggs = []
        for j, t in enumerate(types):
            if t == EXTREMELY_SMALL:
                aggs.append(f"max({x[j]}) AS max_{j}")
            elif t == INTERMEDIATE:
                best = sql_double(self.getBestValue())
                aggs.append(f"max(abs(({x[j]} - {best}))) AS maxdev_{j}")
            elif t == INTERVAL:
                aggs.append(f"min({x[j]}) AS min_{j}")
                aggs.append(f"max({x[j]}) AS max_{j}")
        stats = (data.agg(*[F.expr(a) for a in aggs]).collect()[0].asDict()
                 if aggs else {})

        # -- positive-ization (``Topsis.java:344-384``) ---------------------
        v = []
        for j, t in enumerate(types):
            if t == EXTREMELY_LARGE:
                v.append(x[j])
            elif t == EXTREMELY_SMALL:
                v.append(f"({sql_double(stats[f'max_{j}'])} - {x[j]})")
            elif t == INTERMEDIATE:
                best = sql_double(self.getBestValue())
                maxdev = sql_double(stats[f"maxdev_{j}"])
                v.append(f"(1 - (abs(({x[j]} - {best})) / {maxdev}))")
            else:  # INTERVAL
                lo, hi = self.getIntervalValue()
                m = sql_double(
                    max(lo - stats[f"min_{j}"], stats[f"max_{j}"] - hi))
                lo, hi = sql_double(lo), sql_double(hi)
                v.append(f"CASE WHEN ({x[j]} < {lo}) "
                         f"THEN (1 - (({lo} - {x[j]}) / {m})) "
                         f"WHEN ({x[j]} <= {hi}) THEN 1.0D "
                         f"ELSE (1 - (({x[j]} - {hi}) / {m})) END")

        # -- pass 2 (fused): sum(v^2) + min/max(v) per column ---------------
        aggs2 = []
        for j in range(n):
            aggs2.append(f"sum(({v[j]} * {v[j]})) AS ssq_{j}")
            aggs2.append(f"max({v[j]}) AS vmax_{j}")
            aggs2.append(f"min({v[j]}) AS vmin_{j}")
        s = data.agg(*[F.expr(a) for a in aggs2]).collect()[0].asDict()
        if s.get("ssq_0") is None and s.get("vmax_0") is None:
            # empty input (or an entirely NULL feature column): no
            # stats exist — emit the score column as NULL instead of
            # crashing on None arithmetic below
            return df.withColumn(self.getPredictionCol(),
                                 F.lit(None).cast("double"))

        # normalization scale and analytic ideal points
        scale, zbest, zworst = [], [], []
        for j in range(n):
            sc = weights[j] / math.sqrt(s[f"ssq_{j}"]) if s[f"ssq_{j}"] else float("inf")
            scale.append(sc)
            hi, lo = s[f"vmax_{j}"] * sc, s[f"vmin_{j}"] * sc
            if sc < 0:
                hi, lo = lo, hi
            zbest.append(hi)
            zworst.append(lo)

        # -- final score projection -----------------------------------------
        def dist(ideal):
            return sql_sum(f"POWER(({sql_double(ideal[j])} - "
                           f"({v[j]} * {sql_double(scale[j])})), 2)"
                           for j in range(n))

        d_best, d_worst = dist(zbest), dist(zworst)
        score = f"(SQRT({d_worst}) / (SQRT({d_best}) + SQRT({d_worst})))"
        return (data.withColumn(self.getPredictionCol(), F.expr(score))
                .drop(helper))
