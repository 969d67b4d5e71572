"""OnlineTopsis: per-window TOPSIS model fitting + time-matched scoring.

Reimplements ``/root/reference/src/main/java/cn/swust/algorithms/topsis/
OnlineTopsis.java:44-586`` and ``OnlineTopsisModel.java:31-224``:

* fit: per event-time tumbling window compute the mean feature vector,
  the window's min record timestamp and the window max timestamp
  (= window end − 1 ms, ``OnlineTopsis.java:160-162``); run the full
  batch TOPSIS over the per-window mean rows; model data = one row
  ``(data, timestamp, score, minTimestamp)`` per window
  (``TopsisModelData.java:32-41``)
* transform: each input row receives the score of the window model whose
  time range covers ``rowtime − maxAllowedModelDelayMs``
  (``OnlineTopsisModel.java:131-163``)

Spark-first architecture: fit is a ``groupBy(window(...))`` aggregation
(parallel across windows — the reference uses a parallelism-1
ProcessAllWindowFunction) followed by batch TOPSIS over the tiny
window-means table. transform is a broadcast range join against the model
table — the declarative equivalent of the reference's stateful
buffer-until-model-arrives operator: rows whose matching model never
arrives are dropped in both implementations (the reference leaves them in
operator state at end-of-input).
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import (
    Estimator,
    HasTimeCol,
    HasWindows,
    Model,
    as_double_array,
)
from flink_ml__spark.operators.topsis import Topsis, TopsisParams


class HasIdCol(Params):
    idCol = Param(Params._dummy(), "idCol",
                  "record-timestamp column (epoch millis)",
                  typeConverter=TypeConverters.toString)

    _defaults = dict(idCol="id")


class OnlineTopsisParams(TopsisParams, HasWindows, HasTimeCol, HasIdCol):
    """``OnlineTopsisParams.java:5-7`` + ``OnlineTopsisModelParams.java:5-6``."""

    maxAllowedModelDelayMs = Param(
        Params._dummy(), "maxAllowedModelDelayMs",
        "a row at time t is scored by the model covering t - delay",
        typeConverter=TypeConverters.toInt)

    _defaults = dict(maxAllowedModelDelayMs=0)


class OnlineTopsisModel(Model, OnlineTopsisParams):
    """Model data: (data array<double>, timestamp long, score double,
    minTimestamp long) — one row per window."""

    def transform(self, df: DataFrame) -> DataFrame:
        # __-prefixed model columns: the input may itself carry
        # timestamp/score/minTimestamp columns (ambiguous-reference
        # AnalysisException otherwise)
        md = self.getModelData().select(
            F.col("timestamp").alias("__ot_max"),
            F.col("score").alias("__ot_score"),
            F.col("minTimestamp").alias("__ot_min"))
        t = (F.unix_millis(F.col(self.getTimeCol()).cast("timestamp"))
             - F.lit(self.getMaxAllowedModelDelayMs()))
        cond = (t >= md["__ot_min"]) & (t <= md["__ot_max"])
        out = df.join(F.broadcast(md), cond, "inner")
        return out.select(*df.columns,
                          F.col("__ot_score").alias(self.getPredictionCol()))


class OnlineTopsis(Estimator, OnlineTopsisParams):

    def window_means(self, df: DataFrame) -> DataFrame:
        """Per-window mean rows ``(data, timestamp, minTimestamp)`` — the
        incremental half of fit. ``data`` holds one mean per criteria
        type (TOPSIS's one-type-per-feature contract), so the plan is
        built without an action and works unchanged on a streaming
        DataFrame (the groupBy(window) aggregation is declarative), which
        is how ``streaming.stream_online_topsis_fit`` reuses it."""
        arr = as_double_array(df, self.getFeaturesCol())
        # TOPSIS requires one criteria type per feature, so the width
        # comes from the params: no action, batch and stream alike
        dims = len(self.getCriteriaTypes())
        idc = F.col(self.getIdCol())

        windows = self.getWindows()
        if windows in (None, "global"):
            grouped = df.groupBy(F.lit(1).alias("__win"))
            ts_expr = F.max(idc).alias("timestamp")
        else:
            grouped = df.groupBy(
                F.window(F.col(self.getTimeCol()), windows).alias("__win"))
            ts_expr = None  # derived from the window struct below

        agg_cols = [
            F.avg(F.element_at(arr, j + 1)).alias(f"__m_{j}")
            for j in range(dims)
        ] + [F.min(idc).alias("minTimestamp")]
        if ts_expr is not None:
            agg_cols.append(ts_expr)
        means = grouped.agg(*agg_cols)
        if ts_expr is None:
            # window max timestamp = end − 1 ms (``OnlineTopsis.java:161``)
            means = means.withColumn(
                "timestamp", F.unix_millis(F.col("__win.end")) - 1)
        return means.select(
            F.array(*[F.col(f"__m_{j}") for j in range(dims)]).alias("data"),
            "timestamp", "minTimestamp")

    def score_means(self, means: DataFrame) -> OnlineTopsisModel:
        """Batch TOPSIS over a (tiny) window-means table → fitted model.
        The normalization spans ALL window rows, so this half is not
        incremental — it reruns over the accumulated means (one row per
        window) when fitting on a stream."""
        scorer = Topsis()
        scorer._set(criteriaTypes=self.getCriteriaTypes(),
                    weights=self.getWeights())
        if self.getBestValue() is not None:
            scorer._set(bestValue=self.getBestValue())
        if self.getIntervalValue() is not None:
            scorer._set(intervalValue=self.getIntervalValue())
        scorer.setFeaturesCol("data").setPredictionCol("score")
        scored = scorer.transform(means).select(
            "data", "timestamp", "score", "minTimestamp")

        model = OnlineTopsisModel().setModelData(scored)
        model._set(**{p.name: self.getOrDefault(p) for p in self.params
                      if self.isSet(p) or self.hasDefault(p)})
        return model

    def fit(self, df: DataFrame) -> OnlineTopsisModel:
        self._validate()
        # materialised once: TOPSIS's two stats passes and the model's
        # broadcast join would each re-scan and re-aggregate the windows
        return self.score_means(
            self.window_means(df).localCheckpoint(eager=True))
