"""Feature-generation operators.

Counterparts of the reference's ``featureGeneration`` package
(``/root/reference/src/main/java/cn/swust/algorithms/featureGeneration/``),
all expressed with built-in Spark SQL functions — no UDFs anywhere.

* ``TimeFeatureExtractor``  ← ``time/TimeFeatureExtractor2.java:27-105``
* ``MeanImputer``           ← ``mean/MeanImputer.java:18-73`` +
  ``mean/MeanImputerModel.java:21-80``
* ``StandardScaler``        ← ``standardScaler/StandardScaler.java:15-40``
  (the reference model is a passthrough stub — ``StandardScalerModel
  .java:62-64`` admits it; we implement the intended scaling and keep a
  ``passthrough`` compat mode)
* ``AutoFeatureTransformer``← ``AutoFeatureTransformer.java:38-227``

Scale notes: the reference's MeanImputer computes the mean by collecting
the entire stream to the driver (``MeanImputer.java:41-58``); here it is
one distributed ``agg(avg)`` — a single partial+final aggregation pass
regardless of input size.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_ml__spark.base import (
    AlgoOperator,
    Estimator,
    HasInputCol,
    HasOutputCol,
    HasOutputCols,
    HasRelativeError,
    Model,
    sql_double,
    sql_ident,
    sql_sum,
)

# strict yyyy-MM-dd guard, mirroring the reference's DATE_PATTERN
# (``AutoFeatureTransformer.java:106-112``) and Java's strict
# ``LocalDate.parse`` (``TimeFeatureExtractor2.java:74-85``): anything
# non-conforming maps to null, never an error.
_DATE_PATTERN = r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])$"


class TimeFeatureExtractor(AlgoOperator, HasInputCol, HasOutputCols):
    """Parse ``yyyy-MM-dd`` strings → (year int, month '%02d', day '%02d').

    Output contains ONLY the three generated columns (reference quirk,
    ``TimeFeatureExtractor2.java:48-57``); garbage/null input yields
    (null, null, null).
    """

    _defaults = dict(outputCols=["year", "month", "day"])

    def transform(self, df: DataFrame) -> DataFrame:
        out = self.getOutputCols()
        if len(out) != 3:
            raise ValueError("outputCols must have exactly 3 names")
        src = F.col(self.getInputCol())
        d = F.when(src.rlike(_DATE_PATTERN), F.try_to_date(src, "yyyy-MM-dd"))
        return df.select(
            F.year(d).alias(out[0]),
            F.lpad(F.month(d).cast("string"), 2, "0").alias(out[1]),
            F.lpad(F.dayofmonth(d).cast("string"), 2, "0").alias(out[2]),
        )


class _SingleColOutputParams(HasInputCol):
    outputCol = Param(
        Params._dummy(), "outputCol", "output column name",
        typeConverter=TypeConverters.toString)


class MeanImputerModel(Model, _SingleColOutputParams):
    """Replaces nulls with the fitted mean; emits ONLY ``outputCol``
    (reference quirk, ``MeanImputerModel.java:37-43``)."""

    _state = ("_mean_value",)

    _defaults = dict(outputCol="imputed_value")

    def __init__(self, mean_value: float | None = None):
        super().__init__()
        self._mean_value = mean_value

    @property
    def meanValue(self) -> float:
        return self._mean_value

    def transform(self, df: DataFrame) -> DataFrame:
        mean = self.meanValue
        return df.select(
            F.coalesce(F.col(self.getInputCol()).cast("double"), F.lit(mean))
            .alias(self.getOutputCol()))


class MeanImputer(Estimator, _SingleColOutputParams):
    """Column mean over non-nulls → ``MeanImputerModel``.

    Distributed ``agg(avg)`` instead of the reference's driver-side
    collect loop (``MeanImputer.java:41-58``); mean of an all-null or
    empty column is 0 (``MeanImputer.java:58``).
    """

    _defaults = dict(outputCol="imputed_value")

    def fit(self, df: DataFrame) -> MeanImputerModel:
        row = df.agg(
            F.avg(F.col(self.getInputCol()).cast("double")).alias("mean")
        ).collect()[0]
        mean = row["mean"] if row["mean"] is not None else 0.0
        model = MeanImputerModel(float(mean))
        model._set(inputCol=self.getInputCol(), outputCol=self.getOutputCol())
        return model


class StandardScalerModel(Model, _SingleColOutputParams):
    """(x - mean) / std, or identity in ``passthrough`` compat mode."""

    passthrough = Param(
        Params._dummy(), "passthrough",
        "reproduce the reference stub's identity behavior "
        "(StandardScalerModel.java:52-66)",
        typeConverter=TypeConverters.toBoolean)

    _state = ("_mean", "_std")

    _defaults = dict(outputCol="scaled_value", passthrough=False)

    def __init__(self, mean: float | None = None, std: float | None = None):
        super().__init__()
        self._mean, self._std = mean, std

    def transform(self, df: DataFrame) -> DataFrame:
        x = F.col(self.getInputCol()).cast("double")
        if self.getOrDefault(self.passthrough):
            expr = x
        else:
            std = self._std if self._std else 1.0
            expr = (x - F.lit(self._mean)) / F.lit(std)
        return df.select(expr.alias(self.getOutputCol()))


class StandardScaler(Estimator, _SingleColOutputParams):
    """Fits mean/std for z-scaling (the behavior the reference stub
    intended); set ``passthrough`` on the model for bug-compat output."""

    _defaults = dict(outputCol="scaled_value")

    def fit(self, df: DataFrame) -> StandardScalerModel:
        x = F.col(self.getInputCol()).cast("double")
        row = df.agg(F.avg(x).alias("mean"),
                     F.stddev_samp(x).alias("std")).collect()[0]
        mean = row["mean"] if row["mean"] is not None else 0.0
        std = row["std"] if row["std"] is not None else 1.0
        model = StandardScalerModel(float(mean), float(std))
        model._set(inputCol=self.getInputCol(), outputCol=self.getOutputCol())
        return model


class AutoFeatureTransformer(AlgoOperator):
    """Schema-driven feature pipeline (``AutoFeatureTransformer.java:38-227``).

    Dispatch per column dtype:

    * string  → date features appended as ``<col>_year/_month/_day``
      (only when the column looks like ``yyyy-MM-dd``)
    * double  → mean-imputed copy appended as ``<col>_imputed``.
      NOTE: uses real null-mean imputation; the reference's 0.0-sentinel
      (``AutoFeatureTransformer.java:141-211``) conflates genuine zeros
      with missing values — a bug SURVEY.md flags as not-to-copy.
    * int     → one-hot encoding appended as ``<col>_onehot``
      (``pyspark.ml.feature.OneHotEncoder``, matching the reference's use
      of flink-ml OneHotEncoder, ``AutoFeatureTransformer.java:67-75``)

    All other column types pass through untouched.

    ``setHandleInvalid("keep")`` routes NULL / unseen int values to an
    extra one-hot bucket instead of the default crash-on-invalid
    ("error", the reference's behavior — negative values always
    raise, as in the reference). High-cardinality int ids should not
    be auto-one-hotted at all; cast them to bigint-as-double or drop
    them before this stage.
    """

    handleInvalid = Param(Params._dummy(), "handleInvalid",
                          "OneHotEncoder invalid-value policy: "
                          "'error' (reference behavior) or 'keep'",
                          TypeConverters.toString)

    _defaults = dict(handleInvalid="error")

    def setHandleInvalid(self, v):
        if v not in ("error", "keep"):
            raise ValueError("handleInvalid must be 'error' or 'keep'")
        return self._set(handleInvalid=v)

    def transform(self, df: DataFrame) -> DataFrame:
        out = df
        onehot_cols = []
        # one fused aggregation pass for every double column's mean —
        # per-column aggregates would scan the input once per column
        double_cols = [f.name for f in df.schema.fields
                       if isinstance(f.dataType, T.DoubleType)]
        means = {}
        if double_cols:
            row = df.agg(
                *[F.avg(c).alias(c) for c in double_cols]).collect()[0]
            means = {c: (row[c] if row[c] is not None else 0.0)
                     for c in double_cols}
        for field in df.schema.fields:
            c = field.name
            if isinstance(field.dataType, T.StringType):
                src = F.col(c)
                d = F.when(src.rlike(_DATE_PATTERN),
                           F.try_to_date(src, "yyyy-MM-dd"))
                out = out.withColumns({
                    f"{c}_year": F.year(d),
                    f"{c}_month": F.lpad(F.month(d).cast("string"), 2, "0"),
                    f"{c}_day": F.lpad(F.dayofmonth(d).cast("string"), 2, "0"),
                })
            elif isinstance(field.dataType, T.DoubleType):
                out = out.withColumn(
                    f"{c}_imputed",
                    F.coalesce(F.col(c), F.lit(float(means[c]))))
            elif isinstance(field.dataType, (T.IntegerType, T.LongType, T.ShortType)):
                onehot_cols.append(c)
        if onehot_cols:
            from pyspark.ml.feature import OneHotEncoder

            hi = self.getOrDefault(self.handleInvalid)
            enc = OneHotEncoder(
                inputCols=onehot_cols,
                outputCols=[f"{c}_onehot" for c in onehot_cols],
                dropLast=False, handleInvalid=hi)
            # keep mode: fit sizes categories from the VALID rows
            # (OneHotEncoder.fit itself rejects NULLs regardless of
            # handleInvalid); transform then routes invalids to the
            # extra bucket
            fit_src = (out.na.drop(subset=onehot_cols) if hi == "keep"
                       else out)
            out = enc.fit(fit_src).transform(out)
        return out


class WinsorizerModel(Model, _SingleColOutputParams):
    """Fitted percentile clip (see :class:`Winsorizer`): appends
    ``outputCol`` = input clamped to the fitted ``[lo, hi]``
    (NULL passes through). Map-only codegen projection — the bounds
    are folded in as literals."""

    _state = ("_lo", "_hi")

    def __init__(self, lo: float | None = None, hi: float | None = None):
        super().__init__()
        self._lo, self._hi = lo, hi

    def transform(self, df: DataFrame) -> DataFrame:
        x = F.col(self.getInputCol()).cast("double")
        # greatest/least skip NULL operands (they would resurrect a
        # NULL input as the bound) — guard explicitly
        clipped = F.when(x.isNotNull(),
                         F.least(F.greatest(x, F.lit(self._lo)),
                                 F.lit(self._hi)))
        return df.withColumn(self.getOutputCol(), clipped)


class Winsorizer(Estimator, _SingleColOutputParams, HasRelativeError):
    """Percentile winsorization — clamp a numeric feature to its
    ``[lowerPct, upperPct]`` EXACT interpolated percentiles (the
    standard outlier guard before scaling/regression; Dixon 1960).
    Exact ``percentile`` (the default) keeps the fit SQL-replayable;
    ``setRelativeError(>0)`` switches to the bounded-memory
    ``approx_percentile`` sketch for 100 TB fits (``HasRelativeError``).
    The per-group variant of the same cut lives in ``CorpusProfiler``'s
    stats.

    Fit is one aggregate (two interpolated order statistics — Spark
    sorts only within the aggregation buffer); the model is two
    doubles and its transform a map-only projection.
    """

    lowerPct = Param(Params._dummy(), "lowerPct",
                     "lower clip percentile in [0, 1]",
                     TypeConverters.toFloat)
    upperPct = Param(Params._dummy(), "upperPct",
                     "upper clip percentile in [0, 1]",
                     TypeConverters.toFloat)

    _defaults = dict(outputCol="winsorized", lowerPct=0.05,
                     upperPct=0.95)

    def fit(self, df: DataFrame) -> WinsorizerModel:
        lo_p = self.getOrDefault(self.lowerPct)
        hi_p = self.getOrDefault(self.upperPct)
        if not 0.0 <= lo_p < hi_p <= 1.0:
            raise ValueError("need 0 <= lowerPct < upperPct <= 1")
        c = self.getInputCol()
        row = df.agg(
            F.expr(self._percentile_sql(c, lo_p)).alias("lo"),
            F.expr(self._percentile_sql(c, hi_p)).alias("hi")).collect()[0]
        if row["lo"] is None:
            raise ValueError("no non-null values to fit on")
        model = WinsorizerModel(float(row["lo"]), float(row["hi"]))
        model._set(inputCol=c, outputCol=self.getOutputCol())
        return model


class JsonColumnParser(AlgoOperator, HasInputCol):
    """Semi-structured column expansion: parse a JSON string column
    against a DECLARED schema and append each field as a typed
    top-level column (optionally prefixed).

    The schema-declared ``from_json`` is the 100 TB shape for JSON
    props/payload columns: one codegen projection, no sampling pass,
    and the resulting typed columns participate in predicate pushdown
    and column pruning downstream — unlike per-query
    ``get_json_object`` string probes (which re-parse the document per
    field) or driver-side schema inference (which scans the data
    twice). Malformed or NULL JSON yields NULL fields (PERMISSIVE
    mode), never a failed job.

    ``setSchema`` takes a DDL string (``"k INT, tag STRING"``).
    """

    schema = Param(Params._dummy(), "schema",
                   "DDL schema of the JSON object",
                   typeConverter=TypeConverters.toString)
    prefix = Param(Params._dummy(), "prefix",
                   "prefix for the extracted column names",
                   typeConverter=TypeConverters.toString)

    _defaults = dict(inputCol="props", schema="k INT", prefix="")

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.types import StructType

        ddl = self.getOrDefault(self.schema)
        pre = self.getOrDefault(self.prefix)
        parsed = F.from_json(F.col(self.getInputCol()), ddl)
        out = df.withColumn("__j", parsed)
        for f in StructType.fromDDL(ddl).fieldNames():
            out = out.withColumn(f"{pre}{f}", F.col(f"__j.{f}"))
        return out.drop("__j")


class MinMaxScalerModel(Model, _SingleColOutputParams):
    """Fitted range rescale: maps the input onto
    ``[featureMin, featureMax]`` via ``(x - min) / (max - min)``.
    A constant column (max == min) maps every value to the midpoint of
    the target range, matching the pyspark.ml / Flink ML convention.
    NULL passes through. Map-only codegen projection — the fitted
    bounds are folded in as literals."""

    featureMin = Param(Params._dummy(), "featureMin",
                       "lower bound of the output range",
                       TypeConverters.toFloat)
    featureMax = Param(Params._dummy(), "featureMax",
                       "upper bound of the output range",
                       TypeConverters.toFloat)

    _state = ("_lo", "_hi")

    _defaults = dict(outputCol="scaled_value",
                     featureMin=0.0, featureMax=1.0)

    def __init__(self, lo: float | None = None, hi: float | None = None):
        super().__init__()
        self._lo, self._hi = lo, hi

    def transform(self, df: DataFrame) -> DataFrame:
        fmin = self.getOrDefault(self.featureMin)
        fmax = self.getOrDefault(self.featureMax)
        x = F.col(self.getInputCol()).cast("double")
        if self._hi == self._lo:
            # degenerate fit: every non-null value is the same — emit
            # the midpoint (pyspark.ml MinMaxScalerModel's 0.5 rule)
            expr = F.when(x.isNotNull(), F.lit((fmin + fmax) / 2.0))
        else:
            unit = (x - F.lit(self._lo)) / F.lit(self._hi - self._lo)
            expr = unit * F.lit(fmax - fmin) + F.lit(fmin)
        return df.withColumn(self.getOutputCol(), expr)


class MinMaxScaler(Estimator, _SingleColOutputParams):
    """Min-max range scaling onto ``[featureMin, featureMax]``
    (default [0, 1]).

    Fit is ONE distributed ``agg(min, max)`` — two partial-merge
    scalars regardless of input size; the model transform is a
    map-only projection, so the pair composes into exactly one scan +
    one map pass at any scale. Contrast pyspark.ml's
    vector-assembler-based MinMaxScaler, which forces an intermediate
    vector column; this operates on the raw numeric column.
    """

    _defaults = dict(outputCol="scaled_value")

    def fit(self, df: DataFrame) -> MinMaxScalerModel:
        x = F.col(self.getInputCol()).cast("double")
        row = df.agg(F.min(x).alias("lo"), F.max(x).alias("hi")).collect()[0]
        if row["lo"] is None:
            raise ValueError("no non-null values to fit on")
        model = MinMaxScalerModel(float(row["lo"]), float(row["hi"]))
        model._set(inputCol=self.getInputCol(),
                   outputCol=self.getOutputCol())
        return model


class MaxAbsScalerModel(Model, _SingleColOutputParams):
    """Fitted ``x / max(|x|)`` rescale onto [-1, 1]; preserves zero
    (and therefore sparsity) and sign. An all-zero fit divides by 1,
    leaving the column unchanged (pyspark.ml convention). NULL passes
    through. Map-only projection."""

    _state = ("_max_abs",)

    _defaults = dict(outputCol="scaled_value")

    def __init__(self, max_abs: float | None = None):
        super().__init__()
        self._max_abs = max_abs

    def transform(self, df: DataFrame) -> DataFrame:
        x = F.col(self.getInputCol()).cast("double")
        denom = self._max_abs if self._max_abs else 1.0
        return df.withColumn(self.getOutputCol(), x / F.lit(denom))


class MaxAbsScaler(Estimator, _SingleColOutputParams):
    """Max-absolute-value scaling: one ``agg(max(abs(x)))`` fit, one
    map-only apply. The scaler of choice for already-centered or
    sparse features, since it never shifts zero."""

    _defaults = dict(outputCol="scaled_value")

    def fit(self, df: DataFrame) -> MaxAbsScalerModel:
        x = F.col(self.getInputCol()).cast("double")
        row = df.agg(F.max(F.abs(x)).alias("m")).collect()[0]
        if row["m"] is None:
            raise ValueError("no non-null values to fit on")
        model = MaxAbsScalerModel(float(row["m"]))
        model._set(inputCol=self.getInputCol(),
                   outputCol=self.getOutputCol())
        return model


class RobustScalerModel(Model, _SingleColOutputParams):
    """Fitted ``(x - median) / (q_hi - q_lo)`` rescale — outlier-robust
    centering and spread (scikit-learn RobustScaler semantics).
    ``withCentering=False`` skips the median shift;
    ``withScaling=False`` skips the IQR division. A zero fitted range
    divides by 1. NULL passes through. Map-only projection."""

    withCentering = Param(Params._dummy(), "withCentering",
                          "subtract the fitted median",
                          TypeConverters.toBoolean)
    withScaling = Param(Params._dummy(), "withScaling",
                        "divide by the fitted quantile range",
                        TypeConverters.toBoolean)

    _state = ("_median", "_range")

    _defaults = dict(outputCol="scaled_value",
                     withCentering=True, withScaling=True)

    def __init__(self, median: float | None = None,
                 q_range: float | None = None):
        super().__init__()
        self._median, self._range = median, q_range

    def setWithCentering(self, v):
        return self._set(withCentering=bool(v))

    def setWithScaling(self, v):
        return self._set(withScaling=bool(v))

    def transform(self, df: DataFrame) -> DataFrame:
        expr = F.col(self.getInputCol()).cast("double")
        if self.getOrDefault(self.withCentering):
            expr = expr - F.lit(self._median)
        if self.getOrDefault(self.withScaling):
            expr = expr / F.lit(self._range if self._range else 1.0)
        return df.withColumn(self.getOutputCol(), expr)


class RobustScaler(Estimator, _SingleColOutputParams, HasRelativeError):
    """Quantile-based robust scaling: center on the median, scale by
    the ``[lowerPct, upperPct]`` quantile range (default IQR,
    [0.25, 0.75]).

    Fit is ONE aggregate computing all three order statistics from a
    single percentile evaluation (one sort buffer serves the whole cut
    list). Exact ``percentile`` by default so the DuckDB oracle can
    replay the fit verbatim; ``setRelativeError(>0)`` switches to the
    mergeable Greenwald-Khanna ``approx_percentile`` sketch — the
    bounded-memory production path for 100 TB high-cardinality
    columns (see ``HasRelativeError``)."""

    lowerPct = Param(Params._dummy(), "lowerPct",
                     "lower quantile of the scaling range",
                     TypeConverters.toFloat)
    upperPct = Param(Params._dummy(), "upperPct",
                     "upper quantile of the scaling range",
                     TypeConverters.toFloat)

    _defaults = dict(outputCol="scaled_value",
                     lowerPct=0.25, upperPct=0.75)

    def fit(self, df: DataFrame) -> RobustScalerModel:
        lo_p = self.getOrDefault(self.lowerPct)
        hi_p = self.getOrDefault(self.upperPct)
        if not 0.0 <= lo_p < hi_p <= 1.0:
            raise ValueError("need 0 <= lowerPct < upperPct <= 1")
        c = self.getInputCol()
        row = df.agg(F.expr(self._percentile_sql(
            c, [lo_p, 0.5, hi_p])).alias("q")).collect()[0]
        if row["q"] is None or row["q"][1] is None:
            raise ValueError("no non-null values to fit on")
        lo, med, hi = (float(v) for v in row["q"])
        model = RobustScalerModel(med, hi - lo)
        model._set(inputCol=c, outputCol=self.getOutputCol())
        return model


class QuantileDiscretizerModel(Model, _SingleColOutputParams):
    """Fitted quantile binning: maps a numeric column to an integer
    bucket index in ``[0, len(edges)]`` via the fitted interior edges
    (value <= edge[i] → bucket i; above the last edge → the top
    bucket). NULL → NULL. The edges fold into ONE map-side CASE chain
    — no join, no shuffle, whole-stage codegen."""

    _state = ("_edges",)

    _defaults = dict(outputCol="bucket")

    def __init__(self, edges: list[float] | None = None):
        super().__init__()
        self._edges = edges

    @property
    def edges(self) -> list[float]:
        return list(self._edges)

    def transform(self, df: DataFrame) -> DataFrame:
        x = F.col(self.getInputCol()).cast("double")
        expr = F.when(x.isNull(), F.lit(None).cast("int"))
        for i, e in enumerate(self._edges):
            expr = expr.when(x <= F.lit(e), F.lit(i))
        expr = expr.otherwise(F.lit(len(self._edges)))
        return df.withColumn(self.getOutputCol(), expr)


class QuantileDiscretizer(Estimator, _SingleColOutputParams,
                          HasRelativeError):
    """Equal-frequency binning into ``numBuckets`` buckets — the
    general form of the corpus-percentile cut ``PerplexityBucketer``
    applies to LM scores.

    Fit evaluates the ``numBuckets - 1`` interior quantiles in ONE
    percentile aggregate (a single sort buffer serves the whole cut
    list), then de-duplicates edges, so heavily-tied columns simply
    produce fewer buckets (pyspark.ml QuantileDiscretizer semantics).
    Exact by default for SQL-oracle replay; ``setRelativeError(>0)``
    is the sketch-backed 100 TB path. The model transform is a folded
    CASE chain — map-only at any scale."""

    numBuckets = Param(Params._dummy(), "numBuckets",
                       "number of equal-frequency buckets (>= 2)",
                       TypeConverters.toInt)

    _defaults = dict(outputCol="bucket", numBuckets=4)

    def setNumBuckets(self, v):
        v = int(v)
        if v < 2:
            raise ValueError("numBuckets must be >= 2")
        return self._set(numBuckets=v)

    def fit(self, df: DataFrame) -> QuantileDiscretizerModel:
        n = self.getOrDefault(self.numBuckets)
        pcts = [i / n for i in range(1, n)]
        c = self.getInputCol()
        row = df.agg(
            F.expr(self._percentile_sql(c, pcts)).alias("q")).collect()[0]
        if row["q"] is None or row["q"][0] is None:
            raise ValueError("no non-null values to fit on")
        edges: list[float] = []
        for v in row["q"]:
            v = float(v)
            if not edges or v > edges[-1]:
                edges.append(v)
        model = QuantileDiscretizerModel(edges)
        model._set(inputCol=c, outputCol=self.getOutputCol())
        return model


class MadOutlierModel(Model, _SingleColOutputParams):
    """Fitted robust z-score flagging: appends ``<outputCol>`` =
    ``(x − median) / (1.4826 · MAD)`` and ``<outputCol>_outlier`` =
    |robust z| > threshold. The 1.4826 factor makes MAD a consistent
    σ estimator under normality (Hampel 1974). A zero MAD (over half
    the values identical) leaves z NULL and flags only values ≠
    median. NULL passes through. Map-only folded-literal projection."""

    threshold = Param(Params._dummy(), "threshold",
                      "|robust z| beyond which a value is an outlier",
                      TypeConverters.toFloat)

    _state = ("_median", "_mad")

    _defaults = dict(outputCol="robust_z", threshold=3.5)

    def __init__(self, median: float | None = None,
                 mad: float | None = None):
        super().__init__()
        self._median, self._mad = median, mad

    def transform(self, df: DataFrame) -> DataFrame:
        x = F.col(self.getInputCol()).cast("double")
        oc = self.getOutputCol()
        thr = self.getOrDefault(self.threshold)
        scale = 1.4826 * self._mad if self._mad else 0.0
        if scale > 0:
            z = (x - F.lit(self._median)) / F.lit(scale)
            flag = F.when(x.isNotNull(), F.abs(z) > thr)
        else:
            z = F.lit(None).cast("double")
            flag = F.when(x.isNotNull(), x != F.lit(self._median))
        return (df.withColumn(oc, z)
                .withColumn(f"{oc}_outlier", flag))


class MadOutlierDetector(Estimator, _SingleColOutputParams,
                         HasRelativeError):
    """Median/MAD robust outlier detection — the heavy-tail-safe
    alternative to mean/std z-scores (a single extreme value moves the
    mean and inflates std, masking itself; the median and the median
    absolute deviation ignore it).

    Fit is TWO bounded aggregations (median, then median of
    |x − median| — the second needs the first as a literal); both use
    exact ``percentile`` by default for SQL-oracle replay and switch
    to the Greenwald-Khanna sketch via ``setRelativeError(>0)`` at
    100 TB. The model transform is map-only.
    """

    _defaults = dict(outputCol="robust_z")

    def fit(self, df: DataFrame) -> MadOutlierModel:
        c = self.getInputCol()
        row = df.agg(
            F.expr(self._percentile_sql(c, 0.5)).alias("m")).collect()[0]
        if row["m"] is None:
            raise ValueError("no non-null values to fit on")
        med = float(row["m"])
        dev = df.select(F.abs(F.col(c).cast("double") - F.lit(med))
                        .alias("__d"))
        row2 = dev.agg(
            F.expr(self._percentile_sql("__d", 0.5)).alias("m")).collect()[0]
        model = MadOutlierModel(med, float(row2["m"]))
        model._set(inputCol=c, outputCol=self.getOutputCol())
        return model


class FeatureAssembler(AlgoOperator):
    """VectorAssembler counterpart: packs numeric columns into ONE
    ``array<double>`` feature column — the glue between tabular
    features and the array-input estimators (KMeans, FCM, PCA, ANN).

    ``handleInvalid``: 'error' (default) fails the job on a NULL in
    any input column (Spark MLlib behavior), 'keep' emits NULL array
    elements, 'skip' nulls the whole output array for rows with any
    NULL. Pure codegen projection — zero shuffle, batch == stream.
    """

    inputCols = Param(Params._dummy(), "inputCols",
                      "numeric columns to assemble, in order",
                      TypeConverters.toListString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "assembled array column", TypeConverters.toString)
    handleInvalid = Param(Params._dummy(), "handleInvalid",
                          "'error' | 'keep' | 'skip'",
                          TypeConverters.toString)

    _defaults = dict(outputCol="features", handleInvalid="error")

    def setInputCols(self, *v):
        cols = list(v[0]) if len(v) == 1 and not isinstance(v[0], str) \
            else list(v)
        return self._set(inputCols=cols)

    def setHandleInvalid(self, v):
        if v not in ("error", "keep", "skip"):
            raise ValueError("handleInvalid must be error|keep|skip")
        return self._set(handleInvalid=v)

    def transform(self, df: DataFrame) -> DataFrame:
        cols = self.getOrDefault(self.inputCols)
        mode = self.getOrDefault(self.handleInvalid)
        parts = [F.col(c).cast("double") for c in cols]
        arr = F.array(*parts)
        any_null = None
        for p in parts:
            any_null = p.isNull() if any_null is None \
                else (any_null | p.isNull())
        if mode == "error":
            msg = F.concat(F.lit("FeatureAssembler: NULL among "),
                           F.lit(",".join(cols)))
            arr = F.when(any_null, F.raise_error(msg)).otherwise(arr)
        elif mode == "skip":
            arr = F.when(~any_null, arr)
        return df.withColumn(self.getOrDefault(self.outputCol), arr)


class GroupedStandardScalerModel(Model, _SingleColOutputParams):
    """Fitted per-group z-scaling: ``(x − mean_g) / std_g`` via a
    broadcast join on the group (the moments table is the model,
    group-cardinality-sized). Unseen groups and NULL values yield
    NULL; a single-valued group (std NULL/0) divides by 1."""

    groupCol = Param(Params._dummy(), "groupCol",
                     "normalization group column",
                     TypeConverters.toString)

    _state = ("_moments",)

    _defaults = dict(outputCol="scaled_value")

    def __init__(self, moments: DataFrame | None = None):
        super().__init__()
        self._moments = moments  # __g string, __mean double, __std double

    def transform(self, df: DataFrame) -> DataFrame:
        g = F.col(self.getOrDefault(self.groupCol)).cast("string")
        x = F.col(self.getInputCol()).cast("double")
        joined = df.join(F.broadcast(self._moments),
                         on=g.eqNullSafe(F.col("__g")), how="left")
        std = F.when(F.col("__std").isNull() | (F.col("__std") == 0),
                     F.lit(1.0)).otherwise(F.col("__std"))
        z = F.when(x.isNotNull() & F.col("__mean").isNotNull(),
                   (x - F.col("__mean")) / std)
        return (joined.withColumn(self.getOutputCol(), z)
                .drop("__g", "__mean", "__std"))


class GroupedStandardScaler(Estimator, _SingleColOutputParams):
    """Per-group standardization — normalize a metric WITHIN each
    group (per-domain quality scores, per-language lengths, per-tenant
    metrics) so groups with different baselines become comparable.
    The grouped generalization of ``StandardScaler``.

    Fit = ONE hash aggregation of per-group (mean, stddev_samp) —
    a group-cardinality-sized model artifact; apply = broadcast join +
    map projection (the TargetEncoder shape).
    """

    groupCol = Param(Params._dummy(), "groupCol",
                     "normalization group column",
                     TypeConverters.toString)

    _defaults = dict(outputCol="scaled_value")

    def fit(self, df: DataFrame) -> GroupedStandardScalerModel:
        c = self.getInputCol()
        g = F.col(self.getOrDefault(self.groupCol)).cast("string")
        x = F.col(c).cast("double")
        moments = (df.filter(x.isNotNull())
                   .groupBy(g.alias("__g"))
                   .agg(F.avg(x).alias("__mean"),
                        F.stddev_samp(x).alias("__std")))
        model = GroupedStandardScalerModel(
            moments.localCheckpoint(eager=True))
        model._set(inputCol=c, outputCol=self.getOutputCol(),
                   groupCol=self.getOrDefault(self.groupCol))
        return model


class QuantileMatcherModel(Model, _SingleColOutputParams):
    """Fitted quantile-mapping transform: values move from the CURRENT
    distribution onto the fitted REFERENCE distribution by piecewise-
    linear quantile matching (the climate-science "quantile mapping" /
    bioinformatics "quantile normalization" recipe). The current
    column's grid is computed once per transform (one bounded
    aggregate); the map itself folds both grids into one CASE chain —
    map-only codegen. Values outside the current grid clamp to the
    reference extremes; NULL passes through."""

    _state = ("_ref_grid", "_relative_error")

    _defaults = dict(outputCol="matched")

    def __init__(self, ref_grid: list[float] | None = None,
                 relative_error: float = 0.0):
        super().__init__()
        self._ref_grid = ref_grid
        self._relative_error = relative_error

    @property
    def reference_grid(self) -> list[float]:
        return list(self._ref_grid)

    def _grid_of(self, df: DataFrame, col: str) -> list[float]:
        k = len(self._ref_grid) - 1
        pcts = [j / k for j in range(k + 1)]
        if self._relative_error > 0:
            import math

            acc = int(math.ceil(1.0 / self._relative_error))
            expr = (f"approx_percentile({col}, array("
                    f"{', '.join(map(repr, pcts))}), {acc})")
            row = df.agg(F.expr(expr).alias("g")).collect()[0]
            grid = None if row["g"] is None else list(row["g"])
        else:
            # exact percentiles, bit-identical to the percentile
            # aggregate (see functions/quantiles.py)
            from flink_ml__spark.functions.quantiles import (
                exact_percentiles,
            )

            grid = exact_percentiles(df, col, pcts)
        if grid is None or grid[0] is None:
            raise ValueError("no non-null values to match")
        # 6 dp pin: keeps segment boundaries identical across engines
        return [round(float(v), 6) for v in grid]

    def transform(self, df: DataFrame,
                  current: DataFrame | None = None) -> DataFrame:
        """Apply the quantile map. ``current`` (optional) is the batch
        frame whose distribution defines the CURRENT grid; it defaults
        to ``df`` itself. Pass it explicitly when ``df`` is a STREAM —
        the current grid needs one bounded aggregate, which an
        unbounded frame cannot run, so the streaming shape is "fit both
        grids on batch calibration windows, apply the folded CASE
        map-only on the stream"."""
        cur = self._grid_of(df if current is None else current,
                            self.getInputCol())
        ref = self._ref_grid
        x = F.col(self.getInputCol()).cast("double")
        expr = F.when(x.isNull(), F.lit(None).cast("double"))
        expr = expr.when(x <= F.lit(cur[0]), F.lit(ref[0]))
        for j in range(1, len(cur)):
            lo, hi = cur[j - 1], cur[j]
            rl, rh = ref[j - 1], ref[j]
            if hi > lo:
                seg = F.lit(rl) + (F.lit(rh - rl)
                                   * (x - F.lit(lo)) / F.lit(hi - lo))
            else:  # zero-width current segment: jump to its ref edge
                seg = F.lit(rh)
            expr = expr.when(x <= F.lit(hi), seg)
        expr = expr.otherwise(F.lit(ref[-1]))
        return df.withColumn(self.getOutputCol(), expr)


class QuantileMatcher(Estimator, _SingleColOutputParams,
                      HasRelativeError):
    """Distribution alignment by quantile mapping: fit a reference
    column's quantile grid, then transform any frame so its values'
    quantile positions land on the reference distribution — the
    engine's answer to "make feature X from source B comparable to
    source A" (batch-effect correction, per-source score alignment
    before a global threshold).

    Fit = ONE percentile aggregate on the reference (``numBuckets+1``
    grid points including min/max, one sort buffer for the whole
    list); exact by default for SQL-oracle replay, Greenwald-Khanna
    via ``setRelativeError(>0)`` at 100 TB. Transform adds one bounded
    aggregate for the current column's grid, then a folded-literal
    piecewise-linear CASE — map-only. Grids are pinned at 6 dp on both
    engines (same ulp-tie rationale as the KS monitor).
    """

    numBuckets = Param(Params._dummy(), "numBuckets",
                       "grid segments (>= 2)", TypeConverters.toInt)

    _defaults = dict(outputCol="matched", numBuckets=8)

    def setNumBuckets(self, v):
        v = int(v)
        if v < 2:
            raise ValueError("numBuckets must be >= 2")
        return self._set(numBuckets=v)

    def fit(self, reference: DataFrame) -> QuantileMatcherModel:
        rel = self.getRelativeError()
        model = QuantileMatcherModel([0.0] * (self.getOrDefault(
            self.numBuckets) + 1), rel)
        model._set(inputCol=self.getInputCol(),
                   outputCol=self.getOutputCol())
        model._ref_grid = model._grid_of(reference, self.getInputCol())
        return model


class RollingFeatureGenerator(AlgoOperator):
    """Per-key lag/rolling features for forecasting and monitoring
    models — the one window pass that turns a bucketed series into a
    supervised-learning frame.

    For each lag ``L`` in ``lags`` appends ``lag_<L>``; for each
    window ``W`` in ``windows`` appends trailing (current row
    included) ``roll_mean_<W>``/``roll_std_<W>``/``roll_min_<W>``/
    ``roll_max_<W>``; plus ``delta`` (x − lag_1-equivalent previous
    value) and ``pct_change`` (delta / previous, NULL when the
    previous value is 0 or absent). Rolling stats emit NULL until the
    frame holds a full W rows, so a model never trains on silently
    truncated windows; ``roll_std_<W>`` is the sample std.

    Feed a BUCKETED series (e.g. ``TimeBucketRollup`` output) so
    (key, time) is unique — duplicate timestamps make frames
    order-ambiguous.

    100 TB design: ONE window sort per key serves every feature —
    all lags and all frames are Catalyst window aggregates over the
    same (partitionBy key, orderBy time) spec, so the physical plan
    is a single sort + one Window operator, state bounded by
    max(windows) rows. Exact SQL replay with ROWS BETWEEN frames.
    """

    timeCol = Param(Params._dummy(), "timeCol", "ordering column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    lags = Param(Params._dummy(), "lags", "lag offsets to emit",
                 TypeConverters.toListInt)
    windows = Param(Params._dummy(), "windows",
                    "trailing frame widths to emit",
                    TypeConverters.toListInt)

    _defaults = dict(timeCol="bucket_start", keyCol="user_id",
                     valueCol="avg_value", lags=[1, 2, 3],
                     windows=[3, 7])

    def setLags(self, v):
        v = [int(x) for x in v]
        if not v or any(x < 1 for x in v) or len(set(v)) != len(v):
            raise ValueError(
                f"lags must be distinct integers >= 1, got {v}")
        return self._set(lags=v)

    def setWindows(self, v):
        v = [int(x) for x in v]
        if not v or any(x < 2 for x in v) or len(set(v)) != len(v):
            raise ValueError(
                f"windows must be distinct integers >= 2, got {v}")
        return self._set(windows=v)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = self.getOrDefault(self.valueCol)
        x = F.col(v).cast("double")
        w = Window.partitionBy(k).orderBy(t)
        cols = {}
        for lag in self.getOrDefault(self.lags):
            cols[f"lag_{lag}"] = F.lag(x, lag).over(w)
        for width in self.getOrDefault(self.windows):
            frame = w.rowsBetween(-(width - 1), 0)
            full = F.count(x).over(frame) == width
            cols[f"roll_mean_{width}"] = F.when(full,
                                                F.avg(x).over(frame))
            cols[f"roll_std_{width}"] = F.when(full,
                                               F.stddev_samp(x)
                                               .over(frame))
            cols[f"roll_min_{width}"] = F.when(full,
                                               F.min(x).over(frame))
            cols[f"roll_max_{width}"] = F.when(full,
                                               F.max(x).over(frame))
        prev = F.lag(x, 1).over(w)
        cols["delta"] = x - prev
        cols["pct_change"] = F.when(prev != 0, (x - prev) / prev)
        return df.withColumns(cols)


class RankGaussModel(AlgoOperator, HasInputCol, HasOutputCol):
    """Fitted rank-Gauss transform: value → fitted quantile bucket →
    midpoint rank → standard-normal score. Apply is ONE codegen
    projection over two folded literal tables (edges, z scores) —
    zero shuffles, stream-safe unchanged. See
    :class:`RankGaussTransformer`."""

    _state = ("_edges", "_z")

    _defaults = dict(inputCol="value", outputCol="value_gauss")

    def __init__(self, edges: list[float] | None = None,
                 z_scores: list[float] | None = None):
        super().__init__()
        self._edges = list(edges or [])
        self._z = list(z_scores or [])

    @property
    def edges(self) -> list[float]:
        return list(self._edges)

    @property
    def z_scores(self) -> list[float]:
        return list(self._z)

    def transform(self, df: DataFrame) -> DataFrame:
        # one SQL string, one py4j call (base.sql_double)
        x = f"CAST({sql_ident(self.getInputCol())} AS DOUBLE)"
        bucket = sql_sum(f"CAST(({x} > {sql_double(e)}) AS INT)"
                         for e in self._edges)
        z_arr = "array(" + ", ".join(sql_double(z) for z in self._z) + ")"
        out = (f"CASE WHEN ({x} IS NOT NULL) "
               f"THEN element_at({z_arr}, ({bucket} + 1)) END")
        return df.withColumn(self.getOutputCol(), F.expr(out))


class RankGaussTransformer(AlgoOperator, HasInputCol, HasOutputCol,
                           HasRelativeError):
    """Rank-Gauss (quantile-to-normal) feature transform — the
    normalization that made several Kaggle-winning tabular NNs work
    (Jahrer 2017) and scikit-learn's ``QuantileTransformer(
    output_distribution='normal')``: rank the values, map midpoint
    ranks through the inverse normal CDF. Heavy tails, spikes and
    arbitrary monotone distortions all land on N(0,1).

    ``fit`` computes the ``numBuckets``−1 interior quantile edges
    (rounded to 6 dp — the engine's cross-engine tie pin) in ONE
    array-percentile aggregation (k−1 separate percentile expressions
    would each buffer the full column — measured 50 s vs 5 s at
    sf0.1); bucket i maps to ``z = Φ⁻¹((i+0.5)/numBuckets)`` (Acklam
    inverse normal, |rel err| < 1.2e-9). Apply folds both tables as
    literals: a codegen projection, no join, no shuffle, stream-safe
    — the same fitted-apply contract as the scaler family. Ties in
    the data share a bucket (identical values always produce
    identical scores — the honest rank semantics).

    ``relativeError`` picks the fit's scale path (``HasRelativeError``):
    0 (default, and what the oracle gate pins) fits exact percentiles,
    which gather the column on one reducer — fine to ~1 executor's
    memory of values; above 0 fits the bounded-memory mergeable
    ``approx_percentile`` sketch, the right fit at true 100 TB. Apply is
    identical either way.
    """

    numBuckets = Param(Params._dummy(), "numBuckets",
                       "rank resolution", TypeConverters.toInt)

    _defaults = dict(inputCol="value", outputCol="value_gauss",
                     numBuckets=64)

    def setNumBuckets(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBuckets must be >= 2, got {v}")
        return self._set(numBuckets=v)

    def fit(self, df: DataFrame) -> RankGaussModel:
        from flink_ml__spark.functions.quantiles import quantile_edges
        from flink_ml__spark.functions.stats import _norm_ppf

        k = self.getOrDefault(self.numBuckets)
        x = F.col(self.getInputCol()).cast("double")
        edges = quantile_edges(df.filter(x.isNotNull()), x, k,
                               self.getRelativeError())
        if not edges:
            raise ValueError("no non-null values to fit on")
        z = [_norm_ppf((i + 0.5) / k) for i in range(k)]
        model = RankGaussModel(edges, z)
        model._set(inputCol=self.getInputCol(),
                   outputCol=self.getOutputCol())
        return model

    def transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)
