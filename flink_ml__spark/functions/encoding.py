"""Categorical-encoding estimators.

North-star extensions past the reference's feature family
(``/root/reference/src/main/java/cn/swust/algorithms/featureGeneration/``
stops at imputation / scaling / one-hot): the two encoders every
tabular feature pipeline reaches for next —

* ``StringIndexer``  — frequency-ordered label → dense integer index
  (the pyspark.ml / Flink ML StringIndexer contract: most frequent
  label gets 0, ties broken alphabetically).
* ``TargetEncoder``  — m-estimate smoothed mean-target encoding
  (Micci-Barreca 2001): ``(n·mean_cat + m·prior) / (n + m)``.

Scale shape: both fits are ONE hash aggregation over the input
(cardinality-sized output, i.e. a model artifact, not data); both
transforms are a broadcast hash join against the fitted mapping —
map-side at any corpus size as long as the category vocabulary is
broadcastable, which is the regime these encoders are for (a
vocabulary too big to broadcast is a vocabulary too big to one-hot or
mean-encode meaningfully).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import (
    AlgoOperator,
    Estimator,
    HasInputCol,
    HasOutputCol,
    Model,
)
from pyspark.ml.param import Param, Params, TypeConverters


class _IndexerParams(HasInputCol, HasOutputCol):
    handleInvalid = Param(
        Params._dummy(), "handleInvalid",
        "unseen/NULL policy: 'keep' maps them to index = vocabulary "
        "size; 'null' emits NULL", TypeConverters.toString)

    def setHandleInvalid(self, v):
        if v not in ("keep", "null"):
            raise ValueError("handleInvalid must be 'keep' or 'null'")
        return self._set(handleInvalid=v)


class StringIndexerModel(Model, _IndexerParams):
    """Fitted label → index mapping. ``labels()`` returns the
    vocabulary in index order; ``transform`` appends ``outputCol``
    via a broadcast join on the label (NULL-safe equality so a NULL
    category behaves like any other unseen value)."""

    _state = ("_mapping",)

    _defaults = dict(outputCol="label_index", handleInvalid="keep")

    def __init__(self, mapping: DataFrame | None = None):
        super().__init__()
        self._mapping = mapping  # columns: __label string, __index int

    def labels(self) -> list[str]:
        return [r["__label"] for r in
                self._mapping.orderBy("__index").collect()]

    @property
    def vocab_size(self) -> int:
        if not hasattr(self, "_vocab_size"):
            self._vocab_size = self._mapping.count()
        return self._vocab_size

    def transform(self, df: DataFrame) -> DataFrame:
        c, out = self.getInputCol(), self.getOutputCol()
        invalid = (F.lit(self.vocab_size).cast("int")
                   if self.getOrDefault(self.handleInvalid) == "keep"
                   else F.lit(None).cast("int"))
        joined = df.join(
            F.broadcast(self._mapping),
            on=F.col(c).cast("string").eqNullSafe(F.col("__label")),
            how="left")
        return (joined
                .withColumn(out, F.coalesce(F.col("__index"), invalid))
                .drop("__label", "__index"))


class StringIndexer(Estimator, _IndexerParams):
    """Frequency-ordered categorical indexing: the most frequent label
    gets index 0; ties break on the label ascending (the pyspark.ml
    ``frequencyDesc`` contract, so indexes are deterministic under
    any partitioning). NULL values are not indexed — they take the
    ``handleInvalid`` route at transform time.

    Fit = one hash ``groupBy(label).count()`` plus a vocabulary-sized
    rank; the ordering window partitions on a constant but runs over
    the *aggregated* vocabulary (|categories| rows), not the input —
    the standard cardinality-bounded exception to the no-global-window
    rule, same as every top-k model artifact in the engine.
    """

    _defaults = dict(outputCol="label_index", handleInvalid="keep")

    def fit(self, df: DataFrame) -> StringIndexerModel:
        from pyspark.sql import Window

        c = self.getInputCol()
        counts = (df.filter(F.col(c).isNotNull())
                  .groupBy(F.col(c).cast("string").alias("__label"))
                  .count())
        w = Window.orderBy(F.col("count").desc(), F.col("__label").asc())
        mapping = (counts
                   .withColumn("__index",
                               (F.row_number().over(w) - 1).cast("int"))
                   .select("__label", "__index"))
        model = StringIndexerModel(mapping.localCheckpoint(eager=True))
        model._set(inputCol=c, outputCol=self.getOutputCol(),
                   handleInvalid=self.getOrDefault(self.handleInvalid))
        return model


class TargetEncoderModel(Model, HasInputCol, HasOutputCol):
    """Fitted smoothed mean-target encoding. ``transform`` appends
    ``outputCol`` = the category's shrunk target mean via a broadcast
    join; unseen and NULL categories fall back to the global prior."""

    _state = ("_encoding", "_prior")

    _defaults = dict(outputCol="target_enc")

    def __init__(self, encoding: DataFrame | None = None,
                 prior: float | None = None):
        super().__init__()
        self._encoding = encoding  # columns: __cat string, __enc double
        self._prior = prior

    @property
    def prior(self) -> float:
        return self._prior

    def transform(self, df: DataFrame) -> DataFrame:
        c, out = self.getInputCol(), self.getOutputCol()
        joined = df.join(
            F.broadcast(self._encoding),
            on=F.col(c).cast("string").eqNullSafe(F.col("__cat")),
            how="left")
        return (joined
                .withColumn(out, F.coalesce(F.col("__enc"),
                                            F.lit(self._prior)))
                .drop("__cat", "__enc"))


class TargetEncoder(Estimator, HasInputCol, HasOutputCol):
    """m-estimate target (mean) encoding — Micci-Barreca 2001 §3.1:

    ``enc(cat) = (n_cat · mean_cat + smoothing · prior) / (n_cat +
    smoothing)``

    where ``prior`` is the global target mean. ``smoothing`` (the
    m-estimate pseudo-count, default 20) pulls rare categories toward
    the prior, the standard leakage/overfit guard for high-cardinality
    categoricals. Rows with a NULL target are excluded from the fit;
    a category whose targets are all NULL encodes as the prior.

    Fit = ONE hash aggregation (per-category sum/count) + one 1-row
    global aggregate; transform = broadcast join. The encoding table
    is a model artifact sized by the category cardinality.
    """

    targetCol = Param(Params._dummy(), "targetCol",
                      "numeric target column to average",
                      TypeConverters.toString)
    smoothing = Param(Params._dummy(), "smoothing",
                      "m-estimate pseudo-count (>= 0)",
                      TypeConverters.toFloat)

    _defaults = dict(outputCol="target_enc", smoothing=20.0)

    def setSmoothing(self, v):
        v = float(v)
        if v < 0:
            raise ValueError("smoothing must be >= 0")
        return self._set(smoothing=v)

    def fit(self, df: DataFrame) -> TargetEncoderModel:
        c = self.getInputCol()
        t = F.col(self.getOrDefault(self.targetCol)).cast("double")
        m = self.getOrDefault(self.smoothing)
        fitted = df.filter(t.isNotNull() & F.col(c).isNotNull())
        prior_row = fitted.agg(F.avg(t).alias("p")).collect()[0]
        if prior_row["p"] is None:
            raise ValueError("no non-null (category, target) rows to fit on")
        prior = float(prior_row["p"])
        enc = (fitted
               .groupBy(F.col(c).cast("string").alias("__cat"))
               .agg(F.sum(t).alias("__sum"), F.count(t).alias("__n"))
               .select("__cat",
                       ((F.col("__sum") + F.lit(m * prior))
                        / (F.col("__n") + F.lit(m))).alias("__enc")))
        model = TargetEncoderModel(enc.localCheckpoint(eager=True), prior)
        model._set(inputCol=c, outputCol=self.getOutputCol())
        return model


class FeatureHasher(AlgoOperator, HasOutputCol):
    """Hashing-trick categorical encoding (Weinberger et al. 2009):
    each input column's value maps to a bucket in ``[0, numFeatures)``
    via a column-salted md5 — no vocabulary, no fit, no state.

    This is the scale regime the broadcast encoders explicitly fence
    off: when a categorical column's cardinality has degenerated into
    an id space too big to broadcast (StringIndexer/TargetEncoder
    docstrings), hash it. Appends ``<col>_hash`` per input column
    (int; NULL passes through). Pure map-side codegen projection —
    zero shuffle, zero model, and the salted-md5 primitive is the
    engine's standard oracle-replayable hash (DuckDB:
    ``('0x' || substring(md5('fh:<col>:' || v), 1, 15))::BIGINT %
    numFeatures``). Identical on batch and unbounded streams.
    """

    inputCols = Param(Params._dummy(), "inputCols",
                      "categorical columns to hash",
                      TypeConverters.toListString)
    numFeatures = Param(Params._dummy(), "numFeatures",
                        "hash-bucket count (>= 2)",
                        TypeConverters.toInt)
    suffix = Param(Params._dummy(), "suffix",
                   "appended-column name suffix",
                   TypeConverters.toString)

    _defaults = dict(numFeatures=1 << 18, suffix="_hash")

    def setInputCols(self, *v):
        cols = list(v[0]) if len(v) == 1 and not isinstance(v[0], str) \
            else list(v)
        return self._set(inputCols=cols)

    def setNumFeatures(self, v):
        v = int(v)
        if v < 2:
            raise ValueError("numFeatures must be >= 2")
        return self._set(numFeatures=v)

    def transform(self, df: DataFrame) -> DataFrame:
        n = self.getOrDefault(self.numFeatures)
        suf = self.getOrDefault(self.suffix)
        out = df
        for c in self.getOrDefault(self.inputCols):
            s = F.concat(F.lit(f"fh:{c}:"), F.col(c).cast("string"))
            # first 60 bits of the md5 — exceeds any sane bucket count
            # while staying inside a signed BIGINT for the SQL replay
            h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
            out = out.withColumn(f"{c}{suf}", (h % n).cast("int"))
        return out


class RareCategoryCollapserModel(Model, HasInputCol, HasOutputCol):
    """Fitted kept-vocabulary collapse: categories outside the kept
    set map to ``otherLabel``; NULL passes through. Broadcast-join
    apply (kept vocabulary is the model artifact)."""

    otherLabel = Param(Params._dummy(), "otherLabel",
                       "replacement label for collapsed categories",
                       TypeConverters.toString)

    _state = ("_kept",)

    _defaults = dict(outputCol="collapsed", otherLabel="__other__")

    def __init__(self, kept: DataFrame | None = None):
        super().__init__()
        self._kept = kept  # column: __label string

    def kept_labels(self) -> list[str]:
        return sorted(r["__label"] for r in self._kept.collect())

    def transform(self, df: DataFrame) -> DataFrame:
        c, out = self.getInputCol(), self.getOutputCol()
        other = self.getOrDefault(self.otherLabel)
        joined = df.join(
            F.broadcast(self._kept.withColumn("__kept", F.lit(True))),
            on=F.col(c).cast("string") == F.col("__label"), how="left")
        col = F.col(c)
        return (joined.withColumn(
            out,
            F.when(col.isNull(), F.lit(None).cast("string"))
             .when(F.col("__kept"), col.cast("string"))
             .otherwise(F.lit(other)))
            .drop("__label", "__kept"))


class RareCategoryCollapser(Estimator, HasInputCol, HasOutputCol):
    """Long-tail category collapse: keep categories seen at least
    ``minCount`` times (or, with ``minFraction`` set, at least that
    share of non-null rows); everything rarer becomes ``__other__``
    at transform time. The standard cardinality guard in front of
    one-hot / target encoding and the categorical drift monitor's
    vocabulary rule, as a fitted, persistable stage.

    Fit = one hash count aggregation filtered to the kept set (model
    artifact, vocabulary-sized); apply = broadcast join. NULL is never
    collapsed — it stays NULL (imputation is a different decision).
    """

    minCount = Param(Params._dummy(), "minCount",
                     "minimum occurrences to keep a category",
                     TypeConverters.toInt)
    minFraction = Param(Params._dummy(), "minFraction",
                        "minimum share of non-null rows to keep "
                        "(overrides minCount when > 0)",
                        TypeConverters.toFloat)

    _defaults = dict(outputCol="collapsed", minCount=2,
                     minFraction=0.0)

    def setMinCount(self, v):
        v = int(v)
        if v < 1:
            raise ValueError("minCount must be >= 1")
        return self._set(minCount=v)

    def setMinFraction(self, v):
        v = float(v)
        if not 0.0 <= v < 1.0:
            raise ValueError("minFraction must be in [0, 1)")
        return self._set(minFraction=v)

    def fit(self, df: DataFrame) -> RareCategoryCollapserModel:
        c = self.getInputCol()
        counts = (df.filter(F.col(c).isNotNull())
                  .groupBy(F.col(c).cast("string").alias("__label"))
                  .agg(F.count(F.lit(1)).alias("__n")))
        frac = self.getOrDefault(self.minFraction)
        if frac > 0:
            total = counts.agg(F.sum("__n").alias("t")).collect()[0]["t"] or 0
            floor = frac * total
            kept = counts.filter(F.col("__n") >= floor)
        else:
            kept = counts.filter(
                F.col("__n") >= self.getOrDefault(self.minCount))
        model = RareCategoryCollapserModel(
            kept.select("__label").localCheckpoint(eager=True))
        model._set(inputCol=c, outputCol=self.getOrDefault(self.outputCol))
        return model


class CountEncoderModel(Model, HasInputCol, HasOutputCol):
    """Fitted frequency encoding: category → its fit-time count (or
    share with ``normalize``). Unseen categories encode 0; NULL
    passes through. Broadcast-join apply."""

    normalize = Param(Params._dummy(), "normalize",
                      "emit the share of non-null rows instead of the "
                      "raw count", TypeConverters.toBoolean)

    _state = ("_counts", "_total")

    _defaults = dict(outputCol="cat_count", normalize=False)

    def __init__(self, counts: DataFrame | None = None,
                 total: int | None = None):
        super().__init__()
        self._counts = counts  # __cat string, __n bigint
        self._total = total

    def setNormalize(self, v):
        return self._set(normalize=bool(v))

    def transform(self, df: DataFrame) -> DataFrame:
        c, out = self.getInputCol(), self.getOutputCol()
        joined = df.join(
            F.broadcast(self._counts),
            on=F.col(c).cast("string") == F.col("__cat"), how="left")
        val = F.when(F.col(c).isNull(), F.lit(None).cast("double")) \
            .otherwise(F.coalesce(F.col("__n"), F.lit(0)).cast("double"))
        if self.getOrDefault(self.normalize):
            val = val / F.lit(float(self._total))
        return (joined.withColumn(out, val)
                .drop("__cat", "__n"))


class CountEncoder(Estimator, HasInputCol, HasOutputCol):
    """Frequency (count) encoding: replace a category with how often
    it occurs — the zero-leakage numeric encoding that survives
    arbitrary cardinality (no target involved, no vocabulary cap) and
    the usual companion feature to target encoding in tabular models.

    Fit = one hash count aggregation (vocabulary-sized model); apply =
    broadcast join. ``setNormalize(True)`` emits the share instead of
    the raw count, making the encoding scale-invariant across
    refits on differently-sized corpora.
    """

    _defaults = dict(outputCol="cat_count")

    def fit(self, df: DataFrame) -> CountEncoderModel:
        c = self.getInputCol()
        counts = (df.filter(F.col(c).isNotNull())
                  .groupBy(F.col(c).cast("string").alias("__cat"))
                  .agg(F.count(F.lit(1)).alias("__n")))
        total = counts.agg(F.sum("__n").alias("t")).collect()[0]["t"] or 0
        if total == 0:
            raise ValueError(
                f"CountEncoder: no non-null values in column {c!r} to "
                "fit on")
        model = CountEncoderModel(counts.localCheckpoint(eager=True),
                                  int(total))
        model._set(inputCol=c, outputCol=self.getOrDefault(self.outputCol))
        return model
