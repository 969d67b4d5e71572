"""Binary-classification evaluation — the metrics harness for the
model-based curation components (QualityClassifier probabilities,
UnigramLM/DSIR scores used as classifiers, any [0, 1] signal).

``BinaryClassificationEvaluator.evaluate(df)`` returns ONE row::

    n_pos, n_neg        bigint   (NULL labels/scores excluded)
    auc                 double   binned tie-aware ROC AUC (see below)
    accuracy, precision, recall, f1   double, at ``threshold``
                        (precision/f1 NULL when nothing is predicted
                        positive; recall NULL when n_pos = 0)

AUC is computed on ``numBins`` fixed-width score buckets over [0, 1]
(scores clamped): within a bucket all scores tie (0.5 credit), across
buckets the exact rank-sum formula applies. With B bins the deviation
from the exact AUC is bounded by the in-bin tie mass — at the default
1024 bins that is < 1e-3 for continuous scores, and EXACT whenever
distinct scores < bins. This is the standard scale shape: exact AUC
needs a global sort; binning reduces it to ONE small aggregation.

100 TB design: one pass computes the confusion aggregate AND the
per-bucket histogram (O(numBins) rows); the cumulative step runs on
the collected bucket table — O(numBins) driver work, like every
model-fit finalizer in this engine. No global sort, no UDF.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator
from flink_ml__spark.functions.stats import _AggStat


class BinaryClassificationEvaluator(AlgoOperator):

    labelCol = Param(Params._dummy(), "labelCol",
                     "boolean/0-1 label column", TypeConverters.toString)
    scoreCol = Param(Params._dummy(), "scoreCol",
                     "score column in [0, 1]", TypeConverters.toString)
    threshold = Param(Params._dummy(), "threshold",
                      "decision threshold for the confusion metrics",
                      TypeConverters.toFloat)
    numBins = Param(Params._dummy(), "numBins",
                    "score buckets for the binned AUC",
                    TypeConverters.toInt)

    _defaults = dict(labelCol="label", scoreCol="score",
                     threshold=0.5, numBins=1024)

    def setNumBins(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBins must be >= 2, got {v}")
        return self._set(numBins=v)

    def evaluate(self, df: DataFrame) -> DataFrame:
        lc = self.getOrDefault(self.labelCol)
        sc = self.getOrDefault(self.scoreCol)
        thr = self.getOrDefault(self.threshold)
        bins = self.getOrDefault(self.numBins)
        spark = df.sparkSession

        lbl = F.col(lc).cast("int")
        score = F.col(sc)
        d = (df.filter(lbl.isNotNull() & score.isNotNull())
               .select(lbl.alias("__y"), score.alias("__s")))

        # ONE scan: the bucket histogram carries the threshold-split
        # counts too (the threshold need not align with a bucket edge
        # — the split is evaluated per row, merely GROUPED by bucket),
        # so AUC and the confusion matrix come out of the same
        # O(numBins) aggregate
        bucket = F.least(
            F.floor(F.greatest(F.least(F.col("__s"), F.lit(1.0)),
                               F.lit(0.0)) * bins).cast("int"),
            F.lit(bins - 1))
        pred = (F.col("__s") >= thr).cast("int")
        hist = (d.groupBy(bucket.alias("__b"))
                 .agg(F.sum("__y").alias("pos"),
                      (F.count(F.lit(1)) - F.sum("__y")).alias("neg"),
                      F.sum(pred * F.col("__y")).alias("tp"),
                      F.sum(pred * (1 - F.col("__y"))).alias("fp"))
                 .orderBy("__b").collect())

        n_pos = sum(r["pos"] for r in hist)
        n_neg = sum(r["neg"] for r in hist)
        auc = None
        if n_pos > 0 and n_neg > 0:
            num, cum_neg = 0.0, 0
            for r in hist:
                num += cum_neg * r["pos"] + 0.5 * r["neg"] * r["pos"]
                cum_neg += r["neg"]
            auc = num / (n_pos * n_neg)

        tp = sum(r["tp"] for r in hist)
        fp = sum(r["fp"] for r in hist)
        fn = n_pos - tp
        tn = n_neg - fp
        total = tp + fp + fn + tn
        acc = (tp + tn) / total if total else None
        prec = tp / (tp + fp) if (tp + fp) else None
        rec = tp / (tp + fn) if (tp + fn) else None
        f1 = (2 * prec * rec / (prec + rec)
              if prec is not None and rec is not None
              and (prec + rec) > 0 else None)

        return spark.createDataFrame(
            [(int(n_pos), int(n_neg), auc, acc, prec, rec, f1)],
            "n_pos bigint, n_neg bigint, auc double, accuracy double,"
            " precision double, recall double, f1 double")

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class CalibrationEvaluator(AlgoOperator):
    """Probability-calibration metrics (Guo, Pleiss, Sun & Weinberger,
    "On calibration of modern neural networks", ICML 2017; reliability
    diagrams per DeGroot & Fienberg 1983) — the companion to
    :class:`BinaryClassificationEvaluator` for any [0, 1] confidence
    signal used to gate training data (quality classifiers, LM-score
    filters): a well-ranked score can still be badly CALIBRATED, and a
    calibration drift is invisible to AUC.

    * ``reliability(df)`` — the reliability-diagram table: one row per
      fixed-width score bin with ``n``, ``avg_score`` (confidence),
      ``frac_pos`` (empirical accuracy) and ``gap = frac_pos −
      avg_score``. ONE ``groupBy`` over O(numBins) groups.
    * ``evaluate(df)`` — one row: ``n``, ``ece`` (expected calibration
      error, the n-weighted mean |gap|), ``mce`` (max |gap|), and the
      ``brier`` score (mean squared score−label error).

    Pure Catalyst end to end: one O(numBins) aggregate plus one scan
    aggregate for n/brier, joined as 1-row frames — no sort, no UDF,
    no collect. Scores are clamped to [0, 1] before binning (same
    clamp as the AUC evaluator); NULL labels/scores are excluded.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "boolean/0-1 label column", TypeConverters.toString)
    scoreCol = Param(Params._dummy(), "scoreCol",
                     "score column in [0, 1]", TypeConverters.toString)
    numBins = Param(Params._dummy(), "numBins",
                    "fixed-width reliability bins",
                    TypeConverters.toInt)

    _defaults = dict(labelCol="label", scoreCol="score", numBins=10)

    def _base(self, df: DataFrame) -> DataFrame:
        lbl = F.col(self.getOrDefault(self.labelCol)).cast("int")
        score = F.col(self.getOrDefault(self.scoreCol)).cast("double")
        return (df.filter(lbl.isNotNull() & score.isNotNull())
                .select(lbl.alias("__y"),
                        F.greatest(F.least(score, F.lit(1.0)),
                                   F.lit(0.0)).alias("__s")))

    def reliability(self, df: DataFrame) -> DataFrame:
        bins = self.getOrDefault(self.numBins)
        d = self._base(df)
        bucket = F.least(F.floor(F.col("__s") * bins).cast("int"),
                         F.lit(bins - 1))
        return (d.groupBy(bucket.alias("bin"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.avg("__s").alias("avg_score"),
                     F.avg("__y").alias("frac_pos"))
                .withColumn("gap",
                            F.col("frac_pos") - F.col("avg_score")))

    def evaluate(self, df: DataFrame) -> DataFrame:
        d = self._base(df)
        rel = self.reliability(df)
        tot = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.pow(F.col("__s") - F.col("__y"), 2)).alias("brier"))
        gaps = rel.agg(
            F.sum(F.col("n") * F.abs("gap")).alias("__wgap"),
            F.max(F.abs("gap")).alias("mce"))
        return (tot.crossJoin(gaps)
                .select("n",
                        (F.col("__wgap") / F.col("n")).alias("ece"),
                        "mce", "brier"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class LabelConsensus(AlgoOperator):
    """Weak-supervision vote aggregation (the majority-vote baseline
    of data-programming systems, Ratner et al. "Snorkel", VLDB 2017):
    fold ``k`` labeling-function columns (each 0/1/NULL — NULL means
    the function ABSTAINED on the row) into one consensus label plus
    agreement diagnostics::

        n_votes         non-abstaining functions on the row
        n_pos           positive votes
        consensus       majority label (ties → NULL, no invented
                        label); NULL when every function abstained
        agreement       majority share among cast votes
        is_unanimous    all cast votes agree (false when no votes)

    The canonical use: several cheap heuristic signals (keyword gate,
    quality threshold, lang match…) label training data; rows with
    high-agreement consensus feed the trained
    :class:`~flink_ml__spark.functions.curation.QualityClassifier`,
    low-agreement rows go to review. Map-only Catalyst arithmetic —
    zero shuffle, streaming-compatible; per-column vote expressions
    are materialized once each (no subtree re-embedding)."""

    inputCols = Param(Params._dummy(), "inputCols",
                      "labeling-function columns (0/1/NULL)",
                      TypeConverters.toListString)

    _defaults = dict(inputCols=[])

    def setInputCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(inputCols=list(v))

    def transform(self, df: DataFrame) -> DataFrame:
        cols = self.getOrDefault(self.inputCols)
        if not cols:
            raise ValueError("no columns set — call setInputCols(...)")
        votes = [F.col(c).cast("int") for c in cols]
        n_votes = sum(v.isNotNull().cast("int") for v in votes)
        n_pos = sum(F.coalesce(v, F.lit(0)) for v in votes)
        out = (df.withColumn("n_votes", n_votes)
               .withColumn("n_pos", n_pos))
        nv, np_ = F.col("n_votes"), F.col("n_pos")
        n_neg = nv - np_
        consensus = (F.when(nv == 0, F.lit(None).cast("int"))
                     .when(np_ * 2 > nv, F.lit(1))
                     .when(np_ * 2 < nv, F.lit(0)))
        return (out.withColumn("consensus", consensus)
                .withColumn("agreement",
                            F.when(nv > 0,
                                   F.greatest(np_, n_neg) / nv))
                .withColumn("is_unanimous",
                            F.coalesce((nv > 0)
                                       & ((np_ == nv) | (np_ == 0)),
                                       F.lit(False))))


class ClassificationReport(AlgoOperator):
    """Multiclass confusion report — one row per observed class::

        class_     string   the class value (cast to string)
        support    bigint   rows whose TRUE label is this class
        predicted  bigint   rows PREDICTED as this class
        tp         bigint   rows where both agree on this class
        precision  double   tp / predicted   (NULL when predicted 0)
        recall     double   tp / support     (NULL when support 0)
        f1         double   harmonic mean    (NULL when either is
                            NULL; 0 when both are 0)

    Macro/micro averages are one trivial ``avg`` over this table —
    kept out so the per-class shape stays joinable against class
    metadata (the usual next step: which LANGUAGE does the lang-ID
    model miss?).

    NULL labels or predictions are excluded (no "null class").

    100 TB design: ONE ``groupBy(label, pred)`` count — the confusion
    matrix, O(classes²) rows — then two re-aggregations of THAT tiny
    table joined back per class. A single data-sized shuffle, no
    collect, no UDF; the matrix re-aggs are broadcast-sized.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "true-label column", TypeConverters.toString)
    predictionCol = Param(Params._dummy(), "predictionCol",
                          "predicted-label column",
                          TypeConverters.toString)

    _defaults = dict(labelCol="label", predictionCol="prediction")

    def evaluate(self, df: DataFrame) -> DataFrame:
        lc = self.getOrDefault(self.labelCol)
        pc = self.getOrDefault(self.predictionCol)
        y = F.col(lc).cast("string")
        p = F.col(pc).cast("string")
        cm = (df.filter(y.isNotNull() & p.isNotNull())
                .groupBy(y.alias("__y"), p.alias("__p"))
                .agg(F.count(F.lit(1)).alias("__n")))
        actual = (cm.groupBy(F.col("__y").alias("class_"))
                    .agg(F.sum("__n").alias("support")))
        pred = (cm.groupBy(F.col("__p").alias("class_"))
                  .agg(F.sum("__n").alias("predicted")))
        tp = (cm.filter(F.col("__y") == F.col("__p"))
                .select(F.col("__y").alias("class_"),
                        F.col("__n").alias("tp")))
        out = (actual.join(pred, "class_", "full_outer")
                     .join(tp, "class_", "left")
                     .na.fill(0, ["support", "predicted", "tp"]))
        prec = F.when(F.col("predicted") > 0,
                      F.col("tp") / F.col("predicted"))
        rec = F.when(F.col("support") > 0, F.col("tp") / F.col("support"))
        out = out.withColumn("precision", prec).withColumn("recall", rec)
        pr, rc = F.col("precision"), F.col("recall")
        f1 = (F.when(pr.isNull() | rc.isNull(), F.lit(None))
              .when(pr + rc == 0, F.lit(0.0))
              .otherwise(2 * pr * rc / (pr + rc)))
        return out.withColumn("f1", f1)

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class AgreementEvaluator(AlgoOperator):
    """Inter-annotator agreement for two raters — Cohen's kappa
    (Cohen 1960), the standard chance-corrected check run before
    trusting human (or LLM-judge) labels enough to train on them.

    ``evaluate(df)`` returns ONE row::

        n          bigint   rows where BOTH raters voted (non-NULL)
        po         double   observed agreement share
        pe         double   chance agreement Σ_c p_a(c) · p_b(c)
        kappa      double   (po − pe) / (1 − pe); NULL when pe = 1
                            (both raters constant — undefined) or
                            n = 0

    100 TB design: one ``groupBy(a, b)`` count builds the O(classes²)
    agreement matrix; po/pe/kappa are arithmetic over re-aggregations
    of that tiny table (1-row crossJoins of aggregates, the engine's
    standard finalizer shape). One data-sized shuffle, no collect.
    """

    raterACol = Param(Params._dummy(), "raterACol",
                      "first rater's label column",
                      TypeConverters.toString)
    raterBCol = Param(Params._dummy(), "raterBCol",
                      "second rater's label column",
                      TypeConverters.toString)

    _defaults = dict(raterACol="rater_a", raterBCol="rater_b")

    def evaluate(self, df: DataFrame) -> DataFrame:
        a = F.col(self.getOrDefault(self.raterACol)).cast("string")
        b = F.col(self.getOrDefault(self.raterBCol)).cast("string")
        cm = (df.filter(a.isNotNull() & b.isNotNull())
                .groupBy(a.alias("__a"), b.alias("__b"))
                .agg(F.count(F.lit(1)).alias("__n")))
        # chance agreement from the matrix's own marginals: join the
        # per-class a-counts and b-counts, sum the products
        ma = cm.groupBy(F.col("__a").alias("__c")) \
               .agg(F.sum("__n").alias("__na"))
        mb = cm.groupBy(F.col("__b").alias("__c")) \
               .agg(F.sum("__n").alias("__nb"))
        pe_num = (ma.join(mb, "__c")
                    .agg(F.coalesce(
                        F.sum(F.col("__na").cast("double") * F.col("__nb")),
                        F.lit(0.0)).alias("__pe_num")))
        tot = cm.agg(
            F.coalesce(F.sum("__n"), F.lit(0)).alias("n"),
            F.coalesce(F.sum(F.when(F.col("__a") == F.col("__b"),
                                    F.col("__n"))), F.lit(0))
             .alias("__agree"))
        out = tot.crossJoin(pe_num)
        n = F.col("n")
        po = F.when(n > 0, F.col("__agree") / n)
        pe = F.when(n > 0, F.col("__pe_num") / (n.cast("double") * n))
        out = out.withColumn("po", po).withColumn("pe", pe)
        kappa = F.when(F.col("pe") < 1.0,
                       (F.col("po") - F.col("pe")) / (1 - F.col("pe")))
        return out.select("n", "po", "pe", kappa.alias("kappa"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class RegressionEvaluator(_AggStat):
    """Regression-quality metrics in ONE distributed aggregation.

    ``evaluate(df)`` returns ONE row::

        n          bigint   rows with both label and prediction non-null
        mae        double   mean |err|
        mse        double   mean err²
        rmse       double   sqrt(mse)
        r2         double   1 - SS_res / SS_tot  (NULL when the label
                            is constant — SS_tot = 0 has no R²)
        mape       double   mean |err / label| over label <> 0 rows
        max_error  double   max |err|

    SS_tot uses the one-pass identity ``Σ(y-ȳ)² = Σy² - (Σy)²/n`` so
    the whole readout is a single scan + single-row reduce at any
    scale (same shape as the reference's scoring aggregations). No
    second pass for the label mean, no sort, no UDF.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "ground-truth numeric column", TypeConverters.toString)
    predictionCol = Param(Params._dummy(), "predictionCol",
                          "predicted numeric column", TypeConverters.toString)

    _defaults = dict(labelCol="label", predictionCol="prediction")

    def _stats(self):
        """Every row enters (invalid ones add a NULL error); ``bias``
        (mean signed error) feeds only ``stream_regression_monitor``."""
        y = F.col(self.getOrDefault(self.labelCol)).cast("double")
        p = F.col(self.getOrDefault(self.predictionCol)).cast("double")
        valid = y.isNotNull() & p.isNotNull()
        err = F.when(valid, p - y)
        n = F.col("n").cast("double")
        ss_tot = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
        r2 = F.when(ss_tot > 0, 1.0 - F.col("__ss_res") / ss_tot)
        return (F.lit(True),
                [F.count(err).alias("n"),
                 F.avg(F.abs(err)).alias("mae"),
                 F.avg(err * err).alias("mse"),
                 F.max(F.abs(err)).alias("max_error"),
                 F.avg(err).alias("bias"),
                 F.sum(F.when(valid, y)).alias("__sy"),
                 F.sum(F.when(valid, y * y)).alias("__syy"),
                 F.sum(F.when(valid, (p - y) * (p - y))).alias("__ss_res"),
                 F.avg(F.when(valid & (y != 0), F.abs((p - y) / y)))
                 .alias("mape")],
                [F.col("n"), F.col("mae"), F.col("mse"),
                 F.sqrt(F.col("mse")).alias("rmse"), r2.alias("r2"),
                 F.col("mape"), F.col("max_error")])


class ClusteringEvaluator(AlgoOperator):
    """Simplified (centroid-based) silhouette — the same family of
    silhouette pyspark.ml's ClusteringEvaluator computes: per point,
    ``a`` = euclidean distance to its OWN cluster centroid, ``b`` =
    distance to the NEAREST other centroid, silhouette =
    ``(b - a) / max(a, b)`` (0 when both distances are 0, i.e. every
    centroid sits on the point). Hruschka et al. 2004 show the
    centroid form tracks the exact all-pairs silhouette at a linear
    (not quadratic) cost — the only silhouette that exists at 100 TB.

    ``transform(df)`` appends per-point ``a_dist / b_dist /
    silhouette``; ``evaluate(df)`` returns per-cluster ``n`` + mean
    silhouette plus an ``__overall__`` row.

    Scale shape: centroids are ONE hash aggregation whose output is
    k rows (a model artifact); they fold back in as literals, so the
    per-point pass is a map-only codegen projection — no join, no
    second shuffle. Expression size is O(k²) from the nearest-other
    CASE fan-out; guarded at 64 clusters (past that, silhouette of a
    k>64 clustering is not a per-point literal fold problem anymore —
    route through a broadcast join instead).
    """

    featureCols = Param(Params._dummy(), "featureCols",
                        "numeric feature columns",
                        TypeConverters.toListString)
    predictionCol = Param(Params._dummy(), "predictionCol",
                          "cluster assignment column",
                          TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "per-point silhouette column",
                      TypeConverters.toString)

    MAX_CLUSTERS = 64

    _defaults = dict(predictionCol="cluster", outputCol="silhouette")

    def setFeatureCols(self, *v):
        cols = list(v[0]) if len(v) == 1 and not isinstance(v[0], str) else list(v)
        return self._set(featureCols=cols)

    def _centroids(self, df: DataFrame):
        feats = self.getOrDefault(self.featureCols)
        pred = self.getOrDefault(self.predictionCol)
        rows = (df.filter(F.col(pred).isNotNull())
                .groupBy(F.col(pred).cast("string").alias("__c"))
                .agg(*[F.avg(F.col(c).cast("double")).alias(c)
                       for c in feats])
                .collect())
        if len(rows) < 2:
            raise ValueError("silhouette needs >= 2 clusters")
        if len(rows) > self.MAX_CLUSTERS:
            raise ValueError(
                f"{len(rows)} clusters > {self.MAX_CLUSTERS}; the "
                "literal-fold silhouette is for model-sized k")
        return {r["__c"]: [float(r[c]) for c in feats] for r in rows}

    def _with_distances(self, df: DataFrame, cents: dict):
        feats = self.getOrDefault(self.featureCols)
        pred = F.col(self.getOrDefault(self.predictionCol)).cast("string")

        def dist(center):
            s = F.lit(0.0)
            for c, m in zip(feats, center):
                d = F.col(c).cast("double") - F.lit(m)
                s = s + d * d
            return F.sqrt(s)

        d_of = {c: dist(m) for c, m in cents.items()}
        a = F.lit(None).cast("double")
        b = F.lit(None).cast("double")
        for c in sorted(d_of):
            others = [d_of[o] for o in sorted(d_of) if o != c]
            a = F.when(pred == c, d_of[c]).otherwise(a)
            b = F.when(pred == c, F.least(*others) if len(others) > 1
                       else others[0]).otherwise(b)
        return df.withColumn("a_dist", a).withColumn("b_dist", b)

    def transform(self, df: DataFrame) -> DataFrame:
        out = self._with_distances(df, self._centroids(df))
        a, b = F.col("a_dist"), F.col("b_dist")
        sil = F.when(F.greatest(a, b) > 0,
                     (b - a) / F.greatest(a, b)).otherwise(
            F.when(a.isNotNull(), F.lit(0.0)))
        return out.withColumn(self.getOrDefault(self.outputCol), sil)

    def evaluate(self, df: DataFrame) -> DataFrame:
        pred = self.getOrDefault(self.predictionCol)
        oc = self.getOrDefault(self.outputCol)
        per = self.transform(df).filter(F.col(pred).isNotNull())
        grp = (per.groupBy(F.col(pred).cast("string").alias("cluster"))
               .agg(F.count(oc).alias("n"),
                    F.avg(oc).alias("mean_silhouette")))
        overall = per.agg(
            F.lit("__overall__").alias("cluster"),
            F.count(oc).alias("n"),
            F.avg(oc).alias("mean_silhouette"))
        return grp.unionByName(overall)


class IsotonicCalibratorModel(AlgoOperator):
    """Fitted isotonic (monotone step) calibration map: score s →
    the calibrated probability of the LAST step whose lower edge is
    ≤ s. The steps fold in as one CASE chain — map-only codegen, no
    join (segment count is bounded by the fit's bin count)."""

    scoreCol = Param(Params._dummy(), "scoreCol",
                     "score column in [0, 1]", TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "calibrated-probability column",
                      TypeConverters.toString)

    _state = ("_boundaries", "_values")

    _defaults = dict(scoreCol="score", outputCol="calibrated")

    def __init__(self, boundaries: list[float] | None = None,
                 values: list[float] | None = None):
        super().__init__()
        self._boundaries = boundaries  # ascending step lower edges
        self._values = values          # non-decreasing step values

    @property
    def steps(self) -> list[tuple[float, float]]:
        return list(zip(self._boundaries, self._values))

    def transform(self, df: DataFrame) -> DataFrame:
        s = F.col(self.getOrDefault(self.scoreCol)).cast("double")
        expr = F.when(s.isNull(), F.lit(None).cast("double"))
        # descending scan: first matching lower edge wins
        for lo, val in reversed(self.steps):
            expr = expr.when(s >= F.lit(lo), F.lit(val))
        expr = expr.otherwise(F.lit(self._values[0]))
        return df.withColumn(self.getOrDefault(self.outputCol), expr)


class IsotonicCalibrator(AlgoOperator):
    """Isotonic probability calibration (Zadrozny & Elkan 2002):
    learn the best monotone non-decreasing map from scores to observed
    positive rates via pool-adjacent-violators, then calibrate any
    frame with the fitted step function.

    Scale shape — the binned-AUC recipe: ONE O(numBins) aggregation
    bins the scores and carries (n, Σlabel) per bin; PAV runs on the
    collected bin table (O(numBins) driver work, the model-fit
    finalizer pattern), so no global sort ever happens. Binning makes
    the fit approximate in the same bounded sense as the AUC: exact
    whenever distinct scores < bins. The fitted map preserves the
    global positive rate by construction (PAV pools are weighted
    means).

    ``fit(df)`` needs ``labelCol`` (0/1) and ``scoreCol`` in [0, 1]
    (clamped). Returns :class:`IsotonicCalibratorModel`.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "boolean/0-1 label column", TypeConverters.toString)
    scoreCol = Param(Params._dummy(), "scoreCol",
                     "score column in [0, 1]", TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "calibrated-probability column",
                      TypeConverters.toString)
    numBins = Param(Params._dummy(), "numBins",
                    "score buckets for the binned fit",
                    TypeConverters.toInt)

    _defaults = dict(labelCol="label", scoreCol="score",
                     outputCol="calibrated", numBins=1024)

    def setNumBins(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBins must be >= 2, got {v}")
        return self._set(numBins=v)

    def fit(self, df: DataFrame) -> IsotonicCalibratorModel:
        bins = self.getOrDefault(self.numBins)
        lbl = F.col(self.getOrDefault(self.labelCol)).cast("int")
        score = F.col(self.getOrDefault(self.scoreCol)).cast("double")
        d = (df.filter(lbl.isNotNull() & score.isNotNull())
             .select(lbl.alias("__y"), score.alias("__s")))
        clamped = F.greatest(F.least(F.col("__s"), F.lit(1.0)),
                             F.lit(0.0))
        bucket = F.least(F.floor(clamped * bins).cast("int"),
                         F.lit(bins - 1))
        hist = (d.groupBy(bucket.alias("__b"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("__y").alias("pos"))
                .orderBy("__b").collect())
        if not hist:
            raise ValueError("no non-null (label, score) rows to fit on")

        # pool adjacent violators over the bin means (weighted)
        pools = []  # [lower_bin, weight, mean]
        for r in hist:
            pools.append([r["__b"], float(r["n"]), r["pos"] / r["n"]])
            while len(pools) > 1 and pools[-2][2] >= pools[-1][2]:
                b, w, m = pools.pop()
                pools[-1][2] = ((pools[-1][1] * pools[-1][2] + w * m)
                                / (pools[-1][1] + w))
                pools[-1][1] += w
        boundaries = [p[0] / bins for p in pools]
        values = [p[2] for p in pools]
        model = IsotonicCalibratorModel(boundaries, values)
        model._set(scoreCol=self.getOrDefault(self.scoreCol),
                   outputCol=self.getOrDefault(self.outputCol))
        return model

    def transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)


class PlattCalibratorModel(AlgoOperator):
    """Fitted sigmoid calibration ``σ(a·s + b)`` — a two-double model,
    map-only codegen apply. NULL score → NULL."""

    scoreCol = Param(Params._dummy(), "scoreCol",
                     "score column", TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "calibrated-probability column",
                      TypeConverters.toString)

    _state = ("_a", "_b")

    _defaults = dict(scoreCol="score", outputCol="calibrated")

    def __init__(self, a: float | None = None, b: float | None = None):
        super().__init__()
        self._a, self._b = a, b

    @property
    def coefficients(self) -> tuple[float, float]:
        return (self._a, self._b)

    def transform(self, df: DataFrame) -> DataFrame:
        s = F.col(self.getOrDefault(self.scoreCol)).cast("double")
        z = F.lit(self._a) * s + F.lit(self._b)
        return df.withColumn(self.getOrDefault(self.outputCol),
                             F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


class PlattCalibrator(AlgoOperator):
    """Platt (1999) sigmoid calibration: fit ``P(y=1|s) = σ(a·s + b)``
    by Newton-Raphson on the regularized cross-entropy, with Platt's
    label-smoothing targets ``t₊ = (n₊+1)/(n₊+2)``, ``t₋ = 1/(n₋+2)``.
    The parametric companion to :class:`IsotonicCalibrator` — two
    parameters instead of a step table, so it extrapolates smoothly
    and never overfits sparse score regions.

    Scale shape — binned sufficient statistics: ONE O(numBins)
    aggregation produces per-bin (mean score, n₊, n₋); Newton runs on
    that collected table (O(numBins·iters) driver work, the binned-AUC
    finalizer pattern). Exact whenever distinct scores < bins, like
    the rest of the binned family.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "boolean/0-1 label column", TypeConverters.toString)
    scoreCol = Param(Params._dummy(), "scoreCol",
                     "score column", TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "calibrated-probability column",
                      TypeConverters.toString)
    numBins = Param(Params._dummy(), "numBins",
                    "score buckets for the binned fit",
                    TypeConverters.toInt)
    maxIter = Param(Params._dummy(), "maxIter",
                    "Newton iterations", TypeConverters.toInt)

    _defaults = dict(labelCol="label", scoreCol="score",
                     outputCol="calibrated", numBins=1024,
                     maxIter=50)

    def setNumBins(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBins must be >= 2, got {v}")
        return self._set(numBins=v)

    def fit(self, df: DataFrame) -> PlattCalibratorModel:
        import math

        bins = self.getOrDefault(self.numBins)
        lbl = F.col(self.getOrDefault(self.labelCol)).cast("int")
        score = F.col(self.getOrDefault(self.scoreCol)).cast("double")
        d = (df.filter(lbl.isNotNull() & score.isNotNull())
             .select(lbl.alias("__y"), score.alias("__s")))
        clamped = F.greatest(F.least(F.col("__s"), F.lit(1.0)),
                             F.lit(0.0))
        bucket = F.least(F.floor(clamped * bins).cast("int"),
                         F.lit(bins - 1))
        hist = (d.groupBy(bucket.alias("__b"))
                .agg(F.avg("__s").alias("s"),
                     F.sum("__y").alias("pos"),
                     F.count(F.lit(1)).alias("n"))
                .collect())
        if not hist:
            raise ValueError("no non-null (label, score) rows to fit on")
        n_pos = sum(r["pos"] for r in hist)
        n_neg = sum(r["n"] - r["pos"] for r in hist)
        t_pos = (n_pos + 1.0) / (n_pos + 2.0)
        t_neg = 1.0 / (n_neg + 2.0)
        # weighted points: (score, target, weight)
        pts = []
        for r in hist:
            if r["pos"]:
                pts.append((r["s"], t_pos, float(r["pos"])))
            if r["n"] - r["pos"]:
                pts.append((r["s"], t_neg, float(r["n"] - r["pos"])))

        a, b = 0.0, math.log((n_pos + 1.0) / (n_neg + 1.0))
        lam = 1e-9  # Levenberg damping keeps the Hessian invertible
        for _ in range(self.getOrDefault(self.maxIter)):
            g_a = g_b = h_aa = h_ab = h_bb = 0.0
            for s, t, w in pts:
                p = 1.0 / (1.0 + math.exp(-(a * s + b)))
                r = w * (p - t)
                g_a += r * s
                g_b += r
                q = w * p * (1.0 - p)
                h_aa += q * s * s
                h_ab += q * s
                h_bb += q
            det = (h_aa + lam) * (h_bb + lam) - h_ab * h_ab
            if det <= 0:
                break
            da = (g_a * (h_bb + lam) - g_b * h_ab) / det
            db = (g_b * (h_aa + lam) - g_a * h_ab) / det
            a, b = a - da, b - db
            if abs(da) < 1e-12 and abs(db) < 1e-12:
                break
        model = PlattCalibratorModel(a, b)
        model._set(scoreCol=self.getOrDefault(self.scoreCol),
                   outputCol=self.getOrDefault(self.outputCol))
        return model

    def transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)


class SplitConformalModel(AlgoOperator):
    """Fitted split-conformal intervals: a per-group table of
    calibrated residual quantiles ``q_hat`` (group-sized — a model
    artifact). ``transform(df)`` appends ``ci_lo = pred − q_hat`` and
    ``ci_hi = pred + q_hat`` via a broadcast join on the group
    columns; ``evaluate(df)`` returns per-group coverage + width on a
    labeled test set. See :class:`SplitConformalRegressor`.
    """

    _state = ("_q_df", "_pred_col", "_group_cols")

    def __init__(self, q_df: DataFrame | None = None,
                 pred_col: str | None = None,
                 group_cols: list[str] = ()):
        super().__init__()
        self._q_df = q_df
        self._pred_col = pred_col
        self._group_cols = list(group_cols)

    def getModelData(self) -> DataFrame:
        return self._q_df

    def _joined(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.functions import broadcast

        if self._group_cols:
            return df.join(broadcast(self._q_df), self._group_cols,
                           "left")
        return df.crossJoin(broadcast(self._q_df))

    def transform(self, df: DataFrame) -> DataFrame:
        p = F.col(self._pred_col).cast("double")
        return (self._joined(df)
                .withColumn("ci_lo", p - F.col("q_hat"))
                .withColumn("ci_hi", p + F.col("q_hat"))
                .drop("q_hat", "n_cal"))

    def evaluate(self, df: DataFrame, label_col: str) -> DataFrame:
        p = F.col(self._pred_col).cast("double")
        y = F.col(label_col).cast("double")
        j = self._joined(df).filter(
            y.isNotNull() & p.isNotNull() & F.col("q_hat").isNotNull())
        covered = F.when(F.abs(y - p) <= F.col("q_hat"), 1).otherwise(0)
        return (j.groupBy(*self._group_cols)
                .agg(F.first("n_cal").alias("n_cal"),
                     F.first("q_hat").alias("q_hat"),
                     F.count(F.lit(1)).alias("n_test"),
                     F.avg(covered).alias("coverage"),
                     F.avg(2 * F.col("q_hat")).alias("avg_width")))


class SplitConformalRegressor(AlgoOperator):
    """Split conformal prediction for regression (Vovk et al. 2005;
    Lei et al. 2018, JASA): given a CALIBRATION set of (prediction,
    label) pairs the model never trained on, the (1−α) interval is
    ``pred ± q_hat`` where ``q_hat`` is the ⌈(n+1)(1−α)⌉-th smallest
    absolute residual — finite-sample marginal coverage ≥ 1−α with NO
    distributional assumptions, which is why it's the default
    uncertainty wrapper for black-box models.

    ``setGroupCols`` makes it group-conditional (Mondrian conformal):
    one ``q_hat`` per group, coverage guaranteed per group.

    ``fit(cal_df)`` → :class:`SplitConformalModel`. The quantile is
    the EXACT order statistic (rank via one per-group window over the
    calibration slice), not an interpolated percentile — the ⌈·⌉ rank
    is what carries the coverage guarantee. When the rank exceeds
    n_cal (tiny groups), ``q_hat`` is NULL → intervals are infinite
    (no false confidence), surfaced as NULL bounds.

    100 TB design: calibration sets are sample-sized by construction
    (you hold out thousands of rows, not terabytes), so the per-group
    sort-window over the calibration slice is bounded; apply is a
    broadcast join + codegen projection over the full data.
    """

    predCol = Param(Params._dummy(), "predCol",
                    "model-prediction column", TypeConverters.toString)
    labelCol = Param(Params._dummy(), "labelCol",
                     "true-value column", TypeConverters.toString)
    groupCols = Param(Params._dummy(), "groupCols",
                      "Mondrian group columns ([] = marginal)",
                      TypeConverters.toListString)
    alpha = Param(Params._dummy(), "alpha",
                  "miscoverage level (interval = 1 - alpha)",
                  TypeConverters.toFloat)

    _defaults = dict(predCol="prediction", labelCol="label",
                     groupCols=[], alpha=0.1)

    def setGroupCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        return self._set(groupCols=cols)

    def setAlpha(self, v):
        v = float(v)
        if not 0 < v < 1:
            raise ValueError(f"alpha must be in (0, 1), got {v}")
        return self._set(alpha=v)

    def fit(self, cal_df: DataFrame) -> SplitConformalModel:
        from pyspark.sql import Window

        gs = self.getOrDefault(self.groupCols)
        a = self.getOrDefault(self.alpha)
        p = F.col(self.getOrDefault(self.predCol)).cast("double")
        y = F.col(self.getOrDefault(self.labelCol)).cast("double")
        res = (cal_df.filter(p.isNotNull() & y.isNotNull())
               .select(*gs, F.abs(y - p).alias("__r")))
        w = (Window.partitionBy(*[F.col(g) for g in gs])
             if gs else Window.partitionBy())
        ranked = res.select(
            *gs, "__r",
            F.row_number().over(w.orderBy("__r")).alias("__rk"),
            F.count(F.lit(1)).over(w).alias("n_cal"))
        # conformal rank: ceil((n+1)(1-alpha)); > n_cal -> no finite q
        k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - a))
        q = (ranked.filter(F.col("__rk") == F.least(
                 k, F.col("n_cal").cast("bigint")))
             .select(*gs,
                     F.when(k <= F.col("n_cal"), F.col("__r"))
                     .alias("q_hat"),
                     "n_cal"))
        return SplitConformalModel(
            q, self.getOrDefault(self.predCol), gs)

    def transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)


class UpliftEvaluator(AlgoOperator):
    """Decile uplift / Qini table (Radcliffe 2007): the standard
    evaluation of an uplift (incremental-response) model — bucket
    units by model score, compare treated vs control response per
    bucket and cumulatively from the top bucket down; a model that
    ranks persuadables first shows concentrated uplift at the top and
    a Qini curve far above the random diagonal.

    Buckets come from the FITTED score-quantile grid (the ``numBins``
    −1 interior percentiles, rounded to 6 dp to pin cross-engine tie
    behavior, folded into the plan as literals) — never from a global
    row_number sort, so the plan is two aggregations at any scale.
    Equal scores land in the same bucket (uneven buckets are the
    honest answer for tied scores).

    ``evaluate(df)`` returns one row per non-empty bucket, top scores
    first::

        bucket_rank      1 = highest-score bucket
        n_t, n_c         treated/control units in the bucket
        y_t, y_c         their summed outcomes
        rate_t, rate_c   bucket response rates (NULL on empty side)
        uplift           rate_t − rate_c
        qini_cum         cumulative Y_t − Y_c·(N_t/N_c) from the top
                         (NULL while cumulative N_c is 0)
    """

    scoreCol = Param(Params._dummy(), "scoreCol",
                     "uplift-model score column", TypeConverters.toString)
    outcomeCol = Param(Params._dummy(), "outcomeCol",
                       "response column (0/1 or numeric)",
                       TypeConverters.toString)
    variantCol = Param(Params._dummy(), "variantCol",
                       "variant label column", TypeConverters.toString)
    treatedLabel = Param(Params._dummy(), "treatedLabel",
                         "treated label", TypeConverters.toString)
    controlLabel = Param(Params._dummy(), "controlLabel",
                         "control label", TypeConverters.toString)
    numBins = Param(Params._dummy(), "numBins", "score buckets",
                    TypeConverters.toInt)

    _defaults = dict(scoreCol="score", outcomeCol="outcome",
                     variantCol="variant", numBins=10)

    def setLabels(self, treated: str, control: str):
        if treated == control:
            raise ValueError("treated and control labels must differ")
        return self._set(treatedLabel=treated, controlLabel=control)

    def setNumBins(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBins must be >= 2, got {v}")
        return self._set(numBins=v)

    def evaluate(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        if (not self.isDefined(self.treatedLabel)
                or not self.isDefined(self.controlLabel)):
            raise ValueError("setLabels(treated, control) is required")
        t_lbl = self.getOrDefault(self.treatedLabel)
        c_lbl = self.getOrDefault(self.controlLabel)
        k = self.getOrDefault(self.numBins)
        s = F.col(self.getOrDefault(self.scoreCol)).cast("double")
        y = F.col(self.getOrDefault(self.outcomeCol)).cast("double")
        v = F.col(self.getOrDefault(self.variantCol)).cast("string")
        base = df.filter(s.isNotNull() & y.isNotNull()
                         & v.isin(t_lbl, c_lbl))
        # ONE sort for all k−1 edges, bit-identical to the
        # per-edge percentile aggregates this replaces (each of which
        # buffered the full column separately — see
        # functions/quantiles.py)
        from flink_ml__spark.functions.quantiles import quantile_edges

        edges = quantile_edges(base, s, k) or [None] * (k - 1)
        above = sum((s > F.lit(e)).cast("int") for e in edges)
        is_t = v == t_lbl
        per = (base.withColumn("__b", F.lit(len(edges)) - above)
               .groupBy("__b")
               .agg(F.sum(F.when(is_t, 1).otherwise(0)).alias("n_t"),
                    F.sum(F.when(~is_t, 1).otherwise(0)).alias("n_c"),
                    F.sum(F.when(is_t, y).otherwise(0.0)).alias("y_t"),
                    F.sum(F.when(~is_t, y).otherwise(0.0))
                    .alias("y_c")))
        w = (Window.orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        rank = F.row_number().over(Window.orderBy("__b"))
        cum_nt = F.sum("n_t").over(w)
        cum_nc = F.sum("n_c").over(w)
        cum_yt = F.sum("y_t").over(w)
        cum_yc = F.sum("y_c").over(w)
        rate_t = F.when(F.col("n_t") > 0, F.col("y_t") / F.col("n_t"))
        rate_c = F.when(F.col("n_c") > 0, F.col("y_c") / F.col("n_c"))
        qini = F.when(cum_nc > 0,
                      cum_yt - cum_yc * cum_nt / cum_nc)
        return per.select(
            rank.alias("bucket_rank"), "n_t", "n_c", "y_t", "y_c",
            rate_t.alias("rate_t"), rate_c.alias("rate_c"),
            (rate_t - rate_c).alias("uplift"),
            qini.alias("qini_cum"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)
