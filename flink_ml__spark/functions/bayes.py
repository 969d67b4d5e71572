"""Multinomial Naive Bayes over hashed token counts — the classic
fastText-style lightweight text classifier used in training-data
pipelines for language/domain/quality routing when a logistic model
(see ``curation.QualityClassifier``) is heavier than the job needs.

Design for 100 TB and exact SQL-oracle replay:

* **Hashed features** (``md5-60bit(token) mod numFeatures``, the same
  portable hash the dedup family shares with the DuckDB oracle): the
  model is a bounded ``numFeatures × numClasses`` table regardless of
  vocabulary, so fit is two hash aggregations and apply broadcasts the
  matrix into one Arrow map pass — no per-document shuffle at inference.
* **Fixed-point log-probabilities**: log-likelihoods and priors are
  stored as ``round(ln(p) · 10⁶)`` int64. Scores are then INTEGER sums
  — bit-exact whatever the summation order — so Spark, numpy and the
  DuckDB oracle agree on every argmax with no float tolerance band.
  (A float log-prob sum differs across engines in the last bits and
  flips argmax on near-ties; integer scoring removes the failure mode
  entirely at a quantization cost of 1e-6 per token, far below any
  decision margin that matters.)
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import Estimator, HasInputCol, Model
from flink_ml__spark.functions.text import TOKEN_SPLIT

SCALE = 1_000_000


class _NbParams(HasInputCol):
    labelCol = Param(Params._dummy(), "labelCol", "class label column",
                     TypeConverters.toString)
    predictionCol = Param(Params._dummy(), "predictionCol",
                          "predicted-label output column",
                          TypeConverters.toString)
    scoreCol = Param(Params._dummy(), "scoreCol",
                     "winning joint log-probability output column",
                     TypeConverters.toString)
    numFeatures = Param(Params._dummy(), "numFeatures",
                        "hash buckets (model rows per class)",
                        TypeConverters.toInt)
    smoothing = Param(Params._dummy(), "smoothing",
                      "additive (Laplace) smoothing",
                      TypeConverters.toFloat)

    _defaults = dict(inputCol="text", labelCol="lang",
                     predictionCol="nb_pred", scoreCol="nb_score",
                     numFeatures=4096, smoothing=1.0)

    def setNumFeatures(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numFeatures must be >= 2, got {v}")
        return self._set(numFeatures=v)

    def setSmoothing(self, v):
        v = float(v)
        if v <= 0.0:
            raise ValueError(f"smoothing must be > 0, got {v}")
        return self._set(smoothing=v)


class NaiveBayesTextModel(Model, _NbParams):
    """Fitted multinomial NB: broadcast int64 log-prob matrix, one
    Arrow map pass per apply — stream-safe (no aggregate, no join).

    ``labels`` are ascending; prediction is the max integer score with
    ties broken toward the smaller label. NULL text → NULL prediction;
    token-free text scores on priors alone.
    """

    _state = ("_labels", "_priors", "_unseen", "_loglik")

    def __init__(self, labels: list[str] | None = None,
                 priors: list[int] | None = None,
                 unseen: list[int] | None = None,
                 loglik: list[tuple[str, int, int]] | None = None):
        super().__init__()
        self._labels = labels
        self._priors = priors      # int64 round(ln(D_c/D)·1e6) per label
        self._unseen = unseen      # unseen-bucket log-lik per label
        self._loglik = loglik      # [(label, bucket, int64)]

    @property
    def labels(self) -> list[str]:
        return list(self._labels)

    def _matrix(self):
        import numpy as np

        v = self.getOrDefault(self.numFeatures)
        mat = np.empty((len(self._labels), v), dtype=np.int64)
        for ci, lbl in enumerate(self._labels):
            mat[ci, :] = self._unseen[ci]
        for lbl, b, ll in self._loglik:
            mat[self._labels.index(lbl), b] = ll
        return mat

    def transform(self, df: DataFrame) -> DataFrame:
        import hashlib
        import re

        import numpy as np

        labels = list(self._labels)
        priors = np.asarray(self._priors, dtype=np.int64)
        mat = self._matrix()
        v = self.getOrDefault(self.numFeatures)
        pat = TOKEN_SPLIT

        def _score(texts):
            rx = re.compile(pat)
            preds, scores = [], []
            for t in texts:
                if t is None:
                    preds.append(None)
                    scores.append(None)
                    continue
                toks = [w for w in rx.split(t.lower()) if w]
                s = priors.copy()
                for w in toks:
                    b = int(hashlib.md5(w.encode("utf-8"))
                            .hexdigest()[:15], 16) % v
                    s = s + mat[:, b]
                ci = int(s.argmax())  # ties → first = smaller label
                preds.append(labels[ci])
                scores.append(int(s[ci]) / SCALE)
            return pd.DataFrame({"p": preds, "s": scores})

        _score.__annotations__ = {"texts": pd.Series,
                                  "return": pd.DataFrame}
        score_udf = F.pandas_udf(_score, "p string, s double")
        out = score_udf(F.col(self.getInputCol())).alias("__nb")
        return (df.withColumn("__nb", out)
                .withColumn(self.getOrDefault(self.predictionCol),
                            F.col("__nb.p"))
                .withColumn(self.getOrDefault(self.scoreCol),
                            F.col("__nb.s"))
                .drop("__nb"))


class NaiveBayesTextClassifier(Estimator, _NbParams):
    """Estimator: fit = ONE (label, bucket) count aggregation plus the
    per-label marginals — O(numFeatures · numClasses) model pulled to
    the driver (bounded by construction, ~32 KB at the defaults).
    Distinct from ``curation.QualityClassifier`` (iterative logistic
    regression): NB fits in one pass, needs no optimizer, and its
    decision function is exactly SQL-replayable."""

    def fit(self, df: DataFrame) -> NaiveBayesTextModel:
        from flink_ml__spark.functions.dedup import portable_hash60

        c = self.getInputCol()
        lc = self.getOrDefault(self.labelCol)
        v = self.getOrDefault(self.numFeatures)
        a = self.getOrDefault(self.smoothing)

        base = df.filter(F.col(lc).isNotNull())
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(c), F.lit(""))),
                    TOKEN_SPLIT),
            lambda t: t != "")
        bucket = F.explode(F.transform(
            toks, lambda t: F.pmod(portable_hash60(t), F.lit(v))))
        cell = (base.select(F.col(lc).alias("__l"),
                            bucket.alias("__b"))
                .groupBy("__l", "__b")
                .agg(F.count(F.lit(1)).alias("__n")))
        docs = (base.groupBy(F.col(lc).alias("__l"))
                .agg(F.count(F.lit(1)).alias("__d")))
        cells = cell.collect()
        drows = {r["__l"]: r["__d"] for r in docs.collect()}
        if not drows:
            raise ValueError(
                f"NaiveBayesTextClassifier: no non-null {lc!r} labels")

        labels = sorted(drows)
        total_docs = sum(drows.values())
        tok_totals = {lbl: 0 for lbl in labels}
        for r in cells:
            tok_totals[r["__l"]] += r["__n"]
        priors = [round(math.log(drows[lbl] / total_docs) * SCALE)
                  for lbl in labels]
        unseen = [round(math.log(a / (tok_totals[lbl] + a * v))
                        * SCALE) for lbl in labels]
        loglik = [
            (r["__l"], int(r["__b"]), round(
                math.log((r["__n"] + a)
                         / (tok_totals[r["__l"]] + a * v)) * SCALE))
            for r in cells]
        model = NaiveBayesTextModel(labels, priors, unseen, loglik)
        model._set(inputCol=c, labelCol=lc,
                   predictionCol=self.getOrDefault(self.predictionCol),
                   scoreCol=self.getOrDefault(self.scoreCol),
                   numFeatures=v, smoothing=a)
        return model
