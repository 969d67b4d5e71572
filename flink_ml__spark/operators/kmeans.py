"""Hard k-means (Lloyd) — the crisp counterpart of the engine's FCM.

The reference covers soft clustering (FCM) and density pre-clustering
(Canopy); k-means is the north-star complement every clustering
pipeline expects (and the exemplar selector SemDeDup/IVF already use
internally as a *spherical* coarse quantizer — this is the general
euclidean estimator form with a persistable model).

Scale shape (the FCM/MLlib treeAggregate pattern):

* **init** — k-means++ (Arthur & Vassilvitskii 2007) run driver-side
  in numpy over a BOUNDED seeded sample: one JVM
  ``TakeOrderedAndProject`` scan by seeded xxhash64 collects
  ``initSampleSize + 1`` rows — no full-corpus pass, no unbounded
  collect. The extra row says whether the sample is the whole dataset.
* **iterate** — one Lloyd epoch loop over one numpy kernel,
  ``partial(X, C)``: assign each point to its nearest centroid in a
  single matmul and return per-cluster counts and sums, O(k·dims)
  whatever the row count. When the sample is the whole dataset the
  kernel runs on the collected matrix (an epoch job would cost a fixed
  ~0.3 s dispatch for microseconds of numpy); otherwise each epoch is
  ONE ``mapInPandas`` job running the same kernel per Arrow batch, and
  the driver sums the partials. Empty clusters keep their previous
  centroid (MLlib behavior).
* **apply** — ``KMeansModel.transform`` folds the fitted centroids
  into pure-Catalyst array expressions (distances via
  ``zip_with``/``aggregate``, argmin via ``array_position``) — a
  map-only whole-stage-codegen projection, no Python in the apply
  path.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_ml__spark.base import (
    Estimator,
    HasFeaturesCol,
    HasMaxIter,
    HasPredictionCol,
    HasSeed,
    Model,
    as_double_array,
    map_partials,
)


class KMeansParams(HasFeaturesCol, HasPredictionCol, HasMaxIter, HasSeed):
    k = Param(Params._dummy(), "k", "number of clusters",
              TypeConverters.toInt)
    tol = Param(Params._dummy(), "tol",
                "max centroid shift (L2) that counts as converged",
                TypeConverters.toFloat)
    initSampleSize = Param(Params._dummy(), "initSampleSize",
                           "bounded seeded sample for k-means++ init",
                           TypeConverters.toInt)

    def __init__(self):
        super().__init__()
        self._setDefault(k=4, tol=1e-4, maxIter=20, initSampleSize=8192,
                         featuresCol="embedding", predictionCol="prediction",
                         seed=42)

    def getK(self) -> int:
        return self.getOrDefault(self.k)

    def setK(self, v):
        v = int(v)
        if v < 1:
            raise ValueError("k must be >= 1")
        return self._set(k=v)

    def setTol(self, v):
        return self._set(tol=float(v))

    def setInitSampleSize(self, v):
        return self._set(initSampleSize=int(v))


def _dist_exprs(arr, centroids):
    """Squared-euclidean distance of array column ``arr`` to every
    centroid, as ONE Catalyst array expression (k literals folded)."""
    return F.array(*[
        F.aggregate(
            F.zip_with(arr, F.array(*[F.lit(float(v)) for v in c]),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        for c in centroids])


class KMeansModel(Model, KMeansParams):
    """Fitted centroids; ``transform`` appends ``predictionCol`` =
    nearest-centroid index via a map-only codegen projection. Ties
    break to the lowest index (``array_position`` returns the first
    match)."""

    def __init__(self, centroids: list[list[float]] | None = None):
        super().__init__()
        self._centroids = centroids

    @property
    def centroids(self) -> list[list[float]]:
        return [list(c) for c in self._centroids]

    def transform(self, df: DataFrame) -> DataFrame:
        arr = as_double_array(df, self.getFeaturesCol())
        dists = _dist_exprs(arr, self._centroids)
        nearest = (F.array_position(dists, F.array_min(dists)) - 1)
        return df.withColumn(self.getPredictionCol(), nearest.cast("int"))

    def prototypicality(self, df: DataFrame) -> DataFrame:
        """Appends ``predictionCol`` (nearest centroid) and
        ``prototypicality`` — the cosine similarity of each row to its
        ASSIGNED centroid. This is the SSL-prototypes data-pruning
        signal (Sorscher et al., "Beyond neural scaling laws: beating
        power law scaling via data pruning", NeurIPS 2022): drop the
        most prototypical rows when data is abundant (they're
        redundant), the least when it's scarce (they're noise). Keep a
        per-cluster quota by composing with ``StratifiedSampler``
        (``groupCol=prediction, scoreCol=prototypicality``).

        Map-only: distances AND cosines fold the k centroids in as
        literals — one codegen projection, no join, no shuffle. Zero
        vectors (no direction) get NULL prototypicality."""
        arr = as_double_array(df, self.getFeaturesCol())
        dists = _dist_exprs(arr, self._centroids)
        nearest = (F.array_position(dists, F.array_min(dists)) - 1)
        dots = F.array(*[
            F.aggregate(
                F.zip_with(arr,
                           F.array(*[F.lit(float(v)) for v in c]),
                           lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x)
            for c in self._centroids])
        cnorms = F.array(*[
            F.lit(float(sum(v * v for v in c) ** 0.5))
            for c in self._centroids])
        xnorm = F.sqrt(F.aggregate(
            F.transform(arr, lambda x: x * x), F.lit(0.0),
            lambda acc, x: acc + x))
        idx = (nearest + 1).cast("int")
        denom = xnorm * F.element_at(cnorms, idx)
        proto = F.when(denom > 0,
                       F.element_at(dots, idx) / denom)
        return (df.withColumn(self.getPredictionCol(),
                              nearest.cast("int"))
                .withColumn("prototypicality", proto))

    def wssse(self, df: DataFrame) -> float:
        """Within-set sum of squared errors — one scan aggregate."""
        arr = as_double_array(df, self.getFeaturesCol())
        dists = _dist_exprs(arr, self._centroids)
        row = df.agg(F.sum(F.array_min(dists)).alias("c")).first()
        return float(row["c"]) if row["c"] is not None else 0.0

    def _save_model_data(self, path: str) -> None:
        import json
        import os

        with open(os.path.join(path, "centroids.json"), "w") as f:
            json.dump({"centroids": self._centroids}, f)

    def _load_model_data(self, spark, path: str) -> None:
        import json
        import os

        with open(os.path.join(path, "centroids.json")) as f:
            self._centroids = json.load(f)["centroids"]


class KMeans(Estimator, KMeansParams):
    """Lloyd k-means with k-means++ init on a bounded seeded sample.

    Deterministic under any partitioning: the init sample is ordered
    by a seeded hash of the vector VALUE, the ++ draws use a seeded
    numpy generator, and each epoch's update is a sum over points
    (order-independent up to float association, same budget as FCM's
    goldens). Driver-side and distributed epochs run the same kernel,
    so the two branches agree to that budget as well."""

    def fit(self, df: DataFrame) -> KMeansModel:
        import numpy as np

        k = self.getK()
        tol, max_iter = self.getOrDefault(self.tol), self.getMaxIter()
        seed = self.getSeed()
        pts = df.select(as_double_array(df, self.getFeaturesCol())
                        .alias("x")).filter(F.col("x").isNotNull())
        base = pts.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # one bounded collect: the first `cap` rows by seeded hash are
            # the k-means++ sample; one row more tells whether they are
            # the whole dataset
            cap = max(self.getOrDefault(self.initSampleSize), k)
            rows = (base.orderBy(F.xxhash64(F.lit(seed), "x"))
                    .limit(cap + 1).collect())
            if len(rows) < k:
                raise ValueError(f"need at least k={k} points, "
                                 f"got {len(rows)}")
            S = np.asarray([list(r["x"]) for r in rows[:cap]])
            on_driver = len(rows) <= cap

            # k-means++ on the sample (driver-side, O(sample·k·dims))
            rng = np.random.default_rng(seed)
            centroids = [S[rng.integers(len(S))]]
            for _ in range(1, k):
                d2 = np.min(
                    [((S - c) ** 2).sum(1) for c in centroids], axis=0)
                tot = d2.sum()
                if tot <= 0:  # fewer distinct points than k
                    centroids.append(S[rng.integers(len(S))])
                    continue
                centroids.append(S[rng.choice(len(S), p=d2 / tot)])
            C = np.asarray(centroids, dtype=float)

            def partial(X, C):
                """Per-cluster point counts and coordinate sums of X
                assigned to its nearest centroid in C."""
                # ||x-c||² = ||x||² - 2x·c + ||c||²; argmin drops ||x||²
                a = (-2.0 * X @ C.T + (C * C).sum(1)).argmin(1)
                cnt = np.bincount(a, minlength=len(C)).astype(float)
                sums = np.zeros_like(C)
                np.add.at(sums, a, X)
                return cnt, sums

            for _ in range(max_iter):
                parts = ([partial(S, C)] if on_driver
                         else map_partials(base, partial, C))
                cnt = sum(q[0] for q in parts)
                sums = sum(q[1] for q in parts)
                new_C = C.copy()  # empty cluster keeps its centroid
                nz = cnt > 0
                new_C[nz] = sums[nz] / cnt[nz, None]
                shift = float(np.sqrt(((new_C - C) ** 2).sum(1)).max())
                C = new_C
                if shift < tol:
                    break
        finally:
            base.unpersist()

        model = KMeansModel(C.tolist())
        model._set(**{p.name: self.getOrDefault(p) for p in self.params
                      if self.isDefined(p)})
        return model
