"""Fuzzy C-Means (FCM), Spark-first.

Reimplements ``/root/reference/src/main/java/cn/swust/algorithms/fcm/``
(``FCM.java:53-579``, ``FCMModel.java:32-167``):

* membership update ``u_ik = 1 / Σ_j (d_ik/d_jk)^(2/(m−1))`` with the
  0-distance guard ``d == 0 → 1e-10`` (``FCM.java:527-553``)
* centroid update ``c_k = Σ u_ik^m·x_i / Σ u_ik^m`` (``FCM.java:442-503``)
* convergence when ``max|Δu| < TOL`` or maxIter, first round skipped
  (``FCM.java:288-341``)
* Dirichlet(1) random initial memberships (``FCM.java:555-563``) — the
  reference leaves these unseeded; here they are derived from a seeded
  per-row hash so runs are reproducible (SURVEY §7 "hard parts").

Architecture (the MLlib driver-loop pattern, replacing the reference's
Flink bounded-iteration graph): centroids live on the driver between
epochs; each epoch evaluates ONE numpy kernel computing ``Σ u^m``,
``Σ u^m·x`` and the membership-delta max (the treeAggregate shape —
Catalyst expressions for this O(k²·dims) math blow codegen limits and
pay per-epoch analysis cost). Inputs of at most ``_DRIVER_FIT_ROWS``
rows run the kernel on the collected matrix; larger ones run it per
Arrow batch in ONE ``mapInPandas`` job per epoch and sum the partials
on the driver. Memberships are never materialized: after
round one they are a pure function of (point, centroids), so
``max|Δu|`` is computed by evaluating memberships at both the current
and previous centroids inside the same pass. Per-epoch traffic is
O(partitions·k·dims) partials in, O(k·dims) centroid literals out —
independent of row count, the shape that survives 100 TB.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_ml__spark.base import (
    Estimator,
    HasDistanceMeasure,
    HasFeaturesCol,
    HasMaxIter,
    HasPredictionCol,
    HasSeed,
    Model,
    as_double_array,
    map_partials,
)


class FCMParams(HasFeaturesCol, HasPredictionCol, HasMaxIter, HasSeed,
                HasDistanceMeasure):
    """``FCMModelParams.java:12-30`` + shared mixins."""

    k = Param(Params._dummy(), "k", "number of clusters",
              typeConverter=TypeConverters.toInt)
    m = Param(Params._dummy(), "m", "fuzziness exponent (> 1)",
              typeConverter=TypeConverters.toFloat)
    tol = Param(Params._dummy(), "tol",
                "convergence tolerance on max membership delta",
                typeConverter=TypeConverters.toFloat)

    _defaults = dict(k=3, m=2.0, tol=1e-4)

    def getTOL(self) -> float:
        """The reference's spelling of ``getTol``."""
        return self.getTol()

    def setTOL(self, value: float):
        return self.setTol(value)


def _dist_expr(x_elems, centroid: list[float], measure: str):
    """Distance between the point (element expressions) and a literal
    centroid — euclidean or cosine (flink-ml DistanceMeasure parity)."""
    if measure == "euclidean":
        s = sum((x_elems[j] - F.lit(centroid[j])) ** 2
                for j in range(len(centroid)))
        return F.sqrt(s)
    # cosine distance = 1 − dot / (‖x‖·‖c‖)
    dot = sum(x_elems[j] * F.lit(centroid[j]) for j in range(len(centroid)))
    xn = F.sqrt(sum(e * e for e in x_elems))
    cn = math.sqrt(sum(v * v for v in centroid)) or 1e-10
    return 1 - dot / (xn * F.lit(cn))


def _make_np_math():
    """Build the distance/membership math as NESTED functions so
    cloudpickle ships their bytecode by VALUE into UDF closures.

    Module-level functions referenced from a ``mapInPandas`` /
    ``pandas_udf`` closure are pickled by REFERENCE: every fresh
    Python worker then runs ``import flink_ml__spark.operators.fcm``
    (pulling in pyspark.ml and friends) before its first batch —
    measured ~0.7 s, and with a local[32] worker pool a per-epoch
    single-partition job lands on a different worker almost every
    time, so the fit loop re-paid it nearly every epoch (1.0 s/epoch
    wall for 1.5 ms of numpy). Nested functions have a
    ``<locals>`` qualname, which cloudpickle treats as
    non-importable and serializes by value — the worker runs pure
    bytecode against the numpy it already has loaded (guide §4.5:
    amortize per-task setup; here the setup was an avoidable import).
    """

    def np_distances(X, C, measure: str):
        """Point×centroid distance matrix with the reference's guards
        (``FCM.java``)."""
        import numpy as np

        if measure == "euclidean":
            d = np.sqrt(((X[:, None, :] - C[None, :, :]) ** 2).sum(-1))
        else:  # cosine distance = 1 − dot/(‖x‖·‖c‖), zero-norm guard
            cn = np.linalg.norm(C, axis=1, keepdims=True).T
            cn = np.where(cn == 0, 1e-10, cn)
            xn = np.linalg.norm(X, axis=1, keepdims=True)
            d = 1.0 - (X @ C.T) / (xn * cn)
        return d

    def np_memberships(X, C, measure: str, p: float):
        """``FCM.updateMembershipVector`` (``FCM.java:527-553``): u_ik =
        1/Σ_j (d_ik/d_jk)^p with the 0-distance guard d==0 → 1e-10."""
        import numpy as np

        d = np_distances(X, C, measure)
        d = np.where(d == 0, 1e-10, d)
        return 1.0 / ((d[:, :, None] / d[:, None, :]) ** p).sum(2)

    return np_distances, np_memberships


# public module API unchanged; the names just bind closure-qualified
# functions that UDF closures can capture without a worker-side import
_np_distances, _np_memberships = _make_np_math()

# fit() runs its epochs driver-side when the input has at most this
# many rows (one bounded collect — the same order of driver memory as
# KMeans's k-means++ init sample) instead of paying a fixed ~0.2-0.5 s
# job dispatch per epoch for sub-ms of numpy. Above it every epoch is
# one mapInPandas job running the same kernel.
_DRIVER_FIT_ROWS = 8192


def _init_membership_exprs(x_col, k: int, seed: int):
    """Seeded Dirichlet(1) initial memberships (``FCM.java:555-563``).

    Dirichlet(1,...,1) == normalized Exp(1) draws; each draw comes from a
    per-row xxhash64 so the init is deterministic and independent of
    partitioning (the reference's unseeded sampler is the reason its own
    Canopy/FCM tests cannot assert cluster assignments).
    """
    eps = 1e-12
    e = []
    for kk in range(k):
        h = F.xxhash64(x_col, F.lit(seed), F.lit(kk))
        u01 = (h.cast("double") / F.lit(float(2 ** 64))) + 0.5
        u01 = F.least(F.greatest(u01, F.lit(eps)), F.lit(1 - eps))
        e.append(-F.log(u01))
    total = sum(e)
    return [ek / total for ek in e]


class FCMModel(Model, FCMParams):
    """Cluster assignment = argmax membership ≡ argmin distance
    (``FCMModel.java:121-143``); centroids broadcast as literals."""

    # a model built by ``setModelData`` holds its centroids only there
    _state = ("_centroids", "_model_data")

    def __init__(self, centroids: list[list[float]] | None = None):
        super().__init__()
        self._centroids = centroids

    @property
    def centroids(self) -> list[list[float]]:
        if self._centroids is None and self._model_data is not None:
            rows = self._model_data.orderBy("cluster_id").collect()
            self._centroids = [list(r["centroid"]) for r in rows]
        return self._centroids

    def getModelData(self, reference_shape: bool = False,
                     data: DataFrame | None = None) -> DataFrame:
        """Default: (cluster_id int, centroid array<double>) — one row
        per cluster, synthesized from the fitted centroids when not
        explicitly set, so ``FCMModel().setModelData(m.getModelData())``
        transplants (``FCMTest.java:357-370``). The membership matrix is
        deliberately NOT in here: at scale it has one row per input
        point and must stay distributed (see :meth:`membership_matrix`).

        ``reference_shape=True``: the reference's model-data schema —
        ONE row ``(centroids array<array<double>>, membershipMatrix
        array<struct<features, membership>>)`` per ``FCMModelData.java:
        35-47`` (column names asserted by ``FCMTest.java:321-326``).
        Requires ``data`` (the points to materialize memberships for)
        and collects every point into a single row — reference-parity
        accessor for reference-sized data, not a scale path.
        """
        if reference_shape:
            if data is None:
                raise ValueError(
                    "reference_shape=True needs the points DataFrame "
                    "(the reference materializes the membership matrix "
                    "over the training data in its model data)")
            fcol = self.getFeaturesCol()
            mm = self.membership_matrix(data)
            cent = F.array(*[F.array(*[F.lit(float(v)) for v in c])
                             for c in self.centroids])
            return (mm.agg(F.collect_list(F.struct(
                        as_double_array(mm, fcol).alias("features"),
                        F.col("membership").alias("membership")))
                    .alias("membershipMatrix"))
                    .select(cent.alias("centroids"), "membershipMatrix"))
        if self._model_data is None and self._centroids is not None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            self._model_data = spark.createDataFrame(
                [(i, list(c)) for i, c in enumerate(self._centroids)],
                "cluster_id int, centroid array<double>")
        return super().getModelData()

    def transform(self, df: DataFrame) -> DataFrame:
        """Prediction = argmin distance ≡ argmax membership
        (``FCMModel.java:121-143``); vectorized numpy over Arrow batches
        — the O(k·dims) Catalyst expression alternative blows codegen
        limits and runs interpreted for high-dim features."""
        import numpy as np

        C = np.asarray(self.centroids)
        measure = self.getDistanceMeasure()

        @F.pandas_udf("int")
        def predict(embs: pd.Series) -> pd.Series:
            X = np.stack(embs.to_numpy()).astype(np.float64)
            return pd.Series(
                _np_distances(X, C, measure).argmin(1)).astype("int32")

        arr = as_double_array(df, self.getFeaturesCol())
        return df.withColumn(self.getPredictionCol(), predict(arr))

    def membership_matrix(self, df: DataFrame) -> DataFrame:
        """Full membership matrix as a DataFrame (features, membership
        array<double>) — the reference materializes this inside its model
        data (``FCMModelData.java:35-47``); at scale it must stay
        distributed, so it is exposed lazily here instead."""
        import numpy as np

        C = np.asarray(self.centroids)
        measure = self.getDistanceMeasure()
        if self.getM() <= 1.0:
            raise ValueError("fuzziness exponent m must be > 1")
        p = 2.0 / (self.getM() - 1.0)

        @F.pandas_udf("array<double>")
        def memberships(embs: pd.Series) -> pd.Series:
            X = np.stack(embs.to_numpy()).astype(np.float64)
            return pd.Series(
                list(_np_memberships(X, C, measure, p)))

        arr = as_double_array(df, self.getFeaturesCol())
        return df.select(F.col(self.getFeaturesCol()),
                         memberships(arr).alias("membership"))


class FCM(Estimator, FCMParams):
    """FCM estimator — driver loop over one partial-aggregate kernel per
    epoch (the MLlib treeAggregate shape), evaluated on the collected
    rows of a small input or in one ``mapInPandas`` job over a large one.

    The per-epoch math runs in numpy: building it as
    Catalyst expressions instead costs O(k²·dims) expression nodes whose
    per-epoch analysis + codegen dominates the runtime (and grows with
    dims), while memberships stay a pure function of (point, centroids),
    so each epoch ships only O(k·dims) centroid literals out and
    O(partitions·k·dims) partials back — row-count-independent traffic.
    """

    def fit(self, df: DataFrame) -> FCMModel:
        import numpy as np

        k, m, tol, max_iter = (self.getK(), self.getM(), self.getTOL(),
                               self.getMaxIter())
        if m <= 1.0:
            raise ValueError("fuzziness exponent m must be > 1")
        seed, measure = self.getSeed(), self.getDistanceMeasure()
        fcol = self.getFeaturesCol()
        p = 2.0 / (m - 1.0)

        # NOT ensure_min_parallelism'd: fanning a small cached table to
        # defaultParallelism makes every epoch pay ~32 task launches for
        # sub-ms compute each (measured 3.8 → 4.4 s at sf0.1); a lake-
        # scale feature table arrives well-split from the scan anyway
        # rows with NULL features are dropped, as KMeans drops them
        pts = (df.select(as_double_array(df, fcol).alias("x"))
               .filter(F.col("x").isNotNull()))
        # epoch-1's Δu compares against the Dirichlet init, so materialize
        # it as a column once (seeded per-row hash → partition-independent)
        u0 = _init_membership_exprs(F.col("x"), k, seed)
        base = (pts.select("x", F.array(*u0).alias("u0"))
                .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            # one bounded collect: the rows themselves when there are at
            # most _DRIVER_FIT_ROWS of them, else proof that there are more
            rows = base.limit(max(_DRIVER_FIT_ROWS, k) + 1).collect()
            if len(rows) < k:
                raise ValueError(
                    f"need at least k={k} points, got {len(rows)}")
            on_driver = len(rows) <= _DRIVER_FIT_ROWS
            X = np.asarray([list(r["x"]) for r in rows])
            U0 = np.asarray([list(r["u0"]) for r in rows])

            # No centroid sampling: the reference seeds centroids
            # (``FCM.java:71``) but its first update derives them purely
            # from the Dirichlet memberships (as does ours at epoch 0),
            # so the sampled values are never read — only k ≤ n matters.
            C, P = np.zeros((k, X.shape[1])), None

            def partial(X, U0, C, P, it):
                """Σ u^m, Σ u^m·x and max|Δu| over the points X, with
                memberships at centroids C (the Dirichlet init U0 at
                epoch 0) and Δu against centroids P (U0 at epoch 1)."""
                u = U0 if it == 0 else _np_memberships(X, C, measure, p)
                if it == 0:
                    delta = 0.0  # first round skips the tol check
                else:            # (``FCM.java:315-322``)
                    uo = U0 if it == 1 else _np_memberships(
                        X, P, measure, p)
                    delta = float(np.abs(u - uo).max())
                w = u ** m
                return w.sum(0), w.T @ X, delta

            for it in range(max_iter):
                parts = ([partial(X, U0, C, P, it)] if on_driver
                         else map_partials(base, partial, C, P, it))
                den = sum(q[0] for q in parts)
                num = sum(q[1] for q in parts)
                P, C = C, num / den[:, None]
                if it >= 1 and max(q[2] for q in parts) < tol:
                    break
        finally:
            base.unpersist()

        model = FCMModel(C.tolist())
        model._set(**{p.name: self.getOrDefault(p) for p in self.params})
        return model
