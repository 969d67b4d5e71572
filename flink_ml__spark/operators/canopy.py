"""Canopy clustering, Spark-first.

Reimplements ``/root/reference/src/main/java/cn/swust/algorithms/canopy/
Canopy.java:48-485``: pick a center; points with dist < T1 join the canopy;
of those, points with dist < T2 leave the candidate pool (points in
[T2, T1) belong but stay, and may join later canopies too); near-duplicates
of the center (dist <= 1e-6) are skipped; next center = first remaining
pool point; terminate on empty pool or maxIter.

Determinism: the reference's "first remaining point" is partition-order
dependent (``Canopy.java:426-435``), which is why its own test cannot
assert outputs (``CanopyTest.java:151-152``). Here every point gets a
seeded hash rank once, and "first" means minimum rank — via ``min_by``
aggregation (no sort), so results are reproducible for a given seed.

Scale notes: a driver loop of at most ``maxIter`` rounds; per round one
``min_by`` aggregation + one filter scan over the previous round's
locally checkpointed pool; pools of at most ``_DRIVER_POOL_ROWS`` finish
on the driver. Member
lists are assembled with ``collect_list`` per canopy at the end — the
reference materializes the same arrays in its output rows
(``Canopy.java:94-96``). For outputs too large for that, use
``assign(df)`` which returns the flat (canopy_id, centroid, point)
assignment instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_ml__spark.base import (
    AlgoOperator,
    HasDistanceMeasure,
    HasFeaturesCol,
    HasMaxIter,
    HasPredictionCol,
    HasSeed,
    as_double_array,
)
from flink_ml__spark.operators.fcm import _dist_expr, _np_distances

# once the pool fits comfortably on the driver, the (inherently
# sequential) selection finishes locally in numpy instead of paying one
# cluster round-trip per remaining center — the standard tail-iteration
# cut; above it every round stays distributed
_DRIVER_POOL_ROWS = 200_000


class CanopyParams(HasFeaturesCol, HasPredictionCol, HasMaxIter, HasSeed,
                   HasDistanceMeasure):
    """``CanopyParams.java:6-17``."""

    t1 = Param(Params._dummy(), "t1", "loose distance threshold (> t2)",
               typeConverter=TypeConverters.toFloat)
    t2 = Param(Params._dummy(), "t2", "tight distance threshold",
               typeConverter=TypeConverters.toFloat)

    _defaults = dict(t1=1.0, t2=0.5)


class Canopy(AlgoOperator, CanopyParams):

    def _centers(self, df: DataFrame) -> list[list[float]]:
        """Sequential center selection (inherently so: each center
        depends on the previous removals). Per round: one ``min_by``
        aggregation + one filter over the previous pool. Each child pool
        is a lazy local checkpoint that the round's aggregation (which
        doubles as the emptiness check) materializes, so its plan is a
        scan of the checkpointed rows: lineage never recomputes and the
        plan does not grow with the round count."""
        if self.getT1() <= self.getT2():
            raise ValueError("T1 must be greater than T2")
        t2 = self.getT2()
        measure = self.getDistanceMeasure()

        # NULL feature rows can be neither centers nor members; a
        # NULL winning min_by would silently terminate selection with
        # zero centers (empty output for a non-empty dataset)
        pool = df.filter(F.col(self.getFeaturesCol()).isNotNull()).select(
            as_double_array(df, self.getFeaturesCol()).alias("x"),
            F.xxhash64(as_double_array(df, self.getFeaturesCol()),
                       F.lit(self.getSeed())).alias("__rank"))
        base = pool.persist(StorageLevel.MEMORY_AND_DISK)

        centers: list[list[float]] = []
        head_agg = [F.min_by("x", "__rank").alias("c"),
                    F.count(F.lit(1)).alias("n")]
        try:
            head = pool.agg(*head_agg).collect()[0]
            rounds_left = self.getMaxIter()
            while rounds_left > 0:
                if head is None or head["c"] is None or head["n"] == 0:
                    break
                if head["n"] <= _DRIVER_POOL_ROWS:
                    centers.extend(self._finish_local(
                        pool, measure, t2, rounds_left))
                    break
                center = list(head["c"])
                centers.append(center)
                rounds_left -= 1
                x = [F.element_at(F.col("x"), j + 1)
                     for j in range(len(center))]
                d = _dist_expr(x, center, measure)
                # pool keeps dist >= T2, dropping (near-)duplicates of
                # the center (``Canopy.java:396-414``); one job per
                # round: next center + emptiness check in a single
                # aggregation, which also materializes the checkpoint
                pool = (pool.filter((d > 1e-6) & (d >= t2))
                        .localCheckpoint(eager=False))
                head = pool.agg(*head_agg).collect()[0]
                # the checkpoint now holds the surviving rows
                base.unpersist()
        finally:
            base.unpersist()
        return centers

    def _finish_local(self, pool, measure: str, t2: float,
                      rounds_left: int) -> list[list[float]]:
        """Identical selection semantics, vectorized on the driver."""
        import numpy as np

        rows = pool.collect()
        if not rows:
            return []
        X = np.asarray([list(r["x"]) for r in rows], dtype=np.float64)
        ranks = np.asarray([r["__rank"] for r in rows])
        alive = np.ones(len(X), dtype=bool)
        centers: list[list[float]] = []
        for _ in range(rounds_left):
            if not alive.any():
                break
            idx = np.flatnonzero(alive)
            c = X[idx[np.argmin(ranks[idx])]]
            centers.append(c.tolist())
            d = _np_distances(X[idx], c[None], measure)[:, 0]
            alive[idx] = (d > 1e-6) & (d >= t2)
        return centers

    def assign(self, df: DataFrame) -> DataFrame:
        """Flat assignment output: (canopy_id int, centroid, point) —
        the scale-friendly shape (one row per membership edge).

        Membership is reconstructed in ONE vectorized pass after the
        centers are known: a point belongs to canopy i iff it was still
        in the pool at round i (no earlier center within T2 or ≤1e-6)
        and lies within T1 of center i — a cumulative mask over the
        point×center distance matrix in numpy (``mapInPandas``), instead
        of materializing per-round member DataFrames.
        """
        import numpy as np

        spark = df.sparkSession
        schema = "canopy_id int, centroid array<double>, point array<double>"
        centers = self._centers(df)
        if not centers:
            return spark.createDataFrame([], schema)
        C = np.asarray(centers)
        t1, t2 = self.getT1(), self.getT2()
        measure = self.getDistanceMeasure()
        def empty_frame():
            # object dtype: Arrow can't cast empty float64 ndarrays to list
            return pd.DataFrame({
                "canopy_id": pd.Series([], dtype="int32"),
                "centroid": pd.Series([], dtype="object"),
                "point": pd.Series([], dtype="object")})

        def member_edges(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["point"].to_numpy()).astype(np.float64)
                D = _np_distances(X, C, measure)
                gone = (D <= 1e-6) | (D < t2)     # removed from the pool
                gone_before = np.concatenate(
                    [np.zeros((len(X), 1), bool),
                     np.cumsum(gone, 1)[:, :-1] > 0], axis=1)
                member = ~gone_before & (D > 1e-6) & (D < t1)
                frames = []
                for i in range(len(C)):
                    sel = member[:, i]
                    if not sel.any():
                        continue
                    frames.append(pd.DataFrame({
                        "canopy_id": i,
                        "centroid": [C[i].tolist()] * int(sel.sum()),
                        "point": [list(v) for v in X[sel]]}))
                yield (pd.concat(frames, ignore_index=True)
                       if frames else empty_frame())

        pts = (df.filter(F.col(self.getFeaturesCol()).isNotNull())
               .select(as_double_array(df, self.getFeaturesCol())
                       .alias("point")))
        edges = pts.mapInPandas(member_edges, schema)
        center_rows = spark.createDataFrame(
            [(i, c, c) for i, c in enumerate(centers)], schema)
        return edges.unionByName(center_rows)

    def transform(self, df: DataFrame) -> DataFrame:
        """Reference-shaped output: one row per canopy —
        (centroids array<double>, <predictionCol> array<array<double>>)
        with the center first in the member list (``Canopy.java:94-96``).
        """
        flat = self.assign(df)
        pred = self.getPredictionCol()
        # drop only the center rows assign() unions in (a real member is
        # never point == centroid: dist <= 1e-6 is excluded from
        # membership), then prepend the center — collect_list skips the
        # NULLs the filter produces, so duplicate member points survive
        # exactly as the reference keeps them (``Canopy.java:94-96``)
        member = F.when(F.col("point") != F.col("centroid"),
                        F.col("point"))
        return (flat.groupBy("canopy_id")
                .agg(F.first("centroid").alias("centroids"),
                     F.concat(F.array(F.first("centroid")),
                              F.collect_list(member)).alias(pred))
                .orderBy("canopy_id")
                .drop("canopy_id"))
