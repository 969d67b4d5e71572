"""Similarity search over embedding columns (BASELINE.json north-star).

* ``CosineTopK`` — exact brute-force cosine top-k: one broadcast of the
  (small) query set against the (huge) corpus, dot products via
  ``zip_with``/``aggregate`` higher-order functions (JVM codegen, no
  UDFs), per-query top-k via window ranking. The baseline and the oracle.
* ``IVFCosineTopK`` — the scale path: an IVF-style coarse quantizer
  (seeded sampled centroids, one Lloyd refinement pass) partitions the
  corpus; a query probes only its ``nProbe`` nearest cells, turning the
  all-pairs join into a cell-aligned join that touches
  ``nProbe / nList`` of the corpus. (Inverted-file ANN per Jégou,
  Douze & Schmid, "Product quantization for nearest neighbor search",
  TPAMI 2011 — the coarse-quantizer half, without PQ codes.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_ml__spark.base import (
    AlgoOperator,
    HasSeed,
    as_double_array,
)


class _SimilarityParams(HasSeed):
    embeddingCol = Param(Params._dummy(), "embeddingCol",
                         "array<float/double> embedding column",
                         TypeConverters.toString)
    idCol = Param(Params._dummy(), "idCol", "vector id column",
                  TypeConverters.toString)
    k = Param(Params._dummy(), "k", "neighbors per query",
              TypeConverters.toInt)

    _defaults = dict(embeddingCol="embedding", idCol="vec_id", k=10)


def _make_unit():
    def _unit(M):
        """Row-normalize to unit L2; zero rows stay zero-safe (norm 1
        denominator). One definition shared by the quantizer, the
        probe path and SemDeDup. Built NESTED so cloudpickle ships it
        by VALUE into UDF closures — a module-level function would be
        pickled by reference and force every fresh Python worker to
        import this module's package chain (~0.9 s) before its first
        batch (guide §4.5)."""
        import numpy as np

        n = np.linalg.norm(M, axis=-1, keepdims=True)
        return M / np.where(n == 0, 1.0, n)
    return _unit


_unit = _make_unit()


def _spherical_centroids(X, n_list: int, iters: int):
    """Spherical Lloyd on an already-unit sample matrix → nList unit
    centroids (list of lists). Shared by the IVF and IVF-PQ coarse
    quantizers."""
    import numpy as np

    C = X[:n_list].copy()
    for _ in range(iters):
        # unit sphere: argmin ‖x−c‖² == argmax x·c — one BLAS matmul
        a = (X @ C.T).argmax(1)
        acc = np.zeros_like(C)
        np.add.at(acc, a, X)
        cnt = np.bincount(a, minlength=len(C)).astype(np.float64)
        live = cnt > 0
        # empty cells keep their previous centroid (standard Lloyd
        # dead-cell rule; keeps the cell count stable for nProbe)
        C[live] = _unit(acc[live] / cnt[live, None])
    return [c.tolist() for c in C]


def _cos(v1: str, n1: str, v2: str, n2: str):
    dot = F.aggregate(F.zip_with(v1, v2, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (F.col(n1) * F.col(n2))


class CosineTopK(AlgoOperator, _SimilarityParams):
    """Exact cosine top-k. ``topk(queries, corpus)`` returns
    (query_id, neighbor_id, cosine, rank); self-neighbors excluded."""

    def topk(self, queries: DataFrame, corpus: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        qa = as_double_array(queries, self.getEmbeddingCol())
        ca = as_double_array(corpus, self.getEmbeddingCol())
        q = queries.select(F.col(idc).alias("query_id"), qa.alias("__qv"),
                           F.sqrt(F.aggregate(
                               F.transform(qa, lambda x: x * x), F.lit(0.0),
                               lambda a, x: a + x)).alias("__qn"))
        c = corpus.select(F.col(idc).alias("neighbor_id"), ca.alias("__cv"),
                          F.sqrt(F.aggregate(
                              F.transform(ca, lambda x: x * x), F.lit(0.0),
                              lambda a, x: a + x)).alias("__cn"))
        joined = (c.filter(F.col("__cn") > 0)
                  .crossJoin(F.broadcast(q.filter(F.col("__qn") > 0)))
                  .filter(F.col("query_id") != F.col("neighbor_id"))
                  .withColumn("cosine", _cos("__qv", "__qn", "__cv", "__cn")))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id"))
        return (joined
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getK())
                .select("query_id", "neighbor_id", "cosine", "rank"))

    def transform(self, df: DataFrame) -> DataFrame:
        """Self top-k over one table (every row is a query)."""
        return self.topk(df, df)


class HardNegativeMiner(AlgoOperator, _SimilarityParams):
    """Contrastive-pair mining for embedding-model training: for each
    anchor, the top-k most-similar corpus vectors with a DIFFERENT
    label whose cosine lies in ``[simLo, simHi]`` — "hard" negatives
    (similar enough to teach the margin) with the near-duplicate band
    above ``simHi`` excluded (those are usually mislabeled positives,
    the standard false-negative trap in contrastive mining).

    ``mine(anchors, corpus)`` → (query_id, neighbor_id, label_anchor,
    label_negative, cosine, rank). Exact semantics, same plan shape as
    :class:`CosineTopK`: the ANCHOR side broadcasts (mining runs per
    training batch, so anchors are the bounded side by construction),
    the corpus is scanned map-side — no corpus shuffle, no cartesian
    through the exchange, and the per-anchor top-k plans as
    WindowGroupLimit. For corpus×corpus mining at lake scale, generate
    candidates with :class:`IVFCosineTopK` first and band-filter its
    output — same filter expressions, celled candidate generation.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "class label column (negatives must differ)",
                     TypeConverters.toString)
    simLo = Param(Params._dummy(), "simLo",
                  "minimum cosine for a hard negative",
                  TypeConverters.toFloat)
    simHi = Param(Params._dummy(), "simHi",
                  "maximum cosine (near-dup exclusion band above)",
                  TypeConverters.toFloat)

    _defaults = dict(labelCol="label", simLo=0.0, simHi=0.95)

    def setSimHi(self, v):
        v = float(v)
        if not (-1.0 <= v <= 1.0):
            raise ValueError(f"simHi must be in [-1, 1], got {v}")
        return self._set(simHi=v)

    def mine(self, anchors: DataFrame, corpus: DataFrame) -> DataFrame:
        if self.getOrDefault(self.simLo) >= self.getOrDefault(self.simHi):
            raise ValueError("simLo must be < simHi")
        idc = self.getIdCol()
        lc = self.getOrDefault(self.labelCol)
        qa = as_double_array(anchors, self.getEmbeddingCol())
        ca = as_double_array(corpus, self.getEmbeddingCol())
        q = anchors.select(
            F.col(idc).alias("query_id"),
            F.col(lc).alias("label_anchor"),
            qa.alias("__qv"),
            F.sqrt(F.aggregate(F.transform(qa, lambda x: x * x),
                               F.lit(0.0), lambda a, x: a + x))
            .alias("__qn"))
        c = corpus.select(
            F.col(idc).alias("neighbor_id"),
            F.col(lc).alias("label_negative"),
            ca.alias("__cv"),
            F.sqrt(F.aggregate(F.transform(ca, lambda x: x * x),
                               F.lit(0.0), lambda a, x: a + x))
            .alias("__cn"))
        joined = (c.filter(F.col("__cn") > 0)
                  .crossJoin(F.broadcast(q.filter(F.col("__qn") > 0)))
                  .filter(F.col("query_id") != F.col("neighbor_id"))
                  .filter(F.col("label_anchor") != F.col("label_negative"))
                  .withColumn("cosine",
                              _cos("__qv", "__qn", "__cv", "__cn"))
                  .filter((F.col("cosine")
                           >= F.lit(self.getOrDefault(self.simLo)))
                          & (F.col("cosine")
                             <= F.lit(self.getOrDefault(self.simHi)))))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id"))
        return (joined
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getK())
                .select("query_id", "neighbor_id", "label_anchor",
                        "label_negative", "cosine", "rank"))


class IVFCosineTopK(AlgoOperator, _SimilarityParams):
    """IVF-bucketed approximate cosine top-k.

    train(): seeded sample of ``nList`` corpus vectors + one Lloyd
    refinement pass (mean of assigned vectors) → centroid literals on the
    driver (IVF coarse quantizers are small by design: nList ≤ ~1024).
    topk(): corpus rows keyed by nearest cell; queries replicated to
    their ``nProbe`` nearest cells; cell-aligned join + window top-k.
    """

    nList = Param(Params._dummy(), "nList", "number of IVF cells",
                  TypeConverters.toInt)
    nProbe = Param(Params._dummy(), "nProbe", "cells probed per query",
                   TypeConverters.toInt)
    trainSampleSize = Param(Params._dummy(), "trainSampleSize",
                            "bounded quantizer-training sample size",
                            TypeConverters.toInt)
    trainIter = Param(Params._dummy(), "trainIter",
                      "driver-side Lloyd iterations on the sample",
                      TypeConverters.toInt)

    _state = ("_centroids",)

    _defaults = dict(nList=16, nProbe=4, trainSampleSize=8192,
                     trainIter=3)

    def __init__(self):
        super().__init__()
        self._centroids: list[list[float]] | None = None

    def train(self, corpus: DataFrame) -> "IVFCosineTopK":
        """Spherical coarse quantizer (spherical k-means, Dhillon &
        Modha 2001) trained on a BOUNDED seeded sample — the published
        IVF recipe (coarse quantizers train on ~10k-100k vectors, not
        the corpus): one JVM ``TakeOrderedAndProject`` job pulls the
        ``trainSampleSize`` vectors with the smallest seeded xxhash64,
        then ``trainIter`` Lloyd iterations run driver-side in numpy on
        that O(sample·dims) matrix. Vectors are L2-normalized first so
        the dot-product cell assignment orders cells by COSINE (on the
        unit sphere ‖a−b‖² = 2 − 2·cos(a,b)); clustering raw vectors
        would scatter cosine neighbors of different magnitudes across
        cells. At 100 TB this costs one per-partition top-k scan —
        the previous shape (full-corpus Lloyd partials via
        ``mapInPandas`` after an rdd.takeSample that pickled the whole
        table through Python) cost two extra full passes per train."""
        import numpy as np

        arr = as_double_array(corpus, self.getEmbeddingCol())
        pts = corpus.select(arr.alias("__v"))
        n_list = self.getNList()
        cap = max(self.getOrDefault(self.trainSampleSize), n_list)
        sample = (pts.orderBy(F.xxhash64(F.lit(self.getSeed()), "__v"))
                  .limit(cap).collect())

        X = _unit(np.asarray([list(r["__v"]) for r in sample]))
        self._centroids = _spherical_centroids(
            X, n_list, max(self.getOrDefault(self.trainIter), 0))
        return self

    def index_table(self, corpus: DataFrame) -> DataFrame:
        """(neighbor_id, __cv, __cell) — the corpus keyed by its
        nearest IVF cell. This IS the index: persist it once per
        corpus snapshot (``save_index``) and every later query batch
        skips the full-corpus assignment pass."""
        import numpy as np

        if self._centroids is None:
            self.train(corpus)
        C = np.asarray(self._centroids)

        @F.pandas_udf("int")
        def cell_of(embs: pd.Series) -> pd.Series:
            X = _unit(np.stack(embs.to_numpy()).astype(np.float64))
            return pd.Series((X @ C.T).argmax(1)).astype("int32")

        idc = self.getIdCol()
        ca = as_double_array(corpus, self.getEmbeddingCol())
        return (corpus.select(F.col(idc).alias("neighbor_id"),
                              ca.alias("__cv"))
                .withColumn("__cell", cell_of("__cv")))

    def save_index(self, path: str, corpus: DataFrame | None = None, *,
                   precomputed: DataFrame | None = None,
                   mode: str = "overwrite") -> None:
        """Persist the celled corpus + the operator (``save``: params and
        the trained centroids). The centroids ship WITH the index (an
        IVF index is only meaningful under the quantizer that built
        it); ``mode='append'`` adds a new corpus batch celled under the
        SAME centroids."""
        import os

        if precomputed is None:
            if corpus is None:
                raise ValueError("need corpus or precomputed")
            precomputed = self.index_table(corpus)
        precomputed.write.mode(mode).parquet(os.path.join(path, "data"))
        self.save(path)

    def load_index(self, spark, path: str) -> DataFrame:
        """Load a saved index: restores the centroids onto THIS
        operator (so probe ranking matches the stored cells) and
        returns the celled corpus for ``corpus_indexed=``."""
        import os

        self._load_state(spark, path)
        return spark.read.parquet(os.path.join(path, "data"))

    def topk(self, queries: DataFrame, corpus: DataFrame | None = None,
             *, corpus_indexed: DataFrame | None = None) -> DataFrame:
        """Corpus keyed by nearest cell; queries replicated to their
        ``nProbe`` nearest cells; per-cell brute force as one vectorized
        numpy matmul inside a cogrouped ``applyInPandas`` (candidates cut
        to k per cell before the final global top-k window). Pass
        ``corpus_indexed`` (an :meth:`index_table`/:meth:`load_index`
        result) to skip the corpus assignment pass."""
        import numpy as np

        if corpus_indexed is None:
            if corpus is None:
                raise ValueError("need corpus or corpus_indexed")
            c = self.index_table(corpus)
        else:
            if self._centroids is None:
                raise ValueError(
                    "corpus_indexed requires trained/loaded centroids")
            c = corpus_indexed
        C = np.asarray(self._centroids)
        idc = self.getIdCol()
        k = self.getK()
        n_probe = min(self.getNProbe(), len(C))
        src = corpus if corpus is not None else queries
        id_type = src.schema[idc].dataType.simpleString()

        @F.pandas_udf("array<int>")
        def probes_of(embs: pd.Series) -> pd.Series:
            X = _unit(np.stack(embs.to_numpy()).astype(np.float64))
            # descending dot == ascending L2 on the unit sphere; negate
            # so the stable sort keeps the lowest cell id on dot ties
            # (same tie rule as the argmax in cell assignment)
            order = np.argsort(-(X @ C.T), axis=1,
                               kind="stable")[:, :n_probe]
            return pd.Series(list(order.astype("int32")))

        qa = as_double_array(queries, self.getEmbeddingCol())
        q = (queries.select(F.col(idc).alias("query_id"), qa.alias("__qv"))
             .withColumn("__cell", F.explode(probes_of("__qv"))))

        empty = {"query_id": [], "neighbor_id": [], "cosine": []}

        def per_cell(left, right):
            if not len(left) or not len(right):
                return pd.DataFrame(empty)
            Xc = np.stack(left["__cv"].to_numpy())
            nid = left["neighbor_id"].to_numpy()
            Xq = np.stack(right["__qv"].to_numpy())
            qid = right["query_id"].to_numpy()
            nq = np.linalg.norm(Xq, axis=1)
            nc = np.linalg.norm(Xc, axis=1)
            # zero-norm vectors have no cosine: 0/0 -> NaN, and Spark
            # sorts NaN ABOVE every double — a zero embedding would
            # become every probing query's rank-1 "neighbor"
            cos = (Xq @ Xc.T) / np.outer(np.where(nq == 0, 1.0, nq),
                                         np.where(nc == 0, 1.0, nc))
            frames = []
            for i in range(len(Xq)):
                if nq[i] == 0:
                    continue
                mask = (nid != qid[i]) & (nc > 0)
                cs, ns = cos[i][mask], nid[mask]
                if not len(cs):
                    continue
                sel = np.lexsort((ns, -cs))[:k]
                frames.append(pd.DataFrame({
                    "query_id": qid[i], "neighbor_id": ns[sel],
                    "cosine": cs[sel]}))
            return (pd.concat(frames, ignore_index=True)
                    if frames else pd.DataFrame(empty))

        cand = (c.groupby("__cell").cogroup(q.groupby("__cell"))
                .applyInPandas(per_cell,
                               f"query_id {id_type}, neighbor_id {id_type}, "
                               f"cosine double"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id"))
        return (cand
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "cosine", "rank"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.topk(df, df)


class EmbeddingQuantizer(AlgoOperator, _SimilarityParams):
    """Symmetric int8 scalar quantization of an embedding column:
    per-vector scale ``s = max(|v_i|)``, codes ``q_i = round(v_i ·
    127 / s)`` — the standard 4× storage/bandwidth cut for large
    vector stores (dequantize as ``q_i · s / 127``; cosine rankings
    survive within ~1e-2 at 64 dims). Appends ``emb_scale`` (double)
    and ``emb_q8`` (array<int> in [-127, 127]); the zero vector gets
    scale 0 and all-zero codes.

    Map-only higher-order expressions — no shuffle, no Python. The
    per-element lambda re-evaluates the scale expression under
    CollapseProject (interpreted HOF): fine at ≤a few hundred dims;
    for very wide vectors move the pass to an Arrow UDF like the LSH
    keyer in ``dedup.EmbeddingCosineDeduplicator``.
    """

    def transform(self, df: DataFrame) -> DataFrame:
        arr = as_double_array(df, self.getEmbeddingCol())
        s = F.array_max(F.transform(arr, lambda x: F.abs(x)))
        zero = F.transform(arr, lambda x: F.lit(0).cast("int"))
        q = F.transform(arr,
                        lambda x: F.round(x * 127.0 / s).cast("int"))
        return (df
                .withColumn("emb_scale", s)
                .withColumn("emb_q8",
                            F.when(s == 0, zero).otherwise(q)))


class EmbeddingContaminationChecker(AlgoOperator, _SimilarityParams):
    """Semantic (embedding-space) benchmark-contamination detection —
    the vector analogue of the n-gram
    :class:`~flink_ml__spark.functions.curation.ContaminationChecker`:
    flag training items whose embedding is suspiciously close to an
    eval-set item even when the wording differs (the decontamination
    rule used alongside n-gram overlap in recent LLM data pipelines,
    e.g. Phi-1, Gunasekar et al. 2023 §2.4).

    ``transform_against(df, benchmark)`` appends
    ``max_benchmark_cosine`` (max cosine of the row's embedding to ANY
    benchmark embedding) and ``is_contaminated`` at ``threshold``.

    100 TB design: benchmark suites are small by definition (10³–10⁵
    vectors), so the benchmark matrix is collected once and broadcast;
    the corpus pass is ONE map-only Arrow stage — no join, no shuffle,
    linear scan. Dot products accumulate dimension-sequentially so the
    float64 bit pattern matches a SQL engine's left-to-right
    ``list_dot_product`` exactly (same reason the exact ANN oracle
    hash-matches); zero-norm vectors get cosine 0 on both sides.
    """

    threshold = Param(Params._dummy(), "threshold",
                      "max_benchmark_cosine at/above which "
                      "is_contaminated is true", TypeConverters.toFloat)

    _defaults = dict(threshold=0.9)

    def transform_against(self, df: DataFrame,
                          benchmark: DataFrame) -> DataFrame:
        import numpy as np

        emb = self.getEmbeddingCol()
        bench_rows = benchmark.select(
            as_double_array(benchmark, emb).alias("__v")).collect()
        if not bench_rows:
            raise ValueError("benchmark is empty")
        B = np.asarray([list(r["__v"]) for r in bench_rows])

        def seq_dots(X, Y):
            """X (n,d) @ Y.T with dimension-sequential accumulation —
            bit-identical to a SQL engine's element-order sum."""
            acc = np.zeros((X.shape[0], Y.shape[0]))
            for j in range(X.shape[1]):
                acc += np.outer(X[:, j], Y[:, j])
            return acc

        def seq_sq(X):
            acc = np.zeros(X.shape[0])
            for j in range(X.shape[1]):
                acc += X[:, j] * X[:, j]
            return acc

        bn = np.sqrt(seq_sq(B))
        thr = self.getThreshold()

        @F.pandas_udf("double")
        def max_cos(embs: pd.Series) -> pd.Series:
            X = np.stack(embs.to_numpy()).astype(np.float64)
            den = np.outer(np.sqrt(seq_sq(X)), bn)
            dots = seq_dots(X, B)
            cos = np.where(den == 0, 0.0, dots / np.where(den == 0, 1, den))
            return pd.Series(cos.max(axis=1))

        arr = as_double_array(df, emb)
        return (df
                .withColumn("max_benchmark_cosine", max_cos(arr))
                .withColumn("is_contaminated",
                            F.col("max_benchmark_cosine") >= F.lit(thr)))


class SemDeDup(AlgoOperator, _SimilarityParams):
    """Semantic deduplication over an embedding column (Abbas, Tirumala,
    Simig, Ganguli & Morcos, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): cluster the
    corpus with a spherical coarse quantizer, then within each cluster
    remove all but one member of every group of embeddings whose
    pairwise cosine clears ``threshold`` — catching *semantic*
    duplicates (same content, different wording) that lexical MinHash/
    SimHash cannot see.

    Keep rule follows the paper: candidates are visited farthest-from-
    centroid first (lowest cosine to the cluster centroid, ties by id),
    and a candidate is kept iff no already-kept member of its cluster
    is ``threshold``-similar — so each duplicate group retains its
    least-prototypical exemplar.

    100 TB design: the quantizer is a DETERMINISTIC spherical k-means —
    the ``32·nList`` rows with smallest salted md5 are taken as the
    training sample (``TakeOrderedAndProject``: layout-independent,
    unlike ``takeSample``), then farthest-point init + Lloyd run on the
    driver over that sample only, so the centroids — and therefore the
    kept set — are bit-identical across runs, partitionings and
    cluster sizes (the property every other dedup operator here
    guarantees; the paper's faiss k-means is not reproducible across
    layouts). Cell assignment is one Arrow pass; the greedy runs
    per cell inside ``applyInPandas`` with an incremental kept-matrix
    (O(|cell|·|kept|·d) flops, never a |cell|² matrix), so memory is
    bounded by cell size — size ``nList ≈ corpus/50k`` so cells fit an
    Arrow group. Cross-cell duplicates are uncaught by design (the
    paper's approximation); the invariant gate pins the within-cell
    guarantee: every removed row has a kept ``threshold``-witness.
    """

    nList = Param(Params._dummy(), "nList", "quantizer cells",
                  TypeConverters.toInt)
    threshold = Param(Params._dummy(), "threshold",
                      "cosine at/above which two rows are semantic "
                      "duplicates", TypeConverters.toFloat)

    _defaults = dict(nList=16, threshold=0.95)

    def _train_centroids(self, df: DataFrame):
        """Deterministic spherical k-means on a hash-ordered sample."""
        import numpy as np

        idc = self.getIdCol()
        n_list = self.getNList()
        arr = as_double_array(df, self.getEmbeddingCol())
        h = F.md5(F.concat(F.lit(f"semdedup{self.getSeed()}:"),
                           F.col(idc).cast("string")))
        rows = (df.select(arr.alias("__v"), h.alias("__h"))
                .orderBy("__h").limit(32 * n_list).collect())

        S = _unit(np.asarray([list(r["__v"]) for r in rows]))
        k = min(n_list, len(S))
        # farthest-point init (deterministic; ties -> first index)
        C = S[:1]
        for _ in range(1, k):
            d = ((S[:, None, :] - C[None]) ** 2).sum(-1).min(1)
            C = np.vstack([C, S[d.argmax()][None]])
        for _ in range(5):  # Lloyd on the sample; spherical re-norm
            a = ((S[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
            C = np.vstack([
                _unit(S[a == i].mean(0))[None] if (a == i).any()
                else C[i][None]
                for i in range(k)])
        return C

    def transform(self, df: DataFrame) -> DataFrame:
        import numpy as np

        idc = self.getIdCol()
        C = self._train_centroids(df)
        tau = self.getThreshold()
        id_type = df.schema[idc].dataType.simpleString()

        @F.pandas_udf("int")
        def cell_of(embs: pd.Series) -> pd.Series:
            X = _unit(np.stack(embs.to_numpy()).astype(np.float64))
            d = ((X[:, None, :] - C[None]) ** 2).sum(-1)
            return pd.Series(d.argmin(1)).astype("int32")

        def per_cell(key, pdf):
            X = _unit(np.stack(pdf["__v"].to_numpy()).astype(np.float64))
            ids = pdf["__id"].to_numpy()
            sim_c = X @ C[key[0]]           # centroid is already unit
            # visit farthest-from-centroid first; round the key so
            # duplicates that differ only in last-ulp normalization
            # noise tie-break by id (smaller id survives), not by noise
            order = np.lexsort((ids, np.round(sim_c, 6)))
            kept_rows: list[int] = []
            K = np.empty((0, X.shape[1]))
            for i in order:
                if len(kept_rows) and (K @ X[i]).max() >= tau:
                    continue
                kept_rows.append(i)
                K = np.vstack([K, X[i][None]])
            return pd.DataFrame({"__id": ids[kept_rows]})

        arr = as_double_array(df, self.getEmbeddingCol())
        keyed = (df.select(F.col(idc).alias("__id"), arr.alias("__v"))
                 .withColumn("__cell", cell_of("__v")))
        kept = (keyed.groupBy("__cell")
                .applyInPandas(per_cell, f"__id {id_type}")
                .withColumnRenamed("__id", idc))
        return df.join(kept, idc, "left_semi")


class EmbeddingPCAModel(AlgoOperator, _SimilarityParams):
    """Fitted PCA projection (see :class:`EmbeddingPCA`).

    ``transform(df)`` appends ``pca`` — the embedding centered on the
    corpus mean and projected onto the top-``k`` principal components
    (``array<double>`` of length k). Map-only Arrow pass with the
    (k × dims) component matrix broadcast — zero shuffles, stream-
    compatible. ``explained_variance`` exposes the per-component
    eigenvalues, ``explained_variance_ratio`` their share of total
    variance.
    """

    _state = ("_mean", "_components", "_eigvals", "_total_var")

    def __init__(self, mean=None, components=None, eigvals=None,
                 total_var: float | None = None):
        super().__init__()
        self._mean = mean                  # (dims,)
        self._components = components      # (k, dims) rows orthonormal
        self._eigvals = eigvals            # (k,) descending
        self._total_var = total_var

    @property
    def explained_variance(self):
        return list(self._eigvals)

    @property
    def explained_variance_ratio(self):
        if not self._total_var:
            return [0.0 for _ in self._eigvals]   # constant corpus
        return [v / self._total_var for v in self._eigvals]

    def transform(self, df: DataFrame) -> DataFrame:
        import numpy as np

        sc = df.sparkSession.sparkContext
        bc = sc.broadcast((np.asarray(self._mean),
                           np.asarray(self._components)))

        @F.pandas_udf("array<double>")
        def project(embs: pd.Series) -> pd.Series:
            mean, W = bc.value
            X = np.stack(embs.to_numpy()).astype(np.float64)
            return pd.Series(list((X - mean) @ W.T))

        arr = as_double_array(df, self.getEmbeddingCol())
        return df.withColumn("pca", project(arr))


class EmbeddingPCA(AlgoOperator, _SimilarityParams):
    """PCA over an embedding column — the standard dimensionality cut
    before ANN indexing / clustering (e.g. OPQ/PCA preprocessing in
    FAISS-style pipelines; Jolliffe, Principal Component Analysis).

    ``fit(df)`` computes the corpus mean and covariance in ONE
    distributed pass and eigendecomposes DRIVER-side:

    * each partition emits (n, Σx, ΣxxT) — O(dims²) doubles per
      partition, independent of row count (the treeAggregate shape
      shared with FCM);
    * the driver assembles the covariance
      ``(ΣxxT − n·mean·meanᵀ)/(n−1)``, runs ``numpy.linalg.eigh``
      (dims ≤ a few thousand — trivially driver-sized), keeps the top
      ``k`` eigenvectors, and pins a deterministic sign convention
      (largest-|entry| coordinate positive) so refits are
      reproducible bit-for-bit.

    The model is O(k·dims) — broadcastable — and its ``transform`` is
    map-only. Projection onto orthonormal components preserves
    centered L2 distances restricted to the subspace; at 100 TB the
    fit costs one scan and the apply fuses with the sink.
    """

    _defaults = dict(k=8)

    def fit(self, df: DataFrame) -> EmbeddingPCAModel:
        import numpy as np

        ecol = self.getEmbeddingCol()
        arr = as_double_array(df, ecol)
        src = df.select(arr.alias("__v"))

        def partials(batches):
            n, sx, sxx = 0, 0.0, 0.0
            for pdf in batches:
                X = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
                n += len(X)
                sx = sx + X.sum(0)
                sxx = sxx + X.T @ X
            if n:
                yield pd.DataFrame({
                    "n": [n], "sx": [sx.tolist()],
                    "sxx": [sxx.reshape(-1).tolist()]})

        rows = src.mapInPandas(
            partials, "n long, sx array<double>, sxx array<double>"
        ).collect()
        if not rows:
            raise ValueError("EmbeddingPCA needs at least 2 rows")
        dims = len(rows[0]["sx"])
        k = min(self.getK(), dims)
        n = 0
        sx = np.zeros(dims)
        sxx = np.zeros((dims, dims))
        for row in rows:
            n += row["n"]
            sx += np.asarray(row["sx"])
            sxx += np.asarray(row["sxx"]).reshape(dims, dims)
        if n < 2:
            raise ValueError("EmbeddingPCA needs at least 2 rows")
        mean = sx / n
        cov = (sxx - n * np.outer(mean, mean)) / (n - 1)
        vals, vecs = np.linalg.eigh(cov)          # ascending
        order = np.argsort(vals)[::-1][:k]
        eigvals = vals[order]
        W = vecs[:, order].T                      # (k, dims)
        # deterministic sign: the max-|entry| coordinate is positive
        for i in range(len(W)):
            j = int(np.argmax(np.abs(W[i])))
            if W[i, j] < 0:
                W[i] = -W[i]
        model = EmbeddingPCAModel(mean.tolist(), W.tolist(),
                                  eigvals.tolist(),
                                  float(np.trace(cov)))
        model._set(embeddingCol=ecol, idCol=self.getIdCol(), k=k)
        return model


def _train_sample(pts: DataFrame, seed: int, cap: int, m: int):
    """The PQ training sample of ``pts.__v`` as a (rows, dims) matrix:
    the ``cap`` rows first in seeded-hash order, in one job whose rows
    also give the width, checked to split into ``m`` subspaces."""
    import numpy as np

    sample = (pts.orderBy(F.xxhash64(F.lit(seed), "__v"))
              .limit(cap).collect())
    if not sample:
        raise ValueError("cannot train on an empty embedding column")
    X = np.asarray([list(r["__v"]) for r in sample])
    if X.shape[1] % m:
        raise ValueError(
            f"numSubspaces={m} must divide dims={X.shape[1]}")
    return X


def _pq_train_books(X, m: int, k_sub: int, iters: int):
    """``m`` independent driver-side k-means on the contiguous
    subspace blocks of sample matrix ``X`` → list[m] of
    (k_sub, dims/m) codebooks. Deterministic: init from the unique
    rows in sample (= seeded-hash) order — duplicates collapse so no
    two initial centroids coincide — then Lloyd with the standard
    dead-cell rule."""
    import numpy as np

    sub = X.shape[1] // m
    books = []
    for j in range(m):
        Xj = X[:, j * sub:(j + 1) * sub]
        _, first = np.unique(Xj, axis=0, return_index=True)
        init = Xj[np.sort(first)][:k_sub]
        C = np.vstack([init,
                       Xj[:k_sub - len(init)]]) if len(init) < k_sub \
            else init.copy()
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            acc = np.zeros_like(C)
            np.add.at(acc, a, Xj)
            cnt = np.bincount(a, minlength=len(C)).astype(np.float64)
            live = cnt > 0
            C[live] = acc[live] / cnt[live, None]
        books.append(C.tolist())
    return books


class ProductQuantizer(AlgoOperator, _SimilarityParams):
    """Product quantization of an embedding column (Jégou, Douze &
    Schmid, "Product quantization for nearest neighbor search", TPAMI
    2011 — the PQ-code half; :class:`IVFCosineTopK` is the coarse half).

    The vector is split into ``numSubspaces`` contiguous blocks; each
    block is vector-quantized against its own ``2**bitsPerCode``-entry
    codebook, so a ``d``-dim float vector compresses to ``m`` small
    integer codes plus one reconstruction norm — at d=64 float32 /
    m=8 / 8-bit codes that is 256 B → 9 B per vector (~28×), which is
    what lets a 100 TB embedding corpus' INDEX live in cluster memory.

    * ``train(df)``: one bounded seeded sample pull (the same
      ``TakeOrderedAndProject`` shape as the IVF quantizer), then ``m``
      independent driver-side numpy k-means on the O(sample·dims)
      matrix. Codebooks are O(m · 2^bits · d/m) = O(2^bits · d)
      doubles — broadcast-sized by construction.
    * ``transform(df)``: appends ``pq_code`` (array<int>, length m;
      per-subspace argmin distance, ties to the lowest code) and
      ``pq_norm`` (double — ‖reconstruction‖₂; subspaces are disjoint
      coordinate blocks, so the squared norm is the sum of the chosen
      centroids' squared norms). One map-only Arrow pass; no shuffle.
    * ``decode(df)``: appends ``pq_recon`` (array<double>) — the
      concatenated chosen centroids; for audits and invariant gates.
    * ``adc_topk(queries, corpus_codes)``: asymmetric-distance cosine
      top-k — each query precomputes an m×2^bits lookup table of
      subspace dot products driver-side (queries are the small side),
      and the corpus pass is ONE broadcast map-only Arrow stage that
      gathers+sums LUT entries per code — the corpus' float embeddings
      are NEVER read, only the m-byte codes. Per-batch top-k prunes
      candidates before the global window top-k, mirroring
      :meth:`IVFCosineTopK.topk`.
    """

    numSubspaces = Param(Params._dummy(), "numSubspaces",
                         "number of PQ subspaces (m); must divide dims",
                         TypeConverters.toInt)
    bitsPerCode = Param(Params._dummy(), "bitsPerCode",
                        "bits per subspace code (codebook size 2^bits)",
                        TypeConverters.toInt)
    trainSampleSize = Param(Params._dummy(), "trainSampleSize",
                            "bounded codebook-training sample size",
                            TypeConverters.toInt)
    trainIter = Param(Params._dummy(), "trainIter",
                      "driver-side Lloyd iterations per subspace",
                      TypeConverters.toInt)

    _state = ("_codebooks",)

    _defaults = dict(numSubspaces=8, bitsPerCode=8,
                     trainSampleSize=8192, trainIter=5)

    def __init__(self):
        super().__init__()
        self._codebooks = None  # list[m] of (k_sub, d/m) lists

    # -- training -------------------------------------------------------

    def train(self, df: DataFrame) -> "ProductQuantizer":
        m = self.getNumSubspaces()
        arr = as_double_array(df, self.getEmbeddingCol())
        pts = df.select(arr.alias("__v"))
        cap = max(self.getOrDefault(self.trainSampleSize), 2)
        X = _train_sample(pts, self.getSeed(), cap, m)
        k_sub = min(1 << self.getBitsPerCode(), len(X))
        iters = max(self.getOrDefault(self.trainIter), 0)
        self._codebooks = _pq_train_books(X, m, k_sub, iters)
        return self

    # -- encode / decode ------------------------------------------------

    def _require_books(self):
        if self._codebooks is None:
            raise ValueError("train() or load() the quantizer first")

    def transform(self, df: DataFrame) -> DataFrame:
        import numpy as np

        self._require_books()
        B = [np.asarray(b) for b in self._codebooks]
        m = len(B)
        sub = B[0].shape[1]
        # per-subspace ‖c‖² — argmin‖x−c‖² == argmax(x·c − ½‖c‖²)
        halfsq = [0.5 * (b * b).sum(1) for b in B]
        norms2 = [(b * b).sum(1) for b in B]

        @F.pandas_udf("struct<code: array<int>, nrm: double>")
        def encode(embs: pd.Series) -> pd.DataFrame:
            X = np.stack(embs.to_numpy()).astype(np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            n2 = np.zeros(len(X))
            for j in range(m):
                Xj = X[:, j * sub:(j + 1) * sub]
                codes[:, j] = (Xj @ B[j].T - halfsq[j]).argmax(1)
                n2 += norms2[j][codes[:, j]]
            return pd.DataFrame({"code": list(codes),
                                 "nrm": np.sqrt(n2)})

        arr = as_double_array(df, self.getEmbeddingCol())
        out = df.withColumn("__pq", encode(arr))
        return (out.withColumn("pq_code", F.col("__pq.code"))
                .withColumn("pq_norm", F.col("__pq.nrm"))
                .drop("__pq"))

    def decode(self, df: DataFrame, codeCol: str = "pq_code") -> DataFrame:
        import numpy as np

        self._require_books()
        B = [np.asarray(b) for b in self._codebooks]

        @F.pandas_udf("array<double>")
        def recon(codes: pd.Series) -> pd.Series:
            Cs = np.stack(codes.to_numpy())
            parts = [B[j][Cs[:, j]] for j in range(len(B))]
            return pd.Series(list(np.concatenate(parts, axis=1)))

        return df.withColumn("pq_recon", recon(codeCol))

    # -- asymmetric-distance search -------------------------------------

    def adc_topk(self, queries: DataFrame,
                 corpus_codes: DataFrame) -> DataFrame:
        """(query_id, neighbor_id, adc_cosine, rank) — cosine between
        each query and the RECONSTRUCTED corpus vectors, computed from
        codes alone. ``corpus_codes`` is a :meth:`transform` result
        (needs ``pq_code``, ``pq_norm`` and the id column)."""
        import numpy as np

        self._require_books()
        B = [np.asarray(b) for b in self._codebooks]
        m = len(B)
        sub = B[0].shape[1]
        k = self.getK()
        idc = self.getIdCol()
        id_type = corpus_codes.schema[idc].dataType.simpleString()

        qrows = (queries.select(
            F.col(idc).alias("query_id"),
            as_double_array(queries, self.getEmbeddingCol())
            .alias("__qv")).collect())
        qid = np.asarray([r["query_id"] for r in qrows])
        Q = np.asarray([list(r["__qv"]) for r in qrows])
        qn = np.linalg.norm(Q, axis=1)
        # LUT[q, j, c] = dot(q_subj, codebook_j[c]); adc dot(q, x̂) is a
        # pure gather+sum over the corpus codes — no float matmul
        lut = np.stack([Q[:, j * sub:(j + 1) * sub] @ B[j].T
                        for j in range(m)], axis=1)

        def score(batches):
            for pdf in batches:
                C = np.stack(pdf["pq_code"].to_numpy())
                nid = pdf[idc].to_numpy()
                rn = pdf["pq_norm"].to_numpy()
                dots = np.zeros((len(qid), len(C)))
                for j in range(m):
                    dots += lut[:, j, :][:, C[:, j]]
                denom = np.outer(np.where(qn == 0, 1.0, qn),
                                 np.where(rn == 0, 1.0, rn))
                cos = dots / denom
                frames = []
                for i in range(len(qid)):
                    if qn[i] == 0:
                        continue
                    mask = (nid != qid[i]) & (rn > 0)
                    cs, ns = cos[i][mask], nid[mask]
                    if not len(cs):
                        continue
                    sel = np.lexsort((ns, -cs))[:k]
                    frames.append(pd.DataFrame({
                        "query_id": qid[i], "neighbor_id": ns[sel],
                        "adc_cosine": cs[sel]}))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        cand = (corpus_codes.select(idc, "pq_code", "pq_norm")
                .mapInPandas(score,
                             f"query_id {id_type}, neighbor_id {id_type}, "
                             f"adc_cosine double"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("adc_cosine"), F.asc("neighbor_id"))
        return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "adc_cosine", "rank"))


class IVFPQTopK(AlgoOperator, _SimilarityParams):
    """IVF-PQ approximate cosine top-k — the COMPLETE Jégou, Douze &
    Schmid (TPAMI 2011) pipeline: an IVF coarse quantizer partitions
    the corpus into cells, each vector stores only its cell id + PQ
    codes of the RESIDUAL (x − the cell's RAW-mean anchor; routing
    stays spherical/cosine-correct, but residuals must subtract the
    raw mean — unit directions sit far from larger-norm vectors) +
    its reconstruction norm, and queries probe ``nProbe`` cells
    scoring candidates by asymmetric distance (LUT gather) against
    ``x̂ = anchor_cell + r̂``.

    Residual encoding is what separates this from
    :class:`ProductQuantizer` alone: residuals are centered and far
    smaller in magnitude than raw vectors, so the same code budget
    quantizes them with much lower error. Optionally
    ``refineFactor > 1`` re-ranks the top ``k·refineFactor`` ADC
    candidates with EXACT cosine against the raw corpus vectors (the
    standard FAISS refine stage) — one candidate-sized join, never a
    corpus-sized one.

    100 TB shape: the index row is ~(1 int + m bytes + 1 double)
    regardless of dims; train = ONE bounded sample pull (coarse
    centroids and residual codebooks fit on the same sample — one
    scan total); encode = one map-only Arrow pass; search = cell-
    aligned cogroup over ``nProbe/nList`` of the CODES (not the
    floats), candidates cut to k per cell before the single shuffle.
    """

    nList = Param(Params._dummy(), "nList", "number of IVF cells",
                  TypeConverters.toInt)
    nProbe = Param(Params._dummy(), "nProbe", "cells probed per query",
                   TypeConverters.toInt)
    numSubspaces = Param(Params._dummy(), "numSubspaces",
                         "PQ subspaces over the residual",
                         TypeConverters.toInt)
    bitsPerCode = Param(Params._dummy(), "bitsPerCode",
                        "bits per residual code", TypeConverters.toInt)
    trainSampleSize = Param(Params._dummy(), "trainSampleSize",
                            "bounded training sample size",
                            TypeConverters.toInt)
    trainIter = Param(Params._dummy(), "trainIter",
                      "Lloyd iterations (coarse and per-subspace)",
                      TypeConverters.toInt)
    refineFactor = Param(Params._dummy(), "refineFactor",
                         "exact re-rank pool = k·refineFactor "
                         "(1 disables refinement)",
                         TypeConverters.toInt)

    _state = ("_centroids", "_anchors", "_codebooks")

    _defaults = dict(nList=16, nProbe=4, numSubspaces=8,
                     bitsPerCode=6, trainSampleSize=8192,
                     trainIter=3, refineFactor=1)

    def __init__(self):
        super().__init__()
        self._centroids = None    # nList × dims (unit rows; routing)
        self._anchors = None      # nList × dims (raw cell means)
        self._codebooks = None    # m × k_sub × dims/m (residual space)

    # -- training: coarse centroids + residual codebooks, ONE sample ----

    def train(self, corpus: DataFrame) -> "IVFPQTopK":
        import numpy as np

        m = self.getOrDefault(self.numSubspaces)
        arr = as_double_array(corpus, self.getEmbeddingCol())
        pts = corpus.select(arr.alias("__v"))
        cap = max(self.getOrDefault(self.trainSampleSize),
                  self.getNList(), 2)
        X = _train_sample(pts, self.getSeed(), cap, m)
        iters = max(self.getOrDefault(self.trainIter), 0)
        self._centroids = _spherical_centroids(
            _unit(X), self.getNList(), iters)
        C = np.asarray(self._centroids)
        # cell ROUTING is spherical (cosine-correct probes), but the
        # residual must subtract the RAW cell mean — unit directions
        # sit far from raw vectors of larger norm, and residuals
        # against them are as large as the vectors themselves (raw PQ
        # would beat such "residuals"). One anchor per cell; empty
        # cells anchor at the unit direction (no sample evidence).
        a = (_unit(X) @ C.T).argmax(1)
        anchors = C.copy()
        acc = np.zeros_like(C)
        np.add.at(acc, a, X)
        cnt = np.bincount(a, minlength=len(C)).astype(np.float64)
        live = cnt > 0
        anchors[live] = acc[live] / cnt[live, None]
        self._anchors = [v.tolist() for v in anchors]
        resid = X - anchors[a]
        k_sub = min(1 << self.getOrDefault(self.bitsPerCode), len(X))
        self._codebooks = _pq_train_books(resid, m, k_sub, iters)
        return self

    def _require_trained(self):
        if self._centroids is None or self._codebooks is None:
            raise ValueError("train() or load() the index first")

    # -- encode ---------------------------------------------------------

    def index_table(self, corpus: DataFrame) -> DataFrame:
        """(neighbor_id, __cell, pq_code, recon_norm) — the complete
        compressed index row; persist once per corpus snapshot."""
        import numpy as np

        self._require_trained()
        C = np.asarray(self._centroids)
        A = np.asarray(self._anchors)
        B = [np.asarray(b) for b in self._codebooks]
        m = len(B)
        sub = B[0].shape[1]
        halfsq = [0.5 * (b * b).sum(1) for b in B]

        @F.pandas_udf("struct<cell: int, code: array<int>, nrm: double>")
        def encode(embs: pd.Series) -> pd.DataFrame:
            X = np.stack(embs.to_numpy()).astype(np.float64)
            cells = (_unit(X) @ C.T).argmax(1)
            R = X - A[cells]
            codes = np.empty((len(X), m), dtype=np.int32)
            recon = A[cells].copy()
            for j in range(m):
                Rj = R[:, j * sub:(j + 1) * sub]
                codes[:, j] = (Rj @ B[j].T - halfsq[j]).argmax(1)
                recon[:, j * sub:(j + 1) * sub] += B[j][codes[:, j]]
            return pd.DataFrame({
                "cell": cells.astype("int32"), "code": list(codes),
                "nrm": np.linalg.norm(recon, axis=1)})

        idc = self.getIdCol()
        arr = as_double_array(corpus, self.getEmbeddingCol())
        out = corpus.select(F.col(idc).alias("neighbor_id"),
                            encode(arr).alias("__e"))
        return out.select("neighbor_id",
                          F.col("__e.cell").alias("__cell"),
                          F.col("__e.code").alias("pq_code"),
                          F.col("__e.nrm").alias("recon_norm"))

    def save_index(self, path: str, corpus: DataFrame | None = None, *,
                   precomputed: DataFrame | None = None,
                   mode: str = "overwrite") -> None:
        """Persist the compressed corpus + the model (``save``: centroids
        AND residual codebooks travel with the index);
        ``mode='append'`` adds a batch encoded under the SAME model."""
        import os

        if precomputed is None:
            if corpus is None:
                raise ValueError("need corpus or precomputed")
            precomputed = self.index_table(corpus)
        precomputed.write.mode(mode).parquet(os.path.join(path, "data"))
        self.save(path)

    def load_index(self, spark, path: str) -> DataFrame:
        """Restores the model onto THIS operator and returns the
        compressed corpus for ``corpus_indexed=``."""
        import os

        self._load_state(spark, path)
        return spark.read.parquet(os.path.join(path, "data"))

    # -- search ---------------------------------------------------------

    def topk(self, queries: DataFrame, corpus: DataFrame | None = None,
             *, corpus_indexed: DataFrame | None = None) -> DataFrame:
        """(query_id, neighbor_id, cosine, rank). ``cosine`` is the
        ADC estimate, or the EXACT cosine when ``refineFactor > 1``
        (requires ``corpus`` for the raw vectors)."""
        import numpy as np

        self._require_trained()
        if corpus_indexed is None:
            if corpus is None:
                raise ValueError("need corpus or corpus_indexed")
            corpus_indexed = self.index_table(corpus)
        C = np.asarray(self._centroids)
        A = np.asarray(self._anchors)
        B = [np.asarray(b) for b in self._codebooks]
        m = len(B)
        sub = B[0].shape[1]
        k = self.getK()
        refine = max(self.getOrDefault(self.refineFactor), 1)
        pool = k * refine
        n_probe = min(self.getNProbe(), len(C))
        idc = self.getIdCol()
        src = corpus if corpus is not None else queries
        id_type = src.schema[idc].dataType.simpleString()

        @F.pandas_udf("array<int>")
        def probes_of(embs: pd.Series) -> pd.Series:
            X = _unit(np.stack(embs.to_numpy()).astype(np.float64))
            order = np.argsort(-(X @ C.T), axis=1,
                               kind="stable")[:, :n_probe]
            return pd.Series(list(order.astype("int32")))

        qa = as_double_array(queries, self.getEmbeddingCol())
        q = (queries.select(F.col(idc).alias("query_id"), qa.alias("__qv"))
             .withColumn("__cell", F.explode(probes_of("__qv"))))

        empty = {"query_id": [], "neighbor_id": [], "adc": []}

        def per_cell(key, left, right):
            if not len(left) or not len(right):
                return pd.DataFrame(empty)
            cell = int(key[0])
            anchor = A[cell]
            codes = np.stack(left["pq_code"].to_numpy())
            nid = left["neighbor_id"].to_numpy()
            rn = left["recon_norm"].to_numpy()
            Xq = np.stack(right["__qv"].to_numpy())
            qid = right["query_id"].to_numpy()
            qn = np.linalg.norm(Xq, axis=1)
            # dot(q, x̂) = dot(q, anchor_cell) + Σ_j LUT_j[code_j]
            dots = np.tile((Xq @ anchor)[:, None], (1, len(codes)))
            for j in range(m):
                lut = Xq[:, j * sub:(j + 1) * sub] @ B[j].T
                dots += lut[:, codes[:, j]]
            cos = dots / np.outer(np.where(qn == 0, 1.0, qn),
                                  np.where(rn == 0, 1.0, rn))
            frames = []
            for i in range(len(Xq)):
                if qn[i] == 0:
                    continue
                mask = (nid != qid[i]) & (rn > 0)
                cs, ns = cos[i][mask], nid[mask]
                if not len(cs):
                    continue
                sel = np.lexsort((ns, -cs))[:pool]
                frames.append(pd.DataFrame({
                    "query_id": qid[i], "neighbor_id": ns[sel],
                    "adc": cs[sel]}))
            return (pd.concat(frames, ignore_index=True)
                    if frames else pd.DataFrame(empty))

        cand = (corpus_indexed.groupby("__cell")
                .cogroup(q.groupby("__cell"))
                .applyInPandas(per_cell,
                               f"query_id {id_type}, neighbor_id {id_type}, "
                               f"adc double"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("adc"), F.asc("neighbor_id"))
        ranked = (cand.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= pool))
        if refine == 1:
            return (ranked.filter(F.col("rank") <= k)
                    .select("query_id", "neighbor_id",
                            F.col("adc").alias("cosine"), "rank"))
        if corpus is None:
            raise ValueError("refineFactor > 1 needs the raw corpus")
        ca = as_double_array(corpus, self.getEmbeddingCol())
        cn = F.sqrt(F.aggregate(F.transform(ca, lambda x: x * x),
                                F.lit(0.0), lambda a, x: a + x))
        raw_c = corpus.select(F.col(idc).alias("neighbor_id"),
                              ca.alias("__cv"), cn.alias("__cn"))
        qn = F.sqrt(F.aggregate(F.transform("__qv", lambda x: x * x),
                                F.lit(0.0), lambda a, x: a + x))
        raw_q = (queries.select(F.col(idc).alias("query_id"),
                                qa.alias("__qv"))
                 .withColumn("__qn", qn))
        # candidates (≤ queries·pool rows) are ALWAYS the broadcast
        # side — letting the optimizer pick would broadcast the raw
        # corpus at small scale and flip to a corpus-wide shuffle at
        # large scale; this shape streams the corpus scan through a
        # broadcast semi-filter at any size
        exact = (raw_c
                 .join(F.broadcast(ranked.select("query_id",
                                                 "neighbor_id")),
                       "neighbor_id")
                 .join(F.broadcast(raw_q), "query_id")
                 .filter(F.col("__cn") > 0)
                 .withColumn("cosine",
                             _cos("__qv", "__qn", "__cv", "__cn")))
        w2 = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id"))
        return (exact.withColumn("rank", F.row_number().over(w2))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "cosine", "rank"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.topk(df, df)


class RandomProjection(AlgoOperator, _SimilarityParams):
    """Data-independent Johnson-Lindenstrauss dimensionality reduction
    with an Achlioptas (2003) ±1 sign matrix: output component j is
    ``Σ_i sign(j, i) · x_i / sqrt(outputDim)``, where the sign is
    derived from a seeded md5 of (j, i) — no training pass, no model
    state, and the SAME matrix regenerates from (seed, dims) anywhere
    (a new session, the SQL oracle, a different cluster).

    The complement of ``EmbeddingPCA``: PCA spends a data pass to find
    the best k directions; JL projection spends nothing and bounds the
    distance distortion probabilistically — the right trade when the
    corpus is 100 TB and the embedding column merely needs to be
    cheaper downstream (coarse ANN routing, dedup pre-filters,
    sketches).

    Pure Catalyst: each output component folds its ±1 row in as an
    array literal and reduces via ``zip_with``/``aggregate`` — a
    map-only whole-stage-codegen projection, no Python, no shuffle.
    Appends ``outputCol`` (array<double>, length ``outputDim``);
    NULL embedding → NULL.
    """

    outputDim = Param(Params._dummy(), "outputDim",
                      "projected dimensionality (>= 1)",
                      TypeConverters.toInt)
    outputCol = Param(Params._dummy(), "outputCol",
                      "projected column name", TypeConverters.toString)
    inputDim = Param(Params._dummy(), "inputDim",
                     "source dimensionality; 0 = sample the first "
                     "non-null row (batch only — sampling is an "
                     "action, so STREAMING input requires an explicit "
                     "setInputDim)", TypeConverters.toInt)

    _defaults = dict(outputDim=4, outputCol="projected",
                     inputDim=0)

    def setInputDim(self, v):
        v = int(v)
        if v < 0:
            raise ValueError(f"inputDim must be >= 0, got {v}")
        return self._set(inputDim=v)

    def setOutputDim(self, v):
        v = int(v)
        if v < 1:
            raise ValueError("outputDim must be >= 1")
        return self._set(outputDim=v)

    @staticmethod
    def sign(seed: int, j: int, i: int) -> int:
        """±1 from the first hex nibble of md5('rp:<seed>:<j>:<i>') —
        the engine-portable deterministic coin (DuckDB replay:
        ``CASE WHEN ('0x' || substr(md5(...), 1, 1))::INT % 2 = 0
        THEN 1 ELSE -1 END``)."""
        import hashlib

        h = hashlib.md5(f"rp:{seed}:{j}:{i}".encode()).hexdigest()
        return 1 if int(h[0], 16) % 2 == 0 else -1

    def transform(self, df: DataFrame) -> DataFrame:
        import math

        from flink_ml__spark.base import array_width

        k = self.getOrDefault(self.outputDim)
        seed = self.getSeed()
        arr = as_double_array(df, self.getEmbeddingCol())
        dims = self.getOrDefault(self.inputDim)
        if dims == 0:
            if df.isStreaming:
                raise ValueError(
                    "RandomProjection on a streaming frame needs "
                    "setInputDim(dims): width sampling is an action")
            dims = array_width(df, self.getEmbeddingCol())
        inv = 1.0 / math.sqrt(k)
        comps = []
        for j in range(k):
            signs = F.array(*[F.lit(float(self.sign(seed, j, i)))
                              for i in range(dims)])
            comps.append(F.aggregate(
                F.zip_with(arr, signs, lambda a, s: a * s),
                F.lit(0.0), lambda acc, x: acc + x) * F.lit(inv))
        out = F.when(arr.isNotNull(), F.array(*comps))
        return df.withColumn(self.getOrDefault(self.outputCol), out)


class EmbeddingTruncationAuditor(AlgoOperator):
    """Matryoshka-style truncation audit (Kusupati et al. 2022, "MRL"):
    how much of each embedding's energy lives in its first d
    dimensions? Since cosine(x, zero-padded x_{:d}) = ‖x_{:d}‖/‖x‖,
    the prefix-energy fraction IS the self-similarity after
    truncation — the number that decides whether the ANN index can
    store d of the D dims (a 4× memory/IO cut at 100 TB) without
    wrecking recall.

    ``evaluate(df)`` returns one row per configured budget::

        dim_budget   prefix length d
        n_vecs       vectors audited
        avg_energy   mean ‖x_{:d}‖² / ‖x‖²
        p05_energy   5th-percentile energy fraction (the worst tail —
                     what truncation does to the hardest vectors)
        avg_cos      mean ‖x_{:d}‖ / ‖x‖ (self-cosine after truncation)

    Scale shape: the full-norm HOF is materialized ONCE as a column
    (no CSE across aggregate expressions — the HashedTfEmbedder
    lesson), each budget adds two aggregate expressions over its
    prefix sum; ONE pass, no shuffle beyond the scalar aggregate, the
    per-budget rows explode from the single result row.
    """

    inputCol = Param(Params._dummy(), "inputCol",
                     "embedding array column", TypeConverters.toString)
    budgets = Param(Params._dummy(), "budgets",
                    "prefix lengths to audit", TypeConverters.toListInt)

    _defaults = dict(inputCol="embedding", budgets=[8, 16, 32])

    def setBudgets(self, *v):
        v = list(v[0]) if len(v) == 1 and not isinstance(
            v[0], int) else list(v)
        if not v or any(b < 1 for b in v):
            raise ValueError("budgets must be positive ints")
        return self._set(budgets=sorted(set(v)))

    @staticmethod
    def _energy(arr):
        return F.aggregate(arr, F.lit(0.0),
                           lambda acc, x: acc + x.cast("double")
                           * x.cast("double"))

    def evaluate(self, df: DataFrame) -> DataFrame:
        arr = F.col(self.getOrDefault(self.inputCol))
        buds = self.getOrDefault(self.budgets)
        base = (df.filter(arr.isNotNull() & (F.size(arr) > 0))
                .select(arr.alias("__e"),
                        self._energy(arr).alias("__full")))
        base = base.filter(F.col("__full") > 0)
        for b in buds:
            frac = (self._energy(F.slice(F.col("__e"), 1, b))
                    / F.col("__full"))
            base = base.withColumn(f"__f{b}", frac)
        aggs = [F.count(F.lit(1)).alias("n_vecs")]
        for b in buds:
            aggs.append(F.avg(f"__f{b}").alias(f"__avg{b}"))
            aggs.append(F.percentile(F.col(f"__f{b}"), F.lit(0.05))
                        .alias(f"__p{b}"))
            aggs.append(F.avg(F.sqrt(f"__f{b}")).alias(f"__c{b}"))
        one = base.agg(*aggs)
        rows = F.explode(F.array(*[
            F.struct(F.lit(b).alias("dim_budget"),
                     F.col(f"__avg{b}").alias("avg_energy"),
                     F.col(f"__p{b}").alias("p05_energy"),
                     F.col(f"__c{b}").alias("avg_cos"))
            for b in buds]))
        return (one.select("n_vecs", rows.alias("r"))
                .select("r.dim_budget", "n_vecs", "r.avg_energy",
                        "r.p05_energy", "r.avg_cos"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class AnisotropyAuditor(AlgoOperator):
    """Embedding-space anisotropy (Ethayarajh 2019): the expected
    cosine between two RANDOM vectors. Isotropic (healthy, spread-out)
    spaces sit near 0; collapsed/anisotropic spaces — the classic
    failure of contextual encoders and of over-quantized indexes —
    sit far above it, and every cosine-based retrieval margin shrinks
    accordingly.

    Exact, no sampling: with unit vectors u_i,
    ``Σ_{i≠j} cos(x_i,x_j) = ‖Σ u_i‖² − n``, so

        mean_pair_cosine = (‖Σ u_i‖² − n) / (n (n−1))

    needs only the per-dimension SUM of normalized vectors — one
    posexplode + one D-sized aggregation, no pairs anywhere.

    ``evaluate(df)`` returns ONE row: ``n_vecs``, ``dim``,
    ``mean_pair_cosine``, ``centroid_norm`` (‖mean u‖ — the
    common-direction magnitude).
    """

    inputCol = Param(Params._dummy(), "inputCol",
                     "embedding array column", TypeConverters.toString)

    _defaults = dict(inputCol="embedding")

    def evaluate(self, df: DataFrame) -> DataFrame:
        arr = F.col(self.getOrDefault(self.inputCol))
        nrm = F.sqrt(EmbeddingTruncationAuditor._energy(arr))
        base = (df.filter(arr.isNotNull() & (F.size(arr) > 0))
                .select(arr.alias("__e"), nrm.alias("__n"))
                .filter(F.col("__n") > 0))
        unit = (base.select(F.posexplode(
            F.transform("__e", lambda x: x.cast("double")
                        / F.col("__n"))).alias("__pos", "__u")))
        per_dim = unit.groupBy("__pos").agg(F.sum("__u").alias("__s"))
        sums = per_dim.agg(
            F.count(F.lit(1)).alias("dim"),
            F.sum(F.col("__s") * F.col("__s")).alias("__ss"))
        n_vecs = base.agg(F.count(F.lit(1)).alias("n_vecs"))
        j = n_vecs.crossJoin(sums)
        n = F.col("n_vecs").cast("double")
        mean_cos = F.when(n > 1,
                          (F.col("__ss") - n) / (n * (n - 1)))
        return j.select("n_vecs", "dim",
                        mean_cos.alias("mean_pair_cosine"),
                        (F.sqrt("__ss") / n).alias("centroid_norm"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class KCenterCoreset(AlgoOperator, _SimilarityParams):
    """Greedy k-center coreset selection (Gonzalez, "Clustering to
    minimize the maximum intercluster distance", TCS 1985) — the
    classic diversity-maximizing data-selection pass for training
    sets: pick the point farthest from everything picked so far,
    ``numCenters`` times. The selected rows 2-approximate the optimal
    k-center cover, so they are the canonical "spread" complement to
    density-seeking selectors (:class:`SemDeDup` removes redundancy,
    :class:`~flink_ml__spark.functions.curation.PrototypicalityScorer`
    finds the mode; this finds the hull).

    Output: one row per selected center —
    ``step`` (1-based selection order), the id column, and ``dist2``
    (squared euclidean distance to the previously-selected set at
    selection time; 0.0 for the step-1 seed). The max emitted
    ``dist2`` is the coverage radius² of the k−1 preceding centers.

    Determinism / cross-engine parity: the seed is the smallest id;
    each round's farthest-point argmax ranks on the FIXED-POINT int64
    state ``floor(d²·1e6 + 0.5)`` with smaller-id tiebreak, and the
    running min-distance state itself is carried as that int64 — so
    state never accumulates float noise and the greedy trajectory
    replays bit-identically in the DuckDB oracle (a per-pair ulp
    boundary flip remains the same tiny risk every fixed-point
    ranking gate carries, but it cannot compound across iterations).
    Magnitude bound: d²·1e6 must stay inside int64 → embedding norms
    up to ~3e6, far beyond any real embedding scale.

    100 TB design: one driver loop of ``numCenters`` iterations; each
    iteration is a map-side projection (the new center folded in as a
    literal array — no join, no shuffle) plus one
    ``TakeOrderedAndProject`` row fetch, over a persisted O(rows)
    (id, vector, int64) state; the previous state unpersists each
    round. Driver memory is O(k·dim). Same iterate-with-broadcast
    shape as FCM. k is a selection budget (10²-10⁴), never O(rows).
    """

    numCenters = Param(Params._dummy(), "numCenters",
                       "centers to select", TypeConverters.toInt)

    _defaults = dict(numCenters=8)

    def setNumCenters(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"numCenters must be >= 1, got {v}")
        return self._set(numCenters=v)

    @staticmethod
    def _d2_fp(center):
        """Fixed-point int64 squared distance to a literal center."""
        c = F.array(*[F.lit(float(x)) for x in center])
        d2 = F.aggregate(
            F.zip_with(F.col("__v"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        return F.floor(d2 * 1e6 + 0.5).cast("long")

    def select_centers(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        k = self.getNumCenters()
        spark = df.sparkSession
        id_type = df.schema[idc].dataType.simpleString()

        arr = as_double_array(df, self.getEmbeddingCol())
        state = df.select(F.col(idc).alias("__id"), arr.alias("__v"))
        seed = state.orderBy(F.asc("__id")).first()
        if seed is None:
            raise ValueError("no rows to select centers from")
        chosen = [(1, seed["__id"], 0)]
        center = list(seed["__v"])

        cur = state.withColumn("__mind", self._d2_fp(center)).persist()
        prev = None
        for step in range(2, k + 1):
            # The argmax is the step's one materializing action — it
            # builds `cur`'s cache from the parent generation, which is
            # dropped right after instead of via a separate count()
            # job per step (guide §1.2, §5 persist lifecycle).
            top = cur.orderBy(F.desc("__mind"), F.asc("__id")).first()
            if prev is not None:
                prev.unpersist()
                prev = None
            if top is None or top["__mind"] <= 0:
                break  # every remaining point duplicates a center
            chosen.append((step, top["__id"], top["__mind"]))
            center = list(top["__v"])
            prev = cur
            cur = (cur.withColumn(
                "__mind", F.least("__mind", self._d2_fp(center)))
                .persist())
        if prev is not None:
            prev.unpersist()
        cur.unpersist()

        out = spark.createDataFrame(
            [(s, i, fp) for s, i, fp in chosen],
            f"step int, __id {id_type}, __fp long")
        return out.select(
            "step", F.col("__id").alias(idc),
            (F.col("__fp") / 1e6).alias("dist2"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.select_centers(df)
