"""Deduplication operators for large-scale training-data pipelines
(BASELINE.json north-star; beyond the reference's own surface).

All variants share the same deterministic, engine-portable design:

* base hash: ``conv(substr(md5(s), 1, 15), 16, 10)`` — a 60-bit integer
  that DuckDB reproduces bit-for-bit (``('0x' || substr(md5(s),1,15))::
  BIGINT``), so every pipeline here has an exact SQL oracle;
* minhash permutations ``h_i(x) = (a_i·x + b_i) mod 2147483647`` over
  ``x = base_hash mod 2^31`` — products stay < 2^62, no int64 overflow in
  either engine;
* duplicate rule: a document is a duplicate iff some *smaller-id*
  document is similar to it ("dominated-by-smaller-id"). Deterministic
  and join-expressible; unlike full connected-components it needs no
  iteration, which is what makes it survive 100 TB in one shuffle wave.

Scale shape (MinHash/SimHash): tokenize+hash is one Arrow-batched map
pass; the only shuffles are the band-bucket self-join (keys are ~uniform
hashes — no skew) and the final anti-join of ids.

Algorithms follow the public literature: MinHash + banded LSH (Broder,
"On the resemblance and containment of documents", 1997; banding per
Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3), SimHash
(Charikar, "Similarity estimation techniques from rounding algorithms",
STOC 2002), random-hyperplane LSH for cosine (same paper).
"""

from __future__ import annotations

import random
from collections import deque

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_ml__spark.base import AlgoOperator, HasInputCol, HasSeed
from flink_ml__spark.functions.sketches import BloomBitset
from flink_ml__spark.functions.text import TOKEN_SPLIT, Fingerprinter

MERSENNE31 = 2147483647


def portable_hash60(col: Column) -> Column:
    """60-bit md5-derived hash, reproducible in DuckDB (see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingle_hash_udf(n: int):
    """Arrow-batched shingle hasher: text → array<long> of distinct
    full 60-bit hashes of the ``' '``-joined word n-grams (the minhash
    permutations reduce mod 2^31−1 at use; keeping verification on the
    full hashes keeps Jaccard collision odds at ~n²/2^61).

    Semantically identical to hashing the string shingles with
    ``portable_hash60`` via higher-order functions — same tokens, same
    joins, same md5[:15] — but ~20× faster: nested HOFs are
    CodegenFallback (interpreted per element), so the built-in
    expression is the slow path here.
    """
    import hashlib
    import re

    pat = TOKEN_SPLIT

    @F.pandas_udf("array<long>")
    def shingle_hashes(texts: pd.Series) -> pd.Series:
        rx = re.compile(pat)
        out = []
        for t in texts:
            if t is None:
                # NULL text pairs with nothing (the string-shingle oracle
                # yields [NULL], whose intersections are always empty)
                out.append([])
                continue
            toks = [w for w in rx.split(t.lower()) if w]
            if len(toks) >= n:
                shs = dict.fromkeys(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1))
            else:
                shs = {" ".join(toks): None}
            out.append([
                int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                for s in shs])
        return pd.Series(out)

    return shingle_hashes


class HasIdColMixin(Params):
    idCol = Param(Params._dummy(), "idCol",
                  "unique ascending document id column",
                  typeConverter=TypeConverters.toString)

    _defaults = dict(idCol="doc_id")


def _keep_non_dominated(df: DataFrame, dup_ids: DataFrame, id_col: str) -> DataFrame:
    """Drop rows whose id appears in ``dup_ids`` (column ``__dup_id``)."""
    return df.join(dup_ids.withColumnRenamed("__dup_id", id_col),
                   id_col, "left_anti")


def _unpersist_handles(handles) -> None:
    while handles:
        try:
            handles.popleft().unpersist(False)
        except AttributeError:
            handles.pop().unpersist(False)
        except Exception:
            pass  # session already stopped


# last-K registry of persisted signature tables, shared by every dedup
# operator in the process (deque of DataFrame handles)
_LIVE_CACHES: deque = deque()
_MAX_LIVE_CACHES = 8


def release_dedup_caches() -> None:
    """Unpersist every signature table the dedup family still holds."""
    _unpersist_handles(_LIVE_CACHES)


def touch_dedup_cache(handle) -> None:
    """Mark a signature-table handle as recently used: move it to the
    young end of the bounded registry so repeated per-batch calls (a
    streaming loop's corpus table) cannot age it out. The handle is
    removed first — a stale duplicate entry would otherwise let the
    eviction path unpersist the same cached table it just refreshed."""
    try:
        _LIVE_CACHES.remove(handle)
    except ValueError:
        pass
    _LIVE_CACHES.append(handle)


class _MaterializeMixin:
    """persist-based signature-table materialization with a BOUNDED,
    process-wide lifecycle.

    ``persist`` rather than ``localCheckpoint``: the Catalyst plan —
    including the ``repartition(id)`` output partitioning — survives
    caching, so the downstream band/verify joins reuse the exchange
    and read ``InMemoryTableScan``; a local checkpoint is an opaque
    RDD scan whose partitioning is lost, forcing re-shuffles (measured
    2.3× slower end-to-end on MinHash at sf0.1). The eager ``count()``
    stops concurrent downstream stages racing to fill a lazy cache
    (computing the Arrow hash pass 3-4×).

    Lifecycle: handles enter a process-wide last-``_MAX_LIVE_CACHES``
    registry; pushing past the bound unpersists the OLDEST handle, so
    repeated calls and throwaway operator instances can never
    accumulate CacheManager entries (the leak a bare ``persist``
    causes), while the tables a query in flight reads stay hot — a
    lifetime cannot be tied to any Python object, because derived
    frames (``op.transform(df).select(...)``) hold no Python reference
    to the handle. An evicted handle only ever costs recompute of a
    still-lazy OLD result, never wrong answers.
    :func:`release_dedup_caches` (or ``op.release()``) drops them all
    immediately.
    """

    def _materialize(self, df: DataFrame) -> DataFrame:
        handle = df.persist(StorageLevel.MEMORY_AND_DISK)
        handle.count()
        _LIVE_CACHES.append(handle)
        while len(_LIVE_CACHES) > _MAX_LIVE_CACHES:
            try:
                _LIVE_CACHES.popleft().unpersist(False)
            except Exception:
                pass
        return handle

    def release(self) -> None:
        """Unpersist the dedup family's live signature tables now."""
        release_dedup_caches()


class _PersistableIndexMixin:
    """Parquet-persistable corpus signature index for the incremental
    (``transform_against``) dedup family.

    At 100 TB the corpus signature pass is the dominant cost of
    against-corpus dedup, and ``corpus_hashed=`` only amortizes it
    WITHIN a session. ``save_index`` writes the signature table (plus
    the signature-relevant params) to parquet once per corpus
    snapshot; ``load_index`` validates the params against the calling
    operator and returns the table for ``corpus_hashed=`` — so a daily
    crawl dedups against a 100 TB corpus with a map-only pass over the
    INCREMENT only. ``mode='append'`` adds a new corpus batch's
    signatures to an existing index (signatures are per-row, so
    appending is exact).

    Verification-only params (thresholds) are excluded from the
    match check — an index stays valid when only the cut changes.
    """

    _INDEX_TABLE_METHOD = "hashed_table"
    _INDEX_PARAM_EXCLUDE: set[str] = {"threshold", "hammingThreshold"}

    def _index_params(self) -> dict:
        return {p.name: self.getOrDefault(p) for p in self.params
                if p.name not in self._INDEX_PARAM_EXCLUDE
                and self.isDefined(p)}

    def save_index(self, path: str, corpus: DataFrame | None = None, *,
                   precomputed: DataFrame | None = None,
                   mode: str = "overwrite") -> None:
        import json
        import os

        if precomputed is None:
            if corpus is None:
                raise ValueError("need corpus or precomputed")
            precomputed = getattr(self, self._INDEX_TABLE_METHOD)(corpus)
        precomputed.write.mode(mode).parquet(os.path.join(path, "data"))
        meta = {"class": f"{type(self).__module__}.{type(self).__name__}",
                "params": self._index_params()}
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "index_params.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)

    def load_index(self, spark, path: str, *,
                   validate: bool = True) -> DataFrame:
        import json
        import os

        if validate:
            with open(os.path.join(path, "index_params.json")) as f:
                meta = json.load(f)
            want = f"{type(self).__module__}.{type(self).__name__}"
            if meta["class"] != want:
                raise ValueError(
                    f"index built by {meta['class']}, not {want}")
            mine = self._index_params()
            stale = {k for k in set(meta["params"]) | set(mine)
                     if meta["params"].get(k) != mine.get(k)}
            if stale:
                raise ValueError(
                    "index params do not match this operator "
                    f"(differs on {sorted(stale)}) — rebuild the index "
                    "or align the operator settings")
        return spark.read.parquet(os.path.join(path, "data"))


class ExactDeduplicator(AlgoOperator, HasInputCol, HasIdColMixin):
    """Exact dedup on the normalized-text fingerprint: keeps the
    smallest-id document per fingerprint (hash-groupBy + semi join —
    one shuffle on the md5 key)."""

    _defaults = dict(inputCol="text")

    def _fp(self) -> Column:
        return F.md5(Fingerprinter.normalized(F.col(self.getInputCol())))

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        # NULL text hashes to a NULL fingerprint; a null-rejecting semi
        # join would silently drop EVERY such row instead of keeping
        # the min-id representative — coalesce to a sentinel no real
        # md5 hex can collide with
        fp = F.coalesce(self._fp(), F.lit("__null__"))
        keyed = df.withColumn("__fp", fp)
        keep = keyed.groupBy("__fp").agg(F.min(idc).alias(idc))
        return (keyed.join(keep, ["__fp", idc], "left_semi").drop("__fp"))

    def transform_against(self, df: DataFrame, corpus: DataFrame) -> DataFrame:
        """Incremental exact dedup: drop rows of ``df`` whose normalized
        fingerprint appears anywhere in ``corpus`` (the corpus always
        wins; intra-``df`` duplicates untouched — chain
        :meth:`transform`). Same contract as the other deduplicators'
        ``transform_against``: one anti-join on the md5 key — a small
        corpus side broadcasts (AQE), a large one degrades to a
        shuffle on the uniform 128-bit key, skew-free. (Spark's
        runtime Bloom-filter join optimization applies to exactly this
        shape on a real cluster; the function is not exposed to SQL,
        so the engine does not hand-roll it.)"""
        keyed = df.withColumn("__fp", self._fp())
        cfp = corpus.select(self._fp().alias("__fp"))
        return keyed.join(cfp, "__fp", "left_anti").drop("__fp")


class MinHashDeduplicator(AlgoOperator, _MaterializeMixin,
                          _PersistableIndexMixin, HasInputCol,
                          HasIdColMixin, HasSeed):
    """MinHash + LSH near-duplicate removal.

    shingle (word n-grams) → minhash signature → band buckets →
    bucket self-join → exact n-gram Jaccard verification → drop documents
    dominated by a smaller-id near-duplicate.
    """

    shingleSize = Param(Params._dummy(), "shingleSize",
                        "words per shingle", TypeConverters.toInt)
    numHashes = Param(Params._dummy(), "numHashes",
                      "minhash signature length", TypeConverters.toInt)
    bands = Param(Params._dummy(), "bands",
                  "LSH bands (must divide numHashes)", TypeConverters.toInt)
    threshold = Param(Params._dummy(), "threshold",
                      "Jaccard threshold for verified duplicates",
                      TypeConverters.toFloat)

    _defaults = dict(inputCol="text", shingleSize=3, numHashes=12,
                     bands=4, threshold=0.8)

    def hash_coefficients(self) -> list[tuple[int, int]]:
        rng = random.Random(self.getSeed())
        return [(rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
                for _ in range(self.getNumHashes())]

    def _shingle_hash_udf(self):
        return shingle_hash_udf(self.getShingleSize())

    def hashed_table(self, df: DataFrame) -> DataFrame:
        """(__id, __xs) — the materialized signature base. Raw text is
        repartitioned BEFORE the tokenize+md5 projection so the heavy
        hashing parallelizes even when the source has few splits;
        materialized via :meth:`_MaterializeMixin._materialize` because
        the table is referenced repeatedly (band-join sides +
        verification joins) and broadcast conversion breaks
        ReuseExchange. ~50 longs/doc — tiny relative to the text; at
        lake scale this can equally be a parquet checkpoint."""
        idc = self.getIdCol()
        xs = self._shingle_hash_udf()(F.col(self.getInputCol()))
        return self._materialize(
            df.select(idc, self.getInputCol())
            .repartition(F.col(idc))
            .select(F.col(idc).alias("__id"), xs.alias("__xs")))

    def band_table(self, hashed: DataFrame) -> DataFrame:
        """(__id, __b struct<band, key>) — one row per (doc, band).

        The ``numHashes``-element minhash signature is projected ONCE
        into an intermediate column before the per-band slices
        reference it. Inlining it (one ``sig`` expression per band
        struct) evaluates the ``numHashes`` transform+array_min passes
        ``bands`` times per row — higher-order functions are
        interpreted, so codegen CSE never rescues the duplication
        (measured 144 array_min evals/row at bands=12 vs 12 after the
        split; CollapseProject keeps the split because ``__sig`` is
        non-cheap and referenced ``bands`` times)."""
        if self.getNumHashes() % self.getBands():
            raise ValueError("bands must divide numHashes")
        rows_per_band = self.getNumHashes() // self.getBands()
        sig = F.array(*[
            F.array_min(F.transform(
                F.col("__xs"),
                lambda x: (F.lit(a) * (x % MERSENNE31) + F.lit(b))
                % MERSENNE31))
            for a, b in self.hash_coefficients()
        ])
        s = F.col("__sig")
        return hashed.select("__id", sig.alias("__sig")).select(
            "__id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.array_join(F.slice(s, bi * rows_per_band + 1,
                                         rows_per_band), ",").alias("key"))
                for bi in range(self.getBands())
            ])).alias("__b"))

    def duplicate_pairs(self, df: DataFrame) -> DataFrame:
        """(id_keep, id_dup, jaccard) verified near-duplicate pairs —
        ALL pairs sharing a band bucket.

        .. warning:: this is the opt-in all-pairs path for consumers
           that need the full edge set (duplicate clustering, leakage
           audits, recall telemetry). A band bucket of C true
           duplicates emits C²/2 candidates — boilerplate mega-clusters
           at lake scale make that quadratic. The :meth:`transform`
           dedup path does NOT use it; it star-pairs each bucket member
           with the bucket's min-id representative (see
           :meth:`dominated_ids`), which stays linear in bucket size.

        The hashed shingle set is materialized once behind a shuffle
        barrier: without it, CollapseProject inlines the tokenize+md5
        pipeline into every minhash lambda (numHashes× recompute per row)
        and into both sides of the self-join. The barrier also lets
        ReuseExchange share one computation across the band join and the
        two verification joins. Verification Jaccard runs on the 60-bit
        shingle hashes (equivalent to string shingles modulo md5
        collisions; the DuckDB oracle verifies on the strings).
        """
        hashed = self.hashed_table(df)
        bands = self.band_table(hashed)
        left = bands.select("__b", F.col("__id").alias("__id_l"))
        right = bands.select("__b", F.col("__id").alias("__id_r"))
        pairs = (left.join(right, "__b")
                 .filter(F.col("__id_l") < F.col("__id_r"))
                 .select("__id_l", "__id_r")
                 .dropDuplicates(["__id_l", "__id_r"]))
        lsh = hashed.select(F.col("__id").alias("__id_l"),
                            F.col("__xs").alias("__xs_l"))
        rsh = hashed.select(F.col("__id").alias("__id_r"),
                            F.col("__xs").alias("__xs_r"))
        jac = (F.size(F.array_intersect("__xs_l", "__xs_r"))
               / F.size(F.array_union("__xs_l", "__xs_r")))
        return (pairs.join(lsh, "__id_l").join(rsh, "__id_r")
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= self.getThreshold())
                .select(F.col("__id_l").alias("id_keep"),
                        F.col("__id_r").alias("id_dup"),
                        "jaccard"))

    def dominated_ids(self, df: DataFrame) -> DataFrame:
        """(__dup_id) documents with a verified near-duplicate at a
        smaller id, found by STAR PAIRING: each band-bucket member is
        paired only with the bucket's min-id representative, never with
        every bucket-mate.

        Why not all-pairs: a bucket of C members emits C²/2 candidate
        pairs under all-pairs — and TRUE duplicate mega-clusters
        (boilerplate pages, mirrored docs) share every band key, so at
        lake scale one hot bucket goes quadratic. Star pairing emits
        exactly C−1 pairs per bucket (one aggregate + one equi-join on
        the bucket key), linear whatever the cluster size. For the
        mega-cluster case the result is identical (every member
        verifies against the min-id representative); results can differ
        from all-pairs only when a bucket's min-id member is a FALSE
        POSITIVE for some true-duplicate bucket-mates — rare under
        compound band keys, and those mates still meet in their other
        bands. The DuckDB oracle replays star pairing exactly.
        """
        hashed = self.hashed_table(df)
        bands = self.band_table(hashed)
        reps = bands.groupBy("__b").agg(F.min("__id").alias("__id_l"))
        pairs = (bands.join(reps, "__b")
                 .filter(F.col("__id") > F.col("__id_l"))
                 .select("__id_l", F.col("__id").alias("__id_r"))
                 .dropDuplicates(["__id_l", "__id_r"]))
        lsh = hashed.select(F.col("__id").alias("__id_l"),
                            F.col("__xs").alias("__xs_l"))
        rsh = hashed.select(F.col("__id").alias("__id_r"),
                            F.col("__xs").alias("__xs_r"))
        jac = (F.size(F.array_intersect("__xs_l", "__xs_r"))
               / F.size(F.array_union("__xs_l", "__xs_r")))
        return (pairs.join(lsh, "__id_l").join(rsh, "__id_r")
                .filter(jac >= self.getThreshold())
                .select(F.col("__id_r").alias("__dup_id")).distinct())

    def transform(self, df: DataFrame) -> DataFrame:
        return _keep_non_dominated(df, self.dominated_ids(df),
                                   self.getIdCol())

    def transform_against(self, df: DataFrame, corpus: DataFrame | None = None,
                          *, corpus_hashed: DataFrame | None = None) -> DataFrame:
        """Incremental dedup: drop rows of ``df`` that are
        near-duplicates of ANY document in ``corpus`` — the
        "dedup today's crawl against the curated corpus" shape. The
        corpus always wins (no id ordering across tables); intra-``df``
        duplicates are NOT removed here — chain :meth:`transform` for
        that.

        Pass ``corpus_hashed`` (a :meth:`hashed_table` result) to amortize
        the corpus signature pass across many calls — per-call work is
        then one map-only signature pass over ``df`` plus the band join,
        which is what makes this the per-micro-batch body of
        ``streaming.stream_minhash_dedup_against_corpus``.
        """
        if corpus_hashed is None:
            if corpus is None:
                raise ValueError("need corpus or corpus_hashed")
            corpus_hashed = self.hashed_table(corpus)
        new_h = self.hashed_table(df)
        nb = self.band_table(new_h).select(
            "__b", F.col("__id").alias("__id_n"))
        cb = self.band_table(corpus_hashed).select(
            "__b", F.col("__id").alias("__id_c"))
        cand = (nb.join(cb, "__b").select("__id_n", "__id_c")
                .dropDuplicates(["__id_n", "__id_c"]))
        nsh = new_h.select(F.col("__id").alias("__id_n"),
                           F.col("__xs").alias("__xs_n"))
        csh = corpus_hashed.select(F.col("__id").alias("__id_c"),
                                   F.col("__xs").alias("__xs_c"))
        jac = (F.size(F.array_intersect("__xs_n", "__xs_c"))
               / F.size(F.array_union("__xs_n", "__xs_c")))
        dups = (cand.join(nsh, "__id_n").join(csh, "__id_c")
                .filter(jac >= self.getThreshold())
                .select(F.col("__id_n").alias("__dup_id")).distinct())
        return _keep_non_dominated(df, dups, self.getIdCol())


class SimHashDeduplicator(AlgoOperator, _MaterializeMixin,
                          _PersistableIndexMixin, HasInputCol,
                          HasIdColMixin):
    """SimHash near-duplicate removal (60-bit fingerprint, banded LSH on
    15-bit quarters, Hamming-distance verification)."""

    _INDEX_TABLE_METHOD = "simhash_table"

    hammingThreshold = Param(Params._dummy(), "hammingThreshold",
                             "max Hamming distance for duplicates",
                             TypeConverters.toInt)

    N_BITS = 60
    N_BANDS = 4

    _defaults = dict(inputCol="text", hammingThreshold=3)

    def simhash(self, text: Column) -> Column:
        """Per-row simhash expression — the semantic spec. The pipeline
        uses :meth:`simhash_table` instead: evaluating 60 bit-vote
        ``F.aggregate`` lambdas per row re-inlines the tokenize+md5 work
        60× (CollapseProject) and defeats codegen."""
        toks = F.array_distinct(
            F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != ""))
        hs = F.transform(toks, portable_hash60)
        bits = []
        for j in range(self.N_BITS):
            vote = F.aggregate(
                hs, F.lit(0).cast("bigint"),
                lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)
            bits.append(
                F.when(vote > 0, F.lit(2 ** j).cast("bigint"))
                .otherwise(F.lit(0).cast("bigint")))
        return sum(bits[1:], bits[0])

    def simhash_table(self, df: DataFrame) -> DataFrame:
        """(__id, __sh) — whole fingerprint in one Arrow-batched pass
        (map-only: no explode shuffle, no 60-column aggregate). Same
        math as :meth:`simhash`: distinct lowercase tokens, md5[:15]
        60-bit hashes, per-bit ±1 votes, bit set iff vote > 0."""
        import hashlib
        import re

        import numpy as np

        idc = self.getIdCol()
        pat = TOKEN_SPLIT
        n_bits = self.N_BITS

        @F.pandas_udf("long")
        def simhash_of(texts: pd.Series) -> pd.Series:
            rx = re.compile(pat)
            shifts = np.arange(n_bits, dtype=np.uint64)
            out = []
            for t in texts:
                toks = (dict.fromkeys(w for w in rx.split(t.lower()) if w)
                        if t is not None else {})
                if not toks:
                    # token-free documents have no fingerprint: a
                    # shared 0 would make them mutual hamming-0
                    # "duplicates" (and one hot LSH bucket)
                    out.append(None)
                    continue
                hs = np.array([
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                    for w in toks], dtype=np.uint64)
                bits = (hs[:, None] >> shifts[None, :]) & 1
                votes = (bits.astype(np.int64) * 2 - 1).sum(0)
                out.append(int(((votes > 0).astype(np.uint64)
                                << shifts).sum()))
            return pd.Series(out, dtype="Int64")

        # repartition raw text first: parallelizes tokenize+md5 when the
        # source has few splits (see MinHash note above)
        return (df.select(idc, self.getInputCol())
                .repartition(F.col(idc))
                .select(F.col(idc).alias("__id"),
                        simhash_of(F.col(self.getInputCol())).alias("__sh")))

    def _band_rows(self, base: DataFrame) -> DataFrame:
        """(__id, __sh, __b struct<band, key>) — 15-bit quarter bands;
        fingerprint-less (token-free) documents never enter a band."""
        width = self.N_BITS // self.N_BANDS
        base = base.filter(F.col("__sh").isNotNull())
        return base.select(
            "__id", "__sh",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.shiftright("__sh", b * width)
                         .bitwiseAND(F.lit(2 ** width - 1)).alias("key"))
                for b in range(self.N_BANDS)
            ])).alias("__b"))

    def duplicate_pairs(self, df: DataFrame) -> DataFrame:
        # materialized: both band-join sides read the fingerprint
        # table; broadcast conversion breaks ReuseExchange and lazy
        # caches race (see _MaterializeMixin)
        base = self._materialize(self.simhash_table(df))
        bands = self._band_rows(base)
        left = bands.select("__b", F.col("__id").alias("__id_l"),
                            F.col("__sh").alias("__sh_l"))
        right = bands.select("__b", F.col("__id").alias("__id_r"),
                             F.col("__sh").alias("__sh_r"))
        pairs = (left.join(right, "__b")
                 .filter(F.col("__id_l") < F.col("__id_r"))
                 .select("__id_l", "__id_r", "__sh_l", "__sh_r")
                 .dropDuplicates(["__id_l", "__id_r"]))
        dist = F.bit_count(F.col("__sh_l").bitwiseXOR(F.col("__sh_r")))
        return (pairs.withColumn("hamming", dist)
                .filter(F.col("hamming") <= self.getHammingThreshold())
                .select(F.col("__id_l").alias("id_keep"),
                        F.col("__id_r").alias("id_dup"), "hamming"))

    def transform(self, df: DataFrame) -> DataFrame:
        dups = (self.duplicate_pairs(df)
                .select(F.col("id_dup").alias("__dup_id")).distinct())
        return _keep_non_dominated(df, dups, self.getIdCol())

    def transform_against(self, df: DataFrame, corpus: DataFrame | None = None,
                          *, corpus_hashed: DataFrame | None = None) -> DataFrame:
        """Incremental dedup against a corpus (see
        ``MinHashDeduplicator.transform_against`` — same contract: the
        corpus always wins, intra-``df`` duplicates untouched). Pass
        ``corpus_hashed`` (a :meth:`simhash_table` result) to
        amortize the corpus fingerprint pass."""
        if corpus_hashed is None:
            if corpus is None:
                raise ValueError("need corpus or corpus_hashed")
            corpus_hashed = self._materialize(self.simhash_table(corpus))
        new_h = self._materialize(self.simhash_table(df))
        nb = self._band_rows(new_h).select(
            "__b", F.col("__id").alias("__id_n"),
            F.col("__sh").alias("__sh_n"))
        cb = self._band_rows(corpus_hashed).select(
            "__b", F.col("__id").alias("__id_c"),
            F.col("__sh").alias("__sh_c"))
        dist = F.bit_count(F.col("__sh_n").bitwiseXOR(F.col("__sh_c")))
        dups = (nb.join(cb, "__b")
                .select("__id_n", "__id_c", "__sh_n", "__sh_c")
                .dropDuplicates(["__id_n", "__id_c"])
                .filter(dist <= self.getHammingThreshold())
                .select(F.col("__id_n").alias("__dup_id")).distinct())
        return _keep_non_dominated(df, dups, self.getIdCol())


class MinHashTopK(AlgoOperator, HasInputCol, HasIdColMixin, HasSeed):
    """Ranked lexical similarity SEARCH via MinHash LSH: for every
    query document, the ``k`` most Jaccard-similar corpus documents —
    the retrieval complement to :class:`MinHashDeduplicator`'s boolean
    dedup verdicts (near-dup mining, attribution, "show me training
    docs like this eval example").

    Pipeline: both sides shingle → minhash signature → band keys; a
    band-key equi-join yields candidates (never all pairs); exact
    n-gram Jaccard on the 60-bit shingle-hash sets re-ranks them; a
    per-query ``row_number`` keeps the top ``k`` (ties break toward
    the smaller doc id, so results are deterministic and
    engine-portable). Self-matches (same id) are excluded.

    100 TB design: candidate generation is the banded equi-join on
    ~uniform hash keys (skew-free); the top-k window compiles to
    WindowGroupLimit, so each task prunes to its local k BEFORE the
    exchange — the shuffle carries O(k · tasks) rows per query, never
    the candidate set. Recall follows the usual LSH S-curve: raise
    ``bands`` for lower-similarity matches, ``numHashes`` for a
    sharper threshold.
    """

    shingleSize = Param(Params._dummy(), "shingleSize",
                        "words per shingle", TypeConverters.toInt)
    numHashes = Param(Params._dummy(), "numHashes",
                      "minhash signature length", TypeConverters.toInt)
    bands = Param(Params._dummy(), "bands",
                  "LSH bands (must divide numHashes)",
                  TypeConverters.toInt)
    k = Param(Params._dummy(), "k", "results kept per query",
              TypeConverters.toInt)
    minJaccard = Param(Params._dummy(), "minJaccard",
                       "drop candidates below this exact Jaccard",
                       TypeConverters.toFloat)
    maxBandBucket = Param(Params._dummy(), "maxBandBucket",
                          "drop corpus band buckets larger than this "
                          "(0 = uncapped) — the LSH skew guard",
                          TypeConverters.toInt)

    _defaults = dict(inputCol="text", shingleSize=3, numHashes=12,
                     bands=4, k=5, minJaccard=0.0,
                     maxBandBucket=0)

    def setMaxBandBucket(self, v):
        """Skew guard for high-recall bandings (rows-per-band 1-2):
        lexical minhash minima concentrate on globally common
        shingles, so a few band keys collect thousands of docs and
        the candidate join goes quadratic in THEIR bucket sizes.
        Dropping corpus buckets over the cap removes only those
        near-useless discriminator keys (a doc pair with real overlap
        still collides on its rarer minima). Deterministic, so the
        SQL oracle replays the cap exactly."""
        v = int(v)
        if v < 0:
            raise ValueError(f"maxBandBucket must be >= 0, got {v}")
        return self._set(maxBandBucket=v)

    def setK(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"k must be >= 1, got {v}")
        return self._set(k=v)

    def _dedup(self) -> MinHashDeduplicator:
        """Signature/banding twin — ONE parameterization shared with
        the dedup operator, so an index persisted by either is valid
        for both."""
        return (MinHashDeduplicator()
                .setInputCol(self.getInputCol())
                .setIdCol(self.getIdCol())
                .setSeed(self.getSeed())
                .setShingleSize(self.getOrDefault(self.shingleSize))
                .setNumHashes(self.getOrDefault(self.numHashes))
                .setBands(self.getOrDefault(self.bands)))

    def suggest_band_cap(self, corpus: DataFrame, *,
                         quantile: float = 0.99,
                         floor: int = 64) -> int:
        """Size ``maxBandBucket`` from the corpus's own duplication
        profile instead of guessing: returns
        ``max(floor, ceil(P_quantile of band-bucket sizes))``.

        Why (measured, SCALE.md r12 100× ladder): the cap is what
        bounds the candidate join when hot band keys appear — but a
        TRUE duplicate cluster of depth C shares every band key, so a
        cap below C silently drops those buckets and top-k recall
        over mega-clusters collapses to the rarer-minima bands. The
        P99 bucket size ≈ the deep end of the cluster-depth
        distribution, so capping just above it keeps real duplicate
        structure while still amputating the Zipf-head discriminator
        keys. Cost: one band projection + an O(buckets) count
        aggregation + a mergeable percentile sketch — run it once per
        corpus snapshot, not per query batch."""
        if not 0.0 < quantile <= 1.0:
            raise ValueError(f"quantile must be in (0, 1], got {quantile}")
        import math

        d = self._dedup()
        sizes = (d.band_table(d.hashed_table(corpus))
                 .groupBy("__b").agg(F.count(F.lit(1)).alias("__n")))
        row = sizes.agg(F.approx_percentile(
            F.col("__n").cast("double"), F.lit(float(quantile)),
            F.lit(10000)).alias("q")).collect()[0]
        q = row["q"] if row else None
        return max(int(floor), int(math.ceil(q))) if q else int(floor)

    def topk(self, queries: DataFrame, corpus: DataFrame) -> DataFrame:
        """(query_id, doc_id, jaccard, rank) — top-k per query."""
        from pyspark.sql import Window

        d = self._dedup()
        qh, ch = d.hashed_table(queries), d.hashed_table(corpus)
        cb = d.band_table(ch).select(F.col("__id").alias("doc_id"),
                                     "__b")
        cap = self.getOrDefault(self.maxBandBucket)
        if cap > 0:
            bn = F.count(F.lit(1)).over(Window.partitionBy("__b"))
            cb = (cb.withColumn("__bn", bn)
                  .filter(F.col("__bn") <= cap).drop("__bn"))
        cand = (d.band_table(qh)
                .select(F.col("__id").alias("query_id"), "__b")
                .join(cb, "__b")
                .filter(F.col("query_id") != F.col("doc_id"))
                .select("query_id", "doc_id").distinct())
        qx = qh.select(F.col("__id").alias("query_id"),
                       F.col("__xs").alias("__qxs"))
        cx = ch.select(F.col("__id").alias("doc_id"),
                       F.col("__xs").alias("__cxs"))
        jac = (F.size(F.array_intersect("__qxs", "__cxs"))
               / F.size(F.array_union("__qxs", "__cxs")))
        scored = (cand.join(qx, "query_id").join(cx, "doc_id")
                  .select("query_id", "doc_id", jac.alias("jaccard"))
                  .filter(F.col("jaccard").isNotNull()
                          & (F.col("jaccard")
                             >= self.getMinJaccard())))
        w = Window.partitionBy("query_id").orderBy(
            F.col("jaccard").desc(), F.col("doc_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getK()))

    def transform(self, df: DataFrame) -> DataFrame:
        """Self-search: every document queries the rest of the frame."""
        return self.topk(df, df)


class NgramJaccardDeduplicator(AlgoOperator, _MaterializeMixin,
                               _PersistableIndexMixin, HasInputCol,
                               HasIdColMixin):
    """Exact word-n-gram Jaccard dedup via prefix filtering.

    Candidate generation uses the AllPairs/SSJoin prefix filter (Bayardo,
    Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007;
    Chaudhuri, Ganti & Kaushik, ICDE 2006): order each document's
    shingle-hash set ascending and index only its first
    ``⌊(1−t)·|X|⌋ + 1`` hashes. Any pair with Jaccard ≥ t must share its
    globally-smallest common hash inside BOTH prefixes, so joining on
    prefix membership has **no false negatives** — this is exact
    similarity join, not approximate blocking (contrast
    ``MinHashDeduplicator``, which trades recall for a fixed-size
    signature). The join keys are individual shingle hashes (~unique →
    no hot blocks, no quadratic bucket), a size filter
    ``t·|Y| ≤ |X| ≤ |Y|/t`` prunes the rest, and exact Jaccard verifies.
    """

    shingleSize = Param(Params._dummy(), "shingleSize",
                        "words per n-gram", TypeConverters.toInt)
    threshold = Param(Params._dummy(), "threshold", "Jaccard threshold",
                      TypeConverters.toFloat)

    _defaults = dict(inputCol="text", shingleSize=3, threshold=0.8)

    def hashed_table(self, df: DataFrame) -> DataFrame:
        """(__id, __sh) sorted-shingle-hash base, materialized behind a
        shuffle barrier (same rationale and cache-lifecycle contract as
        ``MinHashDeduplicator.hashed_table``)."""
        idc = self.getIdCol()
        xs = shingle_hash_udf(self.getShingleSize())(
            F.col(self.getInputCol()))
        return self._materialize(
            df.select(idc, self.getInputCol())
            .repartition(F.col(idc))
            .select(F.col(idc).alias("__id"),
                    F.array_sort(xs).alias("__sh")))

    def _prefix_keys(self, base: DataFrame) -> DataFrame:
        """Explode each doc's prefix — the first ⌊(1−t)·|X|⌋ + 1 sorted
        hashes (≡ |X| − ⌈t·|X|⌉ + 1): any pair with J ≥ t must share its
        globally-smallest common hash inside BOTH prefixes. Carries the
        0-based position of each prefix hash for the PPJoin positional
        filter (see :meth:`_positional_filter`)."""
        t = self.getThreshold()
        sz = F.size("__sh")
        prefix_len = (F.floor(F.lit(1.0 - t) * sz) + 1).cast("int")
        exploded = base.select(
            "__id", sz.alias("__sz"),
            F.posexplode(F.slice("__sh", F.lit(1), prefix_len))
            .alias("__p", "__k"))
        return exploded

    def _positional_filter(self, szl, posl, szr, posr):
        """PPJoin positional prune (Xiao, Wang, Lin & Yu, "Efficient
        Similarity Joins for Near Duplicate Detection", WWW 2008):
        elements at or after position p are the only ones that can still
        intersect, so |X∩Y| ≤ min(|X|−p_x, |Y|−p_y); J ≥ t requires
        |X∩Y| ≥ t/(1+t)·(|X|+|Y|). Sound: only candidates that cannot
        reach the threshold are cut, so verified output is unchanged."""
        t = self.getThreshold()
        alpha = F.lit(t / (1.0 + t)) * (szl + szr)
        return F.least(szl - posl, szr - posr).cast("double") >= alpha

    def duplicate_pairs(self, df: DataFrame) -> DataFrame:
        """(id_keep, id_dup, jaccard) — exact, prefix-filtered.

        Jaccard runs on the 60-bit shingle hashes (value-identical to
        string shingles modulo md5 collisions; the DuckDB oracle uses the
        strings) — see :func:`shingle_hash_udf` for why not HOFs."""
        t = self.getThreshold()
        base = self.hashed_table(df)
        shuffle_n = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        # explicit repartition by key: AQE coalesces ENSURE_REQUIREMENTS
        # shuffle reads by BYTE size, and this join's output is small in
        # bytes but CPU-heavy downstream — byte-sized coalescing was
        # measured to serialize the join on 1-3 tasks at sf0.1
        keys = self._prefix_keys(base).repartition(shuffle_n, "__k")
        left = keys.select("__k", F.col("__id").alias("__id_l"),
                           F.col("__sz").alias("__sz_l"),
                           F.col("__p").alias("__p_l"))
        right = keys.select("__k", F.col("__id").alias("__id_r"),
                            F.col("__sz").alias("__sz_r"),
                            F.col("__p").alias("__p_r"))
        # candidate INSTANCES flow straight into verification (a pair
        # sharing several prefix keys is verified that many times, ~8%
        # extra at sf0.1) and the pair dedup runs on the tiny VERIFIED
        # output instead — this drops a full candidate-sized exchange +
        # hash agg, and the verify work fuses into the key-join stage,
        # whose explicit repartition(shuffle_n) already pins parallelism
        cand = (left.join(right, "__k")
                .filter((F.col("__id_l") < F.col("__id_r"))
                        & (F.col("__sz_l") >= F.lit(t) * F.col("__sz_r"))
                        & (F.col("__sz_r") >= F.lit(t) * F.col("__sz_l"))
                        & self._positional_filter(
                            F.col("__sz_l"), F.col("__p_l"),
                            F.col("__sz_r"), F.col("__p_r")))
                .select("__id_l", "__id_r", "__sz_l", "__sz_r"))
        lsh = base.select(F.col("__id").alias("__id_l"),
                          F.col("__sh").alias("__sh_l"))
        rsh = base.select(F.col("__id").alias("__id_r"),
                          F.col("__sh").alias("__sh_r"))
        # __sh holds DISTINCT hashes by construction (shingle_hash_udf
        # dedups), so |A∪B| = |A| + |B| − |A∩B|: the arithmetic union
        # halves the per-pair set work vs array_union
        inter = F.size(F.array_intersect("__sh_l", "__sh_r"))
        jac = inter / (F.col("__sz_l") + F.col("__sz_r") - inter)
        return (cand.join(lsh, "__id_l").join(rsh, "__id_r")
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= self.getThreshold())
                .select(F.col("__id_l").alias("id_keep"),
                        F.col("__id_r").alias("id_dup"), "jaccard")
                .dropDuplicates(["id_keep", "id_dup"]))

    def transform(self, df: DataFrame) -> DataFrame:
        dups = (self.duplicate_pairs(df)
                .select(F.col("id_dup").alias("__dup_id")).distinct())
        return _keep_non_dominated(df, dups, self.getIdCol())

    def similar_pairs(self, df: DataFrame, lo: float,
                      hi: float = 1.0) -> DataFrame:
        """Paraphrase-BAND mining: (id_keep, id_dup, jaccard) pairs
        with ``lo ≤ J < hi`` — the weak-supervision positive-pair
        source for training embedding/rerank models ("same content,
        different words": similar enough to be related, below the
        near-duplicate band that :meth:`duplicate_pairs` removes).

        Exactness carries over: the prefix filter runs at ``lo``, so
        the band has zero false negatives, and the upper cut is a
        plain post-verification filter. ``hi = 1.0`` excludes only
        bit-identical shingle sets (J = 1)."""
        if not (0.0 < lo < hi <= 1.0):
            raise ValueError(
                f"need 0 < lo < hi <= 1, got lo={lo}, hi={hi}")
        band_op = NgramJaccardDeduplicator()
        band_op._set(inputCol=self.getInputCol(), idCol=self.getIdCol(),
                     shingleSize=self.getShingleSize(),
                     threshold=float(lo))
        return (band_op.duplicate_pairs(df)
                .filter(F.col("jaccard") < F.lit(float(hi))))

    def transform_against(self, df: DataFrame, corpus: DataFrame | None = None,
                          *, corpus_hashed: DataFrame | None = None) -> DataFrame:
        """Incremental EXACT dedup against a corpus (same contract as
        ``MinHashDeduplicator.transform_against``: the corpus always
        wins, intra-``df`` duplicates untouched) — but with the
        prefix-filter join, so unlike the MinHash variant it has zero
        false negatives. The prefix property is symmetric (smallest
        common hash lands in both prefixes), so no id ordering is
        needed across the two tables. Pass ``corpus_hashed`` (a
        :meth:`hashed_table` result) to amortize the corpus shingle
        pass across calls."""
        if corpus_hashed is None:
            if corpus is None:
                raise ValueError("need corpus or corpus_hashed")
            corpus_hashed = self.hashed_table(corpus)
        t = self.getThreshold()
        new_h = self.hashed_table(df)
        nk = self._prefix_keys(new_h).select(
            "__k", F.col("__id").alias("__id_n"),
            F.col("__sz").alias("__sz_n"), F.col("__p").alias("__p_n"))
        ck = self._prefix_keys(corpus_hashed).select(
            "__k", F.col("__id").alias("__id_c"),
            F.col("__sz").alias("__sz_c"), F.col("__p").alias("__p_c"))
        # as in duplicate_pairs: verify candidate INSTANCES, dedup the
        # tiny verified output (here the terminal .distinct() already
        # does it) — saves the candidate-sized exchange + hash agg
        cand = (nk.join(ck, "__k")
                .filter((F.col("__sz_n") >= F.lit(t) * F.col("__sz_c"))
                        & (F.col("__sz_c") >= F.lit(t) * F.col("__sz_n"))
                        & self._positional_filter(
                            F.col("__sz_n"), F.col("__p_n"),
                            F.col("__sz_c"), F.col("__p_c")))
                .select("__id_n", "__id_c", "__sz_n", "__sz_c"))
        nsh = new_h.select(F.col("__id").alias("__id_n"),
                           F.col("__sh").alias("__sh_n"))
        csh = corpus_hashed.select(F.col("__id").alias("__id_c"),
                                   F.col("__sh").alias("__sh_c"))
        inter = F.size(F.array_intersect("__sh_n", "__sh_c"))
        jac = inter / (F.col("__sz_n") + F.col("__sz_c") - inter)
        dups = (cand.join(nsh, "__id_n").join(csh, "__id_c")
                .filter(jac >= t)
                .select(F.col("__id_n").alias("__dup_id")).distinct())
        return _keep_non_dominated(df, dups, self.getIdCol())


def positioned_shingle_hash_udf(n: int):
    """Arrow-batched POSITIONED shingle hasher: text → array<long> where
    element ``i`` (0-based) is the 60-bit md5 hash of the word n-gram
    starting at token ``i`` — order preserved, duplicates kept (contrast
    :func:`shingle_hash_udf`, which returns the distinct SET). Documents
    with fewer than ``n`` tokens yield an empty array, as does NULL
    text."""
    import hashlib
    import re

    pat = TOKEN_SPLIT

    @F.pandas_udf("array<long>")
    def gram_hashes(texts: pd.Series) -> pd.Series:
        rx = re.compile(pat)
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = [w for w in rx.split(t.lower()) if w]
            if len(toks) < n:
                out.append([])
                continue
            out.append([
                int(hashlib.md5(
                    " ".join(toks[i:i + n]).encode("utf-8"))
                    .hexdigest()[:15], 16)
                for i in range(len(toks) - n + 1)])
        return pd.Series(out)

    return gram_hashes


class SubstringDeduplicator(AlgoOperator, _MaterializeMixin, HasInputCol, HasIdColMixin):
    """Substring/span-level exact deduplication (Lee, Ippolito, Nystrom,
    Zhang, Eck, Callison-Burch & Carlini, "Deduplicating Training Data
    Makes Language Models Better", ACL 2022): every word ``k``-gram that
    occurs more than once ANYWHERE in the corpus keeps only its global
    first occurrence (smallest ``(doc_id, position)``); every other
    occurrence's ``k`` token positions are masked out of the surviving
    document. Unlike the whole-document deduplicators above, this
    removes boilerplate spans INSIDE otherwise-unique documents —
    including self-repetition within a single document.

    Output = input columns plus::

        n_tokens     bigint  token count of the (lowercased) document
        n_removed    bigint  masked token positions
        text_deduped string  space-joined surviving tokens (normalized:
                             lowercase, single-space — same contract as
                             the other text rewriters here)

    NULL text is treated as the empty document (0 tokens, empty
    rewrite), mirroring ``coalesce(text, '')``.

    Scale shape (the Lee et al. suffix-array step re-expressed as two
    shuffle waves, no driver state):

    1. one Arrow map pass emits positioned k-gram hashes
       (:func:`positioned_shingle_hash_udf`) — O(tokens) rows of
       ``(doc, pos, hash)``;
    2. ``groupBy(hash)`` finds grams with count > 1 and their first
       location; the aggregate output is already partitioned by hash,
       so the occurrence join that marks non-first locations reuses the
       same exchange (one shuffle wave, AQE handles hot-gram skew);
    3. masked positions fold back per doc (``groupBy(doc)`` — bounded:
       ≤ tokens-per-doc ints/doc) and the rewrite is a map-side
       higher-order filter over the token array — no second pass over
       the corpus text.

    First-occurrence ordering is encoded as ``doc_id·2^21 + pos``
    (one bigint, DuckDB-replayable): positions per document must stay
    below 2^21 (~2M tokens/doc) and ids below 2^42.
    """

    spanTokens = Param(Params._dummy(), "spanTokens",
                       "span length k in word tokens; duplicated spans "
                       "of at least this length are removed",
                       TypeConverters.toInt)

    LOC_M = 1 << 21

    _defaults = dict(inputCol="text", spanTokens=8)

    def _toks(self) -> Column:
        return F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")

    def hashed_table(self, df: DataFrame) -> DataFrame:
        """(__id, __ghs array<long>) — per-doc positioned gram hashes,
        materialized behind the repartition barrier (same lifecycle
        contract as ``MinHashDeduplicator.hashed_table``): the
        occurrence stream is
        read by BOTH the gram aggregation and the non-first-occurrence
        join, and without the barrier each branch re-runs the Arrow
        tokenize+hash pass. Raw text is repartitioned first so the
        hashing parallelizes on few-split sources."""
        idc = self.getIdCol()
        gh = positioned_shingle_hash_udf(self.getSpanTokens())
        return self._materialize(
            df.select(idc, self.getInputCol())
            .repartition(F.col(idc))
            .select(F.col(idc).alias("__id"),
                    gh(F.col(self.getInputCol())).alias("__ghs")))

    def gram_occurrences(self, df: DataFrame, *,
                         hashed: DataFrame | None = None) -> DataFrame:
        """(__id, __pos, __gh) — one row per k-gram occurrence, ``__pos``
        1-based; a cheap JVM-side explode of :meth:`hashed_table`."""
        if hashed is None:
            hashed = self.hashed_table(df)
        return (hashed
                .select("__id", F.posexplode("__ghs").alias("__p0", "__gh"))
                .select("__id", (F.col("__p0") + 1).alias("__pos"), "__gh"))

    def masked_positions(self, df: DataFrame) -> DataFrame:
        """(__id, __mask array<int>) — per-doc sorted masked positions.
        Only documents that lose at least one span appear."""
        k = self.getSpanTokens()
        occ = self.gram_occurrences(df)
        loc = (F.col("__id") * self.LOC_M + F.col("__pos")).cast("bigint")
        firsts = (occ.groupBy("__gh")
                  .agg(F.min(loc).alias("__first"),
                       F.count(F.lit(1)).alias("__cnt"))
                  .filter(F.col("__cnt") > 1)
                  .select("__gh", "__first"))
        dup_occ = (occ.join(firsts, "__gh")
                   .filter(loc != F.col("__first"))
                   .select("__id",
                           F.sequence("__pos",
                                      F.col("__pos") + (k - 1)).alias("__mps")))
        return (dup_occ.groupBy("__id")
                .agg(F.array_sort(F.array_distinct(
                    F.flatten(F.collect_list("__mps")))).alias("__mask")))

    def _rewrite(self, df: DataFrame, masks: DataFrame) -> DataFrame:
        """Join per-doc masked positions back and rewrite map-side."""
        idc = self.getIdCol()
        masks = masks.withColumnRenamed("__id", idc)
        toks = self._toks()
        kept = F.filter(
            toks,
            lambda t, i: ~F.coalesce(
                F.array_contains(F.col("__mask"), (i + 1).cast("int")),
                F.lit(False)))
        return (df.join(masks, idc, "left")
                .withColumn("n_tokens", F.size(toks).cast("bigint"))
                .withColumn("n_removed",
                            # size(NULL) is -1 with ANSI off — guard
                            # explicitly (see TokenCounter)
                            F.when(F.col("__mask").isNull(), F.lit(0))
                            .otherwise(F.size("__mask")).cast("bigint"))
                .withColumn("text_deduped", F.array_join(kept, " "))
                .drop("__mask"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self._rewrite(df, self.masked_positions(df))

    def transform_against(self, df: DataFrame, corpus: DataFrame | None = None,
                          *, corpus_hashed: DataFrame | None = None) -> DataFrame:
        """Span-level DECONTAMINATION: mask every ``df`` occurrence of a
        k-gram that appears ANYWHERE in ``corpus`` — the
        "scrub benchmark spans out of the training set" shape (Lee et
        al. §5; span-granular counterpart of ``ContaminationChecker``'s
        whole-document flag). The corpus always wins: ALL matching span
        positions in ``df`` are masked, first occurrences included, and
        intra-``df`` duplicates are untouched — chain :meth:`transform`
        for those. Same contract as the other deduplicators'
        ``transform_against``: pass ``corpus_hashed`` (a
        :meth:`hashed_table` result) to amortize the corpus hashing
        pass across calls.

        Scale shape: the corpus side reduces to DISTINCT gram hashes
        (O(corpus grams) → one aggregation), then one join against the
        ``df`` occurrence stream on the uniform hash key."""
        if corpus_hashed is None:
            if corpus is None:
                raise ValueError("need corpus or corpus_hashed")
            corpus_hashed = self.hashed_table(corpus)
        k = self.getSpanTokens()
        occ = self.gram_occurrences(df)
        corpus_grams = (corpus_hashed
                        .select(F.explode("__ghs").alias("__gh"))
                        .distinct())
        hit = (occ.join(corpus_grams, "__gh")
               .select("__id",
                       F.sequence("__pos",
                                  F.col("__pos") + (k - 1)).alias("__mps")))
        masks = (hit.groupBy("__id")
                 .agg(F.array_sort(F.array_distinct(
                     F.flatten(F.collect_list("__mps")))).alias("__mask")))
        return self._rewrite(df, masks)


class EmbeddingCosineDeduplicator(AlgoOperator, _MaterializeMixin,
                                  _PersistableIndexMixin,
                                  HasIdColMixin, HasSeed):
    """Embedding near-duplicate removal: banded random-hyperplane LSH →
    cosine verification → dominated-by-smaller-id drop.

    ``nBands`` independent hyperplane tables of ``nBits`` planes each
    (Charikar, STOC 2002; banding per MMDS ch. 3): a pair is a candidate
    iff it agrees on ALL bits of SOME band. At 0.95 cosine
    (θ ≈ 18°, per-bit agreement p = 1 − θ/π ≈ 0.90) one 8-bit band
    catches only p⁸ ≈ 43% of true pairs while hashing everything into
    2⁸ global buckets — O(n²/256) in-bucket pairs at corpus scale. With
    4 × 8-bit bands recall rises to 1 − (1 − p⁸)⁴ ≈ 90%; the bucket
    join fans out nBands× but stays linear in nBands, while raising
    ``nBits`` shrinks the quadratic in-bucket term exponentially —
    tune the two independently instead of trading recall for blowup.

    ``save_index``/``load_index`` persist the :meth:`keyed_table`
    result (pass it back via ``corpus_keyed=``).

    Hyperplanes are seeded numpy draws folded into the plan as literals,
    so the whole pipeline stays deterministic and the oracle can replay
    it.
    """

    _INDEX_TABLE_METHOD = "keyed_table"

    embeddingCol = Param(Params._dummy(), "embeddingCol",
                         "array<float/double> embedding column",
                         TypeConverters.toString)
    threshold = Param(Params._dummy(), "threshold",
                      "cosine similarity threshold", TypeConverters.toFloat)
    nBits = Param(Params._dummy(), "nBits", "hyperplanes per band "
                  "(bucket bits; bounds in-bucket pair counts)",
                  TypeConverters.toInt)
    nBands = Param(Params._dummy(), "nBands",
                   "independent hyperplane tables (buys recall)",
                   TypeConverters.toInt)

    _defaults = dict(embeddingCol="embedding", threshold=0.95, nBits=8,
                     nBands=4, idCol="vec_id")

    def hyperplanes(self, dims: int):
        """``nBands × nBits`` seeded hyperplanes; band b owns rows
        ``[b·nBits, (b+1)·nBits)``."""
        import numpy as np

        rng = np.random.default_rng(self.getSeed())
        n = self.getOrDefault(self.nBits) * self.getNBands()
        return rng.standard_normal((n, dims)).tolist()

    def keyed_table(self, df: DataFrame) -> DataFrame:
        """(__id, __v, __n, __bks) — vector, norm, and per-band LSH keys
        in one materialized Arrow pass. Band signatures and norms run in
        pandas UDFs: as Catalyst columns the (nBands·nBits)×dims dot
        products blow the 64 KB codegen method limit and fall back to
        interpreted evaluation. The numpy loops accumulate sequentially
        over dims — the same fp summation order as the DuckDB oracle, so
        threshold comparisons cannot flip on reassociation."""
        import numpy as np

        from flink_ml__spark.base import array_width, as_double_array

        idc = self.getIdCol()
        ecol = self.getEmbeddingCol()
        dims = array_width(df, ecol)
        n_bits = self.getOrDefault(self.nBits)
        n_bands = self.getNBands()
        P = np.asarray(self.hyperplanes(dims))

        @F.pandas_udf("array<long>")
        def band_keys_of(embs: pd.Series) -> pd.Series:
            X = np.stack(embs.to_numpy()).astype(np.float64)
            keys = np.zeros((len(X), n_bands), dtype=np.int64)
            for i in range(len(P)):
                dot = np.zeros(len(X))
                for j in range(X.shape[1]):
                    dot = dot + X[:, j] * P[i, j]
                keys[:, i // n_bits] |= (
                    (dot >= 0).astype(np.int64) << (i % n_bits))
            return pd.Series(list(keys))

        @F.pandas_udf("double")
        def norm_of(embs: pd.Series) -> pd.Series:
            X = np.stack(embs.to_numpy()).astype(np.float64)
            acc = np.zeros(len(X))
            for j in range(X.shape[1]):
                acc = acc + X[:, j] * X[:, j]
            return pd.Series(np.sqrt(acc))

        arr = as_double_array(df, ecol)
        # NULL embeddings would crash np.stack inside the Arrow UDFs;
        # they can never be near-duplicates, so exclude them here
        # (transform keeps the rows — they are simply never dominated)
        return self._materialize(
            df.filter(F.col(ecol).isNotNull())
            .select(F.col(idc).alias("__id"), arr.alias("__v"))
            .repartition(F.col("__id"))
            .select("__id", "__v", norm_of("__v").alias("__n"),
                    band_keys_of("__v").alias("__bks")))

    def _band_rows(self, keyed: DataFrame) -> DataFrame:
        """(__id, __b struct<band, key>) — one row per (vector, band)."""
        return keyed.select(
            "__id",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.element_at("__bks", b + 1).alias("key"))
                for b in range(self.getNBands())
            ])).alias("__b"))

    @staticmethod
    def _cos_pair_udf():
        import numpy as np

        @F.pandas_udf("double")
        def cos_pair(vl: pd.Series, vr: pd.Series, nl: pd.Series,
                     nr: pd.Series) -> pd.Series:
            Xl = np.stack(vl.to_numpy()).astype(np.float64)
            Xr = np.stack(vr.to_numpy()).astype(np.float64)
            dot = np.zeros(len(Xl))
            for j in range(Xl.shape[1]):
                dot = dot + Xl[:, j] * Xr[:, j]
            return pd.Series(dot / (nl.to_numpy() * nr.to_numpy()))

        return cos_pair

    def duplicate_pairs(self, df: DataFrame) -> DataFrame:
        """(id_keep, id_dup, cosine) verified near-duplicate pairs.
        Pairs are deduplicated across bands BEFORE the cosine join, so a
        pair agreeing in all 4 bands is verified once, not 4×."""
        base = self.keyed_table(df)
        bands = self._band_rows(base)
        left = bands.select("__b", F.col("__id").alias("__id_l"))
        right = bands.select("__b", F.col("__id").alias("__id_r"))
        pairs = (left.join(right, "__b")
                 .filter(F.col("__id_l") < F.col("__id_r"))
                 .select("__id_l", "__id_r")
                 .dropDuplicates(["__id_l", "__id_r"]))
        lv = base.select(F.col("__id").alias("__id_l"),
                         F.col("__v").alias("__v_l"),
                         F.col("__n").alias("__n_l"))
        rv = base.select(F.col("__id").alias("__id_r"),
                         F.col("__v").alias("__v_r"),
                         F.col("__n").alias("__n_r"))
        cos = self._cos_pair_udf()("__v_l", "__v_r", "__n_l", "__n_r")
        return (pairs.join(lv, "__id_l").join(rv, "__id_r")
                .withColumn("cosine", cos)
                .filter(F.col("cosine") >= self.getThreshold())
                .select(F.col("__id_l").alias("id_keep"),
                        F.col("__id_r").alias("id_dup"), "cosine"))

    def transform(self, df: DataFrame) -> DataFrame:
        dups = (self.duplicate_pairs(df)
                .select(F.col("id_dup").alias("__dup_id")).distinct())
        return _keep_non_dominated(df, dups, self.getIdCol())

    def transform_against(self, df: DataFrame, corpus: DataFrame | None = None,
                          *, corpus_keyed: DataFrame | None = None) -> DataFrame:
        """Incremental vector dedup: drop rows of ``df`` whose embedding
        is ≥ threshold cosine to ANY corpus vector — the "ingest new
        embeddings against the indexed store" shape (corpus always wins;
        intra-``df`` duplicates untouched, chain :meth:`transform`).
        Pass ``corpus_keyed`` (a :meth:`keyed_table` result) to amortize
        the corpus signature pass across calls."""
        if corpus_keyed is None:
            if corpus is None:
                raise ValueError("need corpus or corpus_keyed")
            corpus_keyed = self.keyed_table(corpus)
        new_keyed = self.keyed_table(df)
        nb = self._band_rows(new_keyed).select(
            "__b", F.col("__id").alias("__id_n"))
        cb = self._band_rows(corpus_keyed).select(
            "__b", F.col("__id").alias("__id_c"))
        cand = (nb.join(cb, "__b").select("__id_n", "__id_c")
                .dropDuplicates(["__id_n", "__id_c"]))
        nv = new_keyed.select(F.col("__id").alias("__id_n"),
                              F.col("__v").alias("__v_n"),
                              F.col("__n").alias("__n_n"))
        cv = corpus_keyed.select(F.col("__id").alias("__id_c"),
                                 F.col("__v").alias("__v_c"),
                                 F.col("__n").alias("__n_c"))
        cos = self._cos_pair_udf()("__v_n", "__v_c", "__n_n", "__n_c")
        dups = (cand.join(nv, "__id_n").join(cv, "__id_c")
                .withColumn("cosine", cos)
                .filter(F.col("cosine") >= self.getThreshold())
                .select(F.col("__id_n").alias("__dup_id")).distinct())
        return _keep_non_dominated(df, dups, self.getIdCol())


class BloomCorpusDeduplicator(AlgoOperator, BloomBitset, HasInputCol,
                              HasIdColMixin):
    """Bloom-filter membership dedup against a reference corpus.

    ``fit(corpus)`` folds the corpus's normalized-text fingerprints
    into an ``numBits``-bit Bloom filter (``numHashes`` positions per
    key from the Kirsch–Mitzenmacher double hash of the md5 hex:
    ``pos_i = (h1 + i·h2) mod m`` with ``h1 = hex[0:15]``,
    ``h2 = hex[15:30]``). ``transform(df)`` drops every row whose
    fingerprint *might* be in the corpus: NO false negatives ever —
    every exact duplicate of a corpus document is removed — and false
    positives at the classical ``(1 − e^{−kn/m})^k`` rate, which
    removes a small bounded extra fraction of unique rows.

    Why alongside :meth:`ExactDeduplicator.transform_against` (the
    anti-join)? The anti-join shuffles both sides on every increment;
    with a petabyte reference corpus and a continuous crawl feed that
    is two full shuffle waves per batch. The bloom pays ONE corpus
    aggregation up front (per-partition partial bitsets, OR-merged),
    then every increment is a MAP-ONLY Arrow pass over the new data
    with the bitset broadcast once per executor — the continuous-
    ingestion shape. Size ``m ≈ −n·ln p/(ln 2)²`` (~1.2 GB per 10⁹
    keys at p = 1%). The driver OR-merge collects O(partitions·m/8)
    bytes; on a real cluster coalesce the corpus scan or swap the
    merge for ``treeAggregate(depth=2)`` when partitions × m outgrows
    the driver.

    Deterministic and engine-portable: positions derive only from the
    md5 hex, so a SQL oracle replays the exact kept set, FPs included.
    NULL text can never match (kept).
    """

    _state = ("_bits",)

    _defaults = dict(inputCol="text", idCol="doc_id",
                     numBits=1 << 23, numHashes=4)

    def _fp(self) -> Column:
        return F.md5(Fingerprinter.normalized(F.col(self.getInputCol())))

    def fit(self, corpus: DataFrame) -> "BloomCorpusDeduplicator":
        self._fit_bits(corpus.select(self._fp().alias("__fp")))
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self._bits is None:
            raise ValueError("fit(corpus) before transform(df)")
        contains = self._might_contain(df.sparkSession, F.col("__fp"))
        return (df.withColumn("__fp", self._fp())
                .filter(~contains)
                .drop("__fp"))

    def transform_against(self, df: DataFrame,
                          corpus: DataFrame) -> DataFrame:
        """One-shot convenience: build the filter from ``corpus`` and
        drop ``df`` rows it might contain."""
        return self.fit(corpus).transform(df)

