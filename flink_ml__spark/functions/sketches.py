"""Streaming-sketch operators for corpus profiling.

``HeavyHitters`` — Misra–Gries frequent items (Misra & Gries, "Finding
repeated elements", 1982; mergeability per Agarwal, Cormode, Huang,
Phillips, Wei & Yi, "Mergeable summaries", PODS 2012) with an exact
recount finish. The exact `groupBy(item).count()` over a 100 TB token
stream shuffles the ENTIRE vocabulary — trillions of (token, 1) rows;
the sketch pass reduces each partition to ≤ k counters map-side, merges
O(partitions·k) rows on the driver, and only the tiny candidate set is
recounted exactly. Output is therefore EXACT (items and counts), not
approximate — the sketch only bounds the candidate set, and its
no-false-negative guarantee (any item with share > 1/(k+1) survives a
merge) makes the recount complete.
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator, HasInputCol
from flink_ml__spark.functions.text import TOKEN_SPLIT


def _make_mg_update():
    def _mg_update(counters: dict, item, w: int, k: int) -> None:
        """Misra–Gries update with weight ``w`` and capacity ``k``.
        Built NESTED so cloudpickle ships it by VALUE into the sketch
        UDF closure instead of forcing a worker-side package import
        (guide §4.5; see fcm._make_np_math)."""
        if item in counters:
            counters[item] += w
            return
        if len(counters) < k:
            counters[item] = w
            return
        # decrement all by the smallest absorbable amount
        dec = min(w, min(counters.values()))
        for key in list(counters):
            counters[key] -= dec
            if counters[key] == 0:
                del counters[key]
        if w > dec:
            _mg_update(counters, item, w - dec, k)
    return _mg_update


_mg_update = _make_mg_update()


class DistinctCounter(AlgoOperator):
    """Grouped distinct-cardinality counting, exact or sketched.

    ``transform(df)`` returns one row per group with ``n_distinct``
    distinct ``keyCol`` values (NULL keys ignored, the SQL
    ``count(DISTINCT ...)`` contract).

    * ``exact=True`` (default): ``count_distinct`` — correct everywhere,
      but the partial aggregation must carry every distinct
      ``(group, key)`` pair through the shuffle; at 100 TB with
      high-cardinality keys (users, URLs, n-grams) that IS the data.
    * ``exact=False``: Spark's built-in ``approx_count_distinct``
      (HyperLogLog++, Heule, Nunkesser & Hall, EDBT 2013) at
      ``relativeSD`` — each task folds its rows into a fixed
      O(1/rsd²)-register sketch map-side and the shuffle carries only
      sketches, one per (task, group). This is the standard cardinality
      trade; the engine deliberately reuses the JVM implementation
      rather than hand-rolling a Python HLL (Arrow round-trips would
      only slow the fully-codegen path down).

    ``error_report(df)`` computes both paths side by side and returns
    per-group ``(group, n_exact, n_approx, rel_err)`` — the basis of
    the engine's violations-only correctness gate pinning the rsd
    contract (a regression in the sketch path flips the gate hash).
    """

    keyCol = Param(Params._dummy(), "keyCol",
                   "column whose distinct values are counted",
                   TypeConverters.toString)
    groupCols = Param(Params._dummy(), "groupCols",
                      "grouping columns ([] = one global row)",
                      TypeConverters.toListString)
    relativeSD = Param(Params._dummy(), "relativeSD",
                       "HLL++ relative standard deviation (approx mode)",
                       TypeConverters.toFloat)
    exact = Param(Params._dummy(), "exact",
                  "exact count_distinct vs HLL++ sketch",
                  TypeConverters.toBoolean)

    _defaults = dict(keyCol="user_id", groupCols=[],
                     relativeSD=0.05, exact=True)

    def setGroupCols(self, *v):
        return self._set(groupCols=list(v))

    def setExact(self, v):
        return self._set(exact=bool(v))

    def _agg(self) -> F.Column:
        k = self.getOrDefault(self.keyCol)
        if self.getOrDefault(self.exact):
            return F.count_distinct(F.col(k)).alias("n_distinct")
        return F.approx_count_distinct(
            k, self.getOrDefault(self.relativeSD)).alias("n_distinct")

    def transform(self, df: DataFrame) -> DataFrame:
        gs = self.getOrDefault(self.groupCols)
        return df.groupBy(*gs).agg(self._agg())

    def error_report(self, df: DataFrame) -> DataFrame:
        """(groups..., n_exact, n_approx, rel_err) — both paths in ONE
        aggregation pass (the two aggregates share the scan and the
        group shuffle)."""
        gs = self.getOrDefault(self.groupCols)
        k = self.getOrDefault(self.keyCol)
        out = df.groupBy(*gs).agg(
            F.count_distinct(F.col(k)).alias("n_exact"),
            F.approx_count_distinct(
                k, self.getOrDefault(self.relativeSD)).alias("n_approx"))
        rel = (F.abs(F.col("n_approx") - F.col("n_exact"))
               / F.greatest(F.col("n_exact"), F.lit(1)))
        return out.withColumn("rel_err", rel)


class SkewProfiler(AlgoOperator):
    """Join/aggregation-key skew diagnostics.

    The pre-flight check before every big shuffle: a single hot key
    serializes an otherwise-parallel join or ``groupBy`` onto one task
    (the classic 100 TB failure mode), and the mitigations — broadcast,
    salting, AQE skew-join — all start from knowing the key histogram.

    ``transform(df)`` → the ``topN`` heaviest keys::

        <keyCols...>, cnt, share (cnt/rows)

    (rank is the deterministic ``cnt desc, keys asc`` order of the
    output — derivable by any consumer, so the operator does not spend
    a window on it)

    ``summary(df)`` → one row::

        n_rows, n_keys, max_cnt, avg_cnt, max_share,
        skew_factor (max_cnt / avg_cnt — ~1 is uniform; the factor is
        a direct lower bound on how much longer the hottest task of a
        key-partitioned stage runs vs the average)

    Scale shape: one ``groupBy(keys)`` whose partial aggregation
    collapses each partition's rows map-side; the top-N finish is a
    ``TakeOrderedAndProject`` over O(keys) count rows (no global sort,
    no unpartitioned window), and the summary folds the same count
    table into one aggregate row.
    """

    keyCols = Param(Params._dummy(), "keyCols",
                    "columns forming the shuffle key under diagnosis",
                    TypeConverters.toListString)
    topN = Param(Params._dummy(), "topN", "heaviest keys to report",
                 TypeConverters.toInt)

    _defaults = dict(keyCols=["event_type"], topN=10)

    def setKeyCols(self, *v):
        return self._set(keyCols=list(v))

    def _counts(self, df: DataFrame) -> DataFrame:
        ks = self.getOrDefault(self.keyCols)
        return df.groupBy(*ks).agg(F.count(F.lit(1)).alias("cnt"))

    def transform(self, df: DataFrame) -> DataFrame:
        ks = self.getOrDefault(self.keyCols)
        n = self.getOrDefault(self.topN)
        counts = self._counts(df)
        total = counts.agg(F.sum("cnt").alias("__total"))
        ordered = [F.col("cnt").desc()] + [F.col(k).asc() for k in ks]
        # orderBy+limit compiles to TakeOrderedAndProject — per-partition
        # top-N heaps merged on the driver, no global sort
        top = counts.orderBy(*ordered).limit(n)
        return (top.crossJoin(F.broadcast(total))
                .withColumn("share", F.col("cnt") / F.col("__total"))
                .drop("__total"))

    def summary(self, df: DataFrame) -> DataFrame:
        counts = self._counts(df)
        return counts.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
            F.avg("cnt").alias("avg_cnt"),
            (F.max("cnt") / F.sum("cnt")).alias("max_share"),
            (F.max("cnt") / F.avg("cnt")).alias("skew_factor"))


class HeavyHitters(AlgoOperator, HasInputCol):
    """Exact frequent items via a Misra–Gries candidate pass.

    ``transform(df)`` returns every item whose frequency is at least
    ``minShare`` of the total item count::

        item    the item (token of ``inputCol`` text by default, or
                ``itemCol`` values when set — CAST TO STRING, the
                sketch's key type; join back through a cast)
        count   exact occurrence count
        share   count / total items

    Guarantee: the output is exactly the set an exhaustive
    ``groupBy(item).count()`` would produce, as long as
    ``numCounters > 1/minShare`` (validated): a merged Misra–Gries
    summary of capacity k never drops an item occurring more than
    n/(k+1) times, so the candidate recount is complete.

    100 TB design: pass 1 folds each partition into ≤ k counters
    inside one Arrow batch iterator (no shuffle; O(partitions·k) rows
    to the driver — the treeAggregate shape). Pass 2 recounts ONLY
    items in the merged candidate set (≤ k literals, broadcast into
    an ``isin`` filter pushed at the scan), so its shuffle carries
    ≤ partitions·k pre-aggregated rows. Nothing the size of the
    vocabulary ever moves.
    """

    itemCol = Param(Params._dummy(), "itemCol",
                    "use this column's values as items directly "
                    "('' = tokenize inputCol text)",
                    TypeConverters.toString)
    numCounters = Param(Params._dummy(), "numCounters",
                        "Misra-Gries capacity k (> 1/minShare)",
                        TypeConverters.toInt)
    minShare = Param(Params._dummy(), "minShare",
                     "report items with count >= minShare * n",
                     TypeConverters.toFloat)

    _defaults = dict(inputCol="text", itemCol="", numCounters=256,
                     minShare=0.01)

    def _items(self, df: DataFrame) -> DataFrame:
        if self.getItemCol():
            return df.select(F.col(self.getItemCol()).cast("string")
                             .alias("__item")).filter(
                                 F.col("__item").isNotNull())
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        return df.select(F.explode(toks).alias("__item"))

    def _check_capacity(self) -> int:
        k = self.getNumCounters()
        if k <= 1.0 / self.getMinShare():
            raise ValueError(
                "numCounters must exceed 1/minShare for the "
                "no-false-negative guarantee")
        return k

    def sketch_partials(self, df: DataFrame) -> tuple[list, int]:
        """One distributed sketch pass: the collected per-partition
        Misra–Gries counters (``[(item, weight), ...]``, ≤ k per
        partition) and the exact total item count. Mergeable — fold
        them into any running summary with :func:`_mg_update`."""
        k = self._check_capacity()
        items = self._items(df)

        def sketch(batches):
            counters: dict = {}
            total = 0
            for pdf in batches:
                vc = pdf["__item"].value_counts()
                total += int(vc.sum())
                for item, w in vc.items():
                    _mg_update(counters, item, int(w), k)
            yield pd.DataFrame({
                "item": [*counters.keys(), None],
                "w": [*counters.values(), total]})

        partials, total = [], 0
        for row in items.mapInPandas(
                sketch, "item string, w long").collect():
            if row["item"] is None:
                total += row["w"]
            else:
                partials.append((row["item"], row["w"]))
        return partials, total

    def candidates(self, df: DataFrame) -> tuple[list, int]:
        """Merged Misra–Gries candidate items and the exact total item
        count (one sketch pass)."""
        k = self._check_capacity()
        partials, total = self.sketch_partials(df)
        merged: dict = {}
        for item, w in partials:
            _mg_update(merged, item, w, k)
        return list(merged), total

    def transform(self, df: DataFrame) -> DataFrame:
        cand, total = self.candidates(df)
        items = self._items(df)
        spark = df.sparkSession
        if not cand or total == 0:
            return spark.createDataFrame(
                [], "item string, count long, share double")
        thresh = self.getMinShare() * total
        return (items.filter(F.col("__item").isin(cand))
                .groupBy(F.col("__item").alias("item"))
                .agg(F.count(F.lit(1)).alias("count"))
                .filter(F.col("count") >= thresh)
                .withColumn("share", F.col("count") / F.lit(total)))


def stream_heavy_hitters(op: HeavyHitters, emit) -> "callable":
    """Streaming frequent items: returns a ``foreachBatch`` processor
    that folds each micro-batch's partition sketches into one running
    Misra–Gries summary (mergeable summaries, PODS 2012) and calls
    ``emit(snapshot, batch_id)`` with the current estimate —
    ``[(item, min_count, max_count), ...]`` for every item whose
    upper bound reaches ``minShare`` of the items seen so far.

    Bounds: a merged MG summary of capacity k satisfies
    ``w(x) <= count(x) <= w(x) + (n - Σw)/(k+1)`` — so ``min_count``
    is a certain floor, ``max_count`` a certain ceiling, and NO item
    above share 1/(k+1) is ever missing (the batch operator's exact
    recount is unavailable mid-stream; run ``op.transform`` over the
    accumulated store for the exact cut).

    Per micro-batch cost: one sketch pass over the batch (map-only,
    O(partitions·k) rows to the driver) plus an O(k) driver merge —
    state is a single dict of ≤ k counters regardless of stream
    length.
    """
    merged: dict = {}
    totals = {"n": 0}
    k = op._check_capacity()

    def process(batch_df, batch_id: int) -> None:
        partials, total = op.sketch_partials(batch_df)
        for item, w in partials:
            _mg_update(merged, item, w, k)
        totals["n"] += total
        n = totals["n"]
        err = (n - sum(merged.values())) // (k + 1)
        thresh = op.getMinShare() * n
        snapshot = sorted(
            (item, w, w + err) for item, w in merged.items()
            if w + err >= thresh)
        emit(snapshot, batch_id)

    return process


class CountMinSketch(AlgoOperator, HasInputCol):
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan,
    "An improved data stream summary: the count-min sketch and its
    applications", J. Algorithms 2005).

    A ``depth × width`` counter matrix: each of ``depth`` seeded hash
    rows maps an item to one column; a point query reads the MINIMUM
    of its ``depth`` cells. Guarantees (N = total items): never an
    underestimate, and ``est ≤ true + e/width · N`` with probability
    ``1 − e^-depth`` per query — a FIXED O(depth·width) memory budget
    for frequency over an unbounded key space, where an exact
    ``groupBy`` would shuffle the whole vocabulary.

    Spark shape: the build is pure JVM — each row explodes to its
    ``depth`` (row, xxhash64 % width) cells and ONE partial-aggregated
    ``groupBy`` sums them, so the shuffle carries at most
    ``partitions · depth · width`` pre-combined cells, never the raw
    items; the O(depth·width) matrix collects to the driver. Sketches
    are linearly mergeable (element-wise sum — Agarwal et al., PODS
    2012), which is what the streaming twin folds across micro-batches.
    ``transform`` appends each row's point estimate via one broadcast
    map-only Arrow pass.
    """

    depth = Param(Params._dummy(), "depth", "hash rows (error prob e^-d)",
                  TypeConverters.toInt)
    width = Param(Params._dummy(), "width",
                  "columns per row (error e/w per item)",
                  TypeConverters.toInt)
    seed = Param(Params._dummy(), "seed", "hash seed",
                 TypeConverters.toInt)

    _state = ("_matrix", "_total")

    _defaults = dict(inputCol="item", depth=5, width=2048, seed=17)

    def __init__(self):
        super().__init__()
        self._matrix = None   # list[depth] of list[width] ints
        self._total = 0

    def _cells(self, df: DataFrame) -> DataFrame:
        d, w = self.getDepth(), self.getWidth()
        s = self.getSeed()
        item = F.col(self.getInputCol()).cast("string")
        pairs = F.array(*[
            F.struct(F.lit(i).alias("r"),
                     F.pmod(F.xxhash64(F.lit(s + i), item), F.lit(w))
                     .alias("c"))
            for i in range(d)])
        return (df.filter(item.isNotNull())
                .select(F.explode(pairs).alias("p"))
                .groupBy(F.col("p.r").alias("r"), F.col("p.c").alias("c"))
                .agg(F.count(F.lit(1)).alias("cnt")))

    def build(self, df: DataFrame) -> "CountMinSketch":
        import numpy as np

        d, w = self.getDepth(), self.getWidth()
        M = np.zeros((d, w), dtype=np.int64)
        for row in self._cells(df).collect():
            M[row["r"], row["c"]] = row["cnt"]
        self._matrix = M.tolist()
        self._total = int(M[0].sum()) if d else 0
        return self

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        """Fold another sketch (same depth/width/seed) into this one —
        CMS is a linear sketch, so the merged matrix answers queries
        over the UNION of both inputs."""
        import numpy as np

        if (other.getDepth() != self.getDepth()
                or other.getWidth() != self.getWidth()
                or other.getSeed() != self.getSeed()):
            raise ValueError("can only merge sketches with identical "
                             "depth/width/seed")
        if other._matrix is None:
            return self
        if self._matrix is None:
            self._matrix, self._total = other._matrix, other._total
            return self
        self._matrix = (np.asarray(self._matrix)
                        + np.asarray(other._matrix)).tolist()
        self._total += other._total
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Append ``cms_est`` — the point estimate for each row's item
        (NULL items get NULL). One broadcast map-only Arrow pass."""
        import numpy as np

        if self._matrix is None:
            raise ValueError("build() the sketch first")
        M = np.asarray(self._matrix)
        d, w = M.shape
        s = self.getSeed()
        item = F.col(self.getInputCol()).cast("string")
        # reuse Spark's own xxhash64 so estimate and build hash alike:
        # the d column indices are computed JVM-side, the gather+min in
        # one Arrow pass over the broadcast matrix
        idx = F.array(*[
            F.pmod(F.xxhash64(F.lit(s + i), item), F.lit(w))
            for i in range(d)])

        @F.pandas_udf("long")
        def gather_min(ix: pd.Series) -> pd.Series:
            out = np.empty(len(ix), dtype=np.int64)
            for n, cols in enumerate(ix):
                if cols is None:
                    out[n] = -1
                else:
                    out[n] = min(M[i, c] for i, c in enumerate(cols))
            return pd.Series(out)

        est = F.when(item.isNotNull(), gather_min(idx))
        return df.withColumn("cms_est", est)


def stream_count_min(op: CountMinSketch, emit) -> "callable":
    """Streaming frequency sketch: a ``foreachBatch`` processor that
    builds each micro-batch's CMS with the batch operator's JVM cell
    pass and folds it into one running matrix (linear merge), then
    calls ``emit(sketch, batch_id)`` with the running operator — call
    ``sketch.transform`` (or read ``sketch._matrix``) for estimates
    over everything seen so far. State is O(depth·width) regardless of
    stream length or key cardinality."""
    merged = (CountMinSketch()
              .setInputCol(op.getInputCol())
              .setDepth(op.getDepth())
              .setWidth(op.getWidth())
              .setSeed(op.getSeed()))

    def process(batch_df, batch_id: int) -> None:
        batch = (CountMinSketch()
                 .setInputCol(op.getInputCol())
                 .setDepth(op.getDepth())
                 .setWidth(op.getWidth())
                 .setSeed(op.getSeed())
                 .build(batch_df))
        merged.merge(batch)
        emit(merged, batch_id)

    return process


class SketchOverlapEstimator(AlgoOperator):
    """Set-overlap audit between two slices of a table via HLL++
    inclusion–exclusion: |A∩B| ≈ |A| + |B| − |A∪B|, with every
    cardinality a fixed-size sketch — the way you ask "how many users
    appear in BOTH datasets" over 100 TB without shuffling a distinct
    pair per user (exact distinct-intersection carries the full key
    set through the shuffle; three HLL sketches carry O(1/rsd²) each).

    ``evaluate(df)`` returns ONE row::

        n_a, n_b         approx distinct keys in each slice
        n_union          approx distinct keys in A ∪ B
        n_intersect      max(0, n_a + n_b − n_union)
        jaccard          n_intersect / n_union (NULL when union empty)

    All three sketches fold in the SAME single aggregation pass
    (conditional inputs), so the data is scanned once and nothing
    data-sized shuffles. ``error_report(df)`` additionally computes
    the exact counterparts in the same pass — the basis of the
    violations-only driver gate pinning the rsd contract.
    """

    keyCol = Param(Params._dummy(), "keyCol",
                   "identity column to intersect", TypeConverters.toString)
    labelCol = Param(Params._dummy(), "labelCol",
                     "slice label column", TypeConverters.toString)
    labelA = Param(Params._dummy(), "labelA", "label of slice A",
                   TypeConverters.toString)
    labelB = Param(Params._dummy(), "labelB", "label of slice B",
                   TypeConverters.toString)
    relativeSD = Param(Params._dummy(), "relativeSD",
                       "HLL++ relative standard deviation",
                       TypeConverters.toFloat)

    _defaults = dict(keyCol="key", labelCol="label",
                     relativeSD=0.02)

    def setLabels(self, a: str, b: str):
        if a == b:
            raise ValueError("labelA and labelB must differ")
        return self._set(labelA=a, labelB=b)

    def _slices(self, df: DataFrame):
        if (not self.isDefined(self.labelA)
                or not self.isDefined(self.labelB)):
            raise ValueError("setLabels(a, b) is required")
        a = self.getOrDefault(self.labelA)
        b = self.getOrDefault(self.labelB)
        k = F.col(self.getOrDefault(self.keyCol))
        lbl = F.col(self.getOrDefault(self.labelCol)).cast("string")
        base = df.filter(k.isNotNull() & lbl.isin(a, b))
        return base, F.when(lbl == a, k), F.when(lbl == b, k), k

    def evaluate(self, df: DataFrame) -> DataFrame:
        base, ka, kb, k = self._slices(df)
        rsd = self.getOrDefault(self.relativeSD)
        out = base.agg(
            F.approx_count_distinct(ka, rsd).alias("n_a"),
            F.approx_count_distinct(kb, rsd).alias("n_b"),
            F.approx_count_distinct(k, rsd).alias("n_union"))
        inter = F.greatest(
            F.lit(0).cast("bigint"),
            F.col("n_a") + F.col("n_b") - F.col("n_union"))
        return out.select(
            "n_a", "n_b", "n_union", inter.alias("n_intersect"),
            F.when(F.col("n_union") > 0,
                   inter.cast("double") / F.col("n_union"))
            .alias("jaccard"))

    def error_report(self, df: DataFrame) -> DataFrame:
        """Approx + exact side by side from ONE pass: (n_*_approx,
        n_*_exact, rel_err per leg, intersect_rel_err)."""
        base, ka, kb, k = self._slices(df)
        rsd = self.getOrDefault(self.relativeSD)
        out = base.agg(
            F.approx_count_distinct(ka, rsd).alias("a_approx"),
            F.approx_count_distinct(kb, rsd).alias("b_approx"),
            F.approx_count_distinct(k, rsd).alias("u_approx"),
            F.count_distinct(ka).alias("a_exact"),
            F.count_distinct(kb).alias("b_exact"),
            F.count_distinct(k).alias("u_exact"))
        i_approx = F.greatest(
            F.lit(0).cast("bigint"),
            F.col("a_approx") + F.col("b_approx") - F.col("u_approx"))
        i_exact = (F.col("a_exact") + F.col("b_exact")
                   - F.col("u_exact"))

        def rel(est, ex):
            return (F.abs(est - ex).cast("double")
                    / F.greatest(ex, F.lit(1)))

        return out.select(
            "a_approx", "a_exact", "b_approx", "b_exact",
            "u_approx", "u_exact",
            i_approx.alias("i_approx"), i_exact.alias("i_exact"),
            rel(F.col("a_approx"), F.col("a_exact")).alias("a_rel_err"),
            rel(F.col("b_approx"), F.col("b_exact")).alias("b_rel_err"),
            rel(F.col("u_approx"), F.col("u_exact")).alias("u_rel_err"),
            rel(i_approx, i_exact).alias("i_rel_err"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class BloomBitset(Params):
    """The Bloom-filter kernel of :class:`~flink_ml__spark.functions.
    dedup.BloomCorpusDeduplicator` and :class:`~flink_ml__spark.
    functions.joins.BloomJoinFilter`: a ``numBits``-bit filter over
    md5-hex key fingerprints, ``numHashes`` positions per key from the
    Kirsch–Mitzenmacher double hash ``pos_i = (h1 + i·h2) mod m`` with
    ``h1 = hex[0:15]``, ``h2 = hex[15:30]``. Positions derive only from
    the hex, so a SQL oracle replays the exact set, false positives
    included. NULL fingerprints are never added and never match.

    ``_fit_bits`` ORs per-batch partial bitsets built in one
    ``mapInPandas`` pass (the driver merge collects O(batches·m/8)
    bytes); ``_might_contain`` probes them in a map-only Arrow pass with
    the bitset broadcast once per fitted filter. The bitset is the
    fitted state ``_bits``; each operator names it in its ``_state``.
    """

    numBits = Param(Params._dummy(), "numBits",
                    "bloom filter size in bits (m)", TypeConverters.toInt)
    numHashes = Param(Params._dummy(), "numHashes",
                      "probes per key (k)", TypeConverters.toInt)

    def __init__(self):
        super().__init__()
        self._bits: bytes | None = None
        self._bc = None    # cached SparkContext broadcast of the bitset

    def _fit_bits(self, fp: DataFrame) -> None:
        """Fold the one md5-hex column of ``fp`` into ``_bits``."""
        import numpy as np

        m, k = self.getNumBits(), self.getNumHashes()
        nbytes = (m + 7) // 8

        def partial(batches):
            bits = np.zeros(nbytes, dtype=np.uint8)
            seen = False
            for pdf in batches:
                for s in pdf.iloc[:, 0]:
                    if s is None:
                        continue
                    h1, h2 = int(s[:15], 16), int(s[15:30], 16)
                    for i in range(k):
                        p = (h1 + i * h2) % m
                        bits[p >> 3] |= 1 << (p & 7)
                    seen = True
            if seen:
                yield pd.DataFrame({"b": [bits.tobytes()]})

        acc = np.zeros(nbytes, dtype=np.uint8)
        for row in fp.mapInPandas(partial, "b binary").collect():
            acc |= np.frombuffer(row["b"], dtype=np.uint8)
        self._bits = acc.tobytes()
        if self._bc is not None:       # refit invalidates the broadcast
            self._bc.unpersist()
            self._bc = None

    def _might_contain(self, spark, fp: Column) -> Column:
        """Boolean column: the md5-hex ``fp`` might be in the filter
        (false for NULL). One broadcast per fitted bitset: per-call
        broadcasts of the MB..GB-sized filter would accumulate for the
        app lifetime (the per-micro-batch foreachBatch shape hits this
        hard)."""
        import numpy as np

        m, k = self.getNumBits(), self.getNumHashes()
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self._bits)
        bc = self._bc

        @F.pandas_udf("boolean")
        def might_contain(fps: pd.Series) -> pd.Series:
            bits = np.frombuffer(bc.value, dtype=np.uint8)
            out = []
            for s in fps:
                if s is None:
                    out.append(False)
                    continue
                h1, h2 = int(s[:15], 16), int(s[15:30], 16)
                hit = True
                for i in range(k):
                    p = (h1 + i * h2) % m
                    if not (bits[p >> 3] >> (p & 7)) & 1:
                        hit = False
                        break
                out.append(hit)
            return pd.Series(out)

        return might_contain(fp)
