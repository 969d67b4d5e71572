"""Apriori frequent itemsets + association rules, Spark-first.

Reimplements ``/root/reference/src/main/java/cn/swust/algorithms/apriori/
Apriori.java:29-366`` with its exact (nonstandard) rule semantics
(``Apriori.java:236-267``):

* itemsets are ORDER-SENSITIVE sequences in basket order (the reference
  keys counts by ``List<String>``), enumerated as all non-empty ordered
  subsequences of each basket (``Apriori.java:292-317``)
* ``support(S) = count(S) / N``
* a rule exists for every split of a frequent itemset S into non-empty
  (prefix P, suffix Q = S − P) where BOTH P and Q are frequent;
  ``confidence = count(S) / count(Q)``  (divides by the SUFFIX count)
  ``lift = confidence / support(P)``    (relative to the PREFIX support)
  output row: itemSet = P ++ Q, count(S), support(S), confidence, lift,
  prefix = P, suffix = Q
* frequent 1-itemsets are emitted with confidence = support, lift = 1.0
  and empty prefix/suffix (``Apriori.java:100-106``); the final filter
  keeps ``confidence >= minConfidence AND lift >= lift``
  (``Apriori.java:184``)

Spark plan: basket → bitmask subset explode (built-in ``sequence`` +
higher-order ``filter`` with index — pure codegen, no UDF) → one
``groupBy(itemset).count()`` shuffle → support filter → split explode of
the (much smaller) frequent-itemset table → two joins back to it for the
suffix count and prefix support (AQE broadcasts them when small). The
reference instead runs a Flink bounded iteration that discovers rules for
size-n itemsets in round n−1 (``Apriori.java:115-154``); the closure here
computes all sizes at once — same fixpoint, no iteration.

The 2^n per-basket explosion is bounded by ``maxBasketSize`` (guard; the
reference has none and would OOM on a long basket — SURVEY §4 hard part a).
``maxIter`` bounds the rule itemset size exactly as the reference's
round-limit does (size ≤ maxIter + 1).
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_ml__spark.base import AlgoOperator, HasInputCols, HasMaxIter


class AprioriParams(HasInputCols, HasMaxIter):
    """``AprioriParams.java:8-50``."""

    minSupport = Param(Params._dummy(), "minSupport",
                       "minimum support threshold",
                       typeConverter=TypeConverters.toFloat)
    minConfidence = Param(Params._dummy(), "minConfidence",
                          "minimum confidence threshold",
                          typeConverter=TypeConverters.toFloat)
    lift = Param(Params._dummy(), "lift", "minimum lift threshold",
                 typeConverter=TypeConverters.toFloat)
    # Deliberate deviation from the reference: ``String.split`` treats
    # the separator as a Java REGEX (``Apriori.java`` basket parsing),
    # so "|" or "." there split on every character; here the separator
    # is matched LITERALLY (re.escape) — safer, and identical for plain
    # separators like the "/" the reference's own tests use. See
    # PARITY.md.
    itemSeparator = Param(Params._dummy(), "itemSeparator",
                          "separator between items in the basket string "
                          "(matched literally, not as a regex)",
                          typeConverter=TypeConverters.toString)
    maxBasketSize = Param(Params._dummy(), "maxBasketSize",
                          "guard against the 2^n subset explosion",
                          typeConverter=TypeConverters.toInt)

    _defaults = dict(minSupport=0.5, minConfidence=0.5, lift=1.0,
                     itemSeparator=None, maxBasketSize=16)


def _subset_expr(items_col: str, mask_col: str):
    """Ordered subsequence of ``items_col`` selected by the bits of
    ``mask_col`` — Catalyst higher-order function, no UDF."""
    return F.expr(
        f"filter({items_col}, (x, i) -> "
        f"(shiftright({mask_col}, cast(i as int)) & 1) = 1)")


class Apriori(AlgoOperator, AprioriParams):

    def _frequent(self, df: DataFrame) -> DataFrame:
        """The frequent-itemset table (itemSet, count, support),
        materialized once: basket split, the ``maxBasketSize`` guard and
        N in one stats pass, then the subset explode, the count and the
        support filter."""
        if self.getItemSeparator() is None:
            raise ValueError("itemSeparator must not be null")
        cols = self.getInputCols()
        if len(cols) != 1:
            raise ValueError("inputCols must be one")
        import re

        # repartition before the 2^n explode so subset generation
        # parallelizes even from a few-split source; the cache is
        # materialized by the stats job below (guard + N in ONE pass)
        shuffle_n = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        baskets = (df.select(
            F.split(F.col(cols[0]),
                    re.escape(self.getItemSeparator())).alias("__items"))
            .repartition(shuffle_n)
            .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            stats = baskets.agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.size("__items")).alias("max_size")).collect()[0]
            if (stats["max_size"] or 0) > self.getMaxBasketSize():
                raise ValueError(
                    f"basket exceeds maxBasketSize="
                    f"{self.getMaxBasketSize()}; raise the guard "
                    "explicitly if the 2^n explosion is intended")
            n_total = stats["n"]

            # all non-empty ordered subsequences via bitmask explode
            subsets = (baskets
                       .withColumn("__mask", F.explode(F.expr(
                           "sequence(1L, shiftleft(1L, size(__items)) - 1)")))
                       .select(_subset_expr("__items", "__mask")
                               .alias("itemSet")))
            counts = subsets.groupBy("itemSet").agg(
                F.count(F.lit(1)).cast("int").alias("count"))
            freq = (counts
                    .withColumn("support",
                                F.col("count") / F.lit(float(n_total)))
                    .filter(F.col("support") >= self.getMinSupport()))
            # materialize once: transform's three downstream references
            # (splits/fq/fp) share the frequent table. localCheckpoint (not
            # persist) so the blocks are released by the ContextCleaner as
            # soon as the caller drops the result — repeated calls don't
            # accumulate CacheManager entries until LRU eviction.
            return freq.localCheckpoint(eager=True)
        finally:
            baskets.unpersist()

    def transform(self, df: DataFrame) -> DataFrame:
        min_conf, lift_th = self.getMinConfidence(), self.getLift()
        max_size = self.getMaxIter() + 1
        freq = self._frequent(df)

        # rule candidates: split every frequent itemset (2 <= size <=
        # maxIter+1) into (prefix, suffix) by bitmask
        multi = freq.filter((F.size("itemSet") >= 2)
                            & (F.size("itemSet") <= max_size))
        splits = (multi
                  .withColumn("__mask", F.explode(F.expr(
                      "sequence(1L, shiftleft(1L, size(itemSet)) - 2)")))
                  .select(
                      "itemSet", "count", "support",
                      _subset_expr("itemSet", "__mask").alias("prefix"),
                      F.expr(
                          "filter(itemSet, (x, i) -> "
                          "(shiftright(__mask, cast(i as int)) & 1) = 0)"
                      ).alias("suffix")))
        fq = freq.select(F.col("itemSet").alias("suffix"),
                         F.col("count").alias("__suffix_count"))
        fp = freq.select(F.col("itemSet").alias("prefix"),
                         F.col("support").alias("__prefix_support"))
        rules = (splits
                 .join(fq, "suffix")
                 .join(fp, "prefix")
                 .select(
                     F.concat("prefix", "suffix").alias("itemSet"),
                     F.col("count"),
                     F.col("support"),
                     (F.col("count") / F.col("__suffix_count"))
                     .alias("confidence"),
                     ((F.col("count") / F.col("__suffix_count"))
                      / F.col("__prefix_support")).alias("lift"),
                     F.col("prefix"),
                     F.col("suffix")))

        singles = (freq.filter(F.size("itemSet") == 1)
                   .select(
                       "itemSet", "count", "support",
                       F.col("support").alias("confidence"),
                       F.lit(1.0).alias("lift"),
                       F.array().cast("array<string>").alias("prefix"),
                       F.array().cast("array<string>").alias("suffix")))

        out = (rules.unionByName(singles)
               .filter((F.col("confidence") >= min_conf)
                       & (F.col("lift") >= lift_th)))
        return out

    def frequent_itemsets(self, df: DataFrame) -> DataFrame:
        """(itemSet, count, support) table — the intermediate the
        reference exposes only implicitly."""
        return self._frequent(df)
