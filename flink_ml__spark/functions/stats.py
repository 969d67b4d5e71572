"""Dataset-statistics operators: categorical association, pairwise
numeric correlation, and basket co-occurrence PMI.

These are the "understand the table before you train on it" tools a
curation pipeline runs alongside :class:`CorpusProfiler` — which
string columns move together (label leakage / redundant features),
which numeric columns are collinear, and which items co-occur more
than chance (word2vec-style PMI association, recommender candidate
generation, market-basket complement of ``Apriori``'s rule mining).

All three are exact and fully ANSI-SQL-replayable; every heavy step
is a count aggregate over the data followed by arithmetic on the
aggregated (tiny) table.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator, HasInputCol


class CategoricalAssociation(AlgoOperator):
    """Chi-square, Cramér's V and mutual information between pairs of
    categorical columns.

    ``transform(df)`` returns one row per configured pair::

        pair         string   "x:y"
        n            bigint   rows with BOTH values non-null
        dx, dy       int      distinct levels observed per side
        chi2         double   Σ (o − e)² / e over the contingency table
        dof          int      (dx − 1) · (dy − 1)
        cramers_v    double   sqrt(chi2 / (n · min(dx−1, dy−1)))
        mutual_info  double   Σ p(x,y) · ln(p(x,y) / (p(x) p(y))), nats

    Rows where either side is NULL are excluded from that pair's
    table (standard contingency-table convention). Degenerate pairs
    (a constant column → dof 0) report chi2 0, cramers_v 0, mi 0.

    100 TB design: ONE exploded count aggregate builds every pair's
    contingency table in a single pass over the data (the
    ``DriftMonitor`` cell pattern); marginals, chi2/MI terms and the
    final per-pair fold all run on the aggregated table, which is
    O(Σ dx·dy) rows — never data-sized. No collects, no UDFs.
    """

    pairs = Param(Params._dummy(), "pairs",
                  "column pairs as 'x:y' strings",
                  TypeConverters.toListString)

    _defaults = dict(pairs=[])

    def setPairs(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        out = []
        for p in v:
            if isinstance(p, (list, tuple)):
                p = f"{p[0]}:{p[1]}"
            if p.count(":") != 1:
                raise ValueError(f"pair must be 'x:y', got {p!r}")
            out.append(p)
        return self._set(pairs=out)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        pairs = [tuple(p.split(":")) for p in
                 self.getOrDefault(self.pairs)]
        if not pairs:
            raise ValueError("no pairs set — call setPairs('x:y', ...)")

        # one pass: each row yields one (pair, x, y) cell per pair
        # with both sides non-null
        cells = F.explode(F.filter(F.array(*[
            F.when(F.col(x).isNotNull() & F.col(y).isNotNull(),
                   F.struct(F.lit(f"{x}:{y}").alias("pair"),
                            F.col(x).cast("string").alias("x"),
                            F.col(y).cast("string").alias("y")))
            for x, y in pairs]), lambda c: c.isNotNull()))
        # explode+partial-agg is the query's CPU (measured 1.2 s in the
        # 3 source splits at sf0.1); project the pair columns first so
        # the fan-out exchange moves only narrow strings, then spread
        # an under-split source across the session's cores (no-op on a
        # well-split lake scan). Counts are integers, so partitioning
        # cannot perturb the result.
        from flink_ml__spark.base import ensure_min_parallelism

        used = list(dict.fromkeys([c for xy in pairs for c in xy]))
        base = ensure_min_parallelism(df.select(*used))
        cont = (base.select(cells.alias("__c"))
                .groupBy(F.col("__c.pair").alias("pair"),
                         F.col("__c.x").alias("x"),
                         F.col("__c.y").alias("y"))
                .agg(F.count(F.lit(1)).alias("n_xy")))

        # marginals as windows over the aggregated (tiny) table
        n_x = F.sum("n_xy").over(Window.partitionBy("pair", "x"))
        n_y = F.sum("n_xy").over(Window.partitionBy("pair", "y"))
        n = F.sum("n_xy").over(Window.partitionBy("pair"))
        aug = cont.select(
            "pair", "x", "y", "n_xy",
            n_x.alias("n_x"), n_y.alias("n_y"), n.alias("n"))

        # the contingency table holds only OBSERVED cells; structural
        # zeros are handled by the identity Σ_all (o−e)²/e =
        # Σ_observed o²/e − n (zero cells contribute nothing to
        # o²/e, and Σe over ALL cells equals n). Counts cast to
        # double BEFORE multiplying — bigint products overflow long
        # at extreme row counts.
        o = F.col("n_xy").cast("double")
        chi_term = (o * o * F.col("n")
                    / (F.col("n_x").cast("double") * F.col("n_y")))
        mi_term = ((F.col("n_xy") / F.col("n"))
                   * F.log((o * F.col("n"))
                           / (F.col("n_x").cast("double")
                              * F.col("n_y"))))
        per_pair = (aug.groupBy("pair")
                    .agg(F.sum("n_xy").alias("n"),
                         F.countDistinct("x").cast("int").alias("dx"),
                         F.countDistinct("y").cast("int").alias("dy"),
                         # greatest(0): guard fp underflow of the
                         # subtraction for (near-)independent pairs
                         F.greatest(F.sum(chi_term) - F.sum("n_xy"),
                                    F.lit(0.0)).alias("chi2"),
                         F.sum(mi_term).alias("mutual_info")))
        dof = (F.col("dx") - 1) * (F.col("dy") - 1)
        v_den = (F.col("n")
                 * F.least(F.col("dx") - 1, F.col("dy") - 1))
        return per_pair.select(
            "pair", "n", "dx", "dy", "chi2",
            dof.alias("dof"),
            F.when(v_den > 0, F.sqrt(F.col("chi2") / v_den))
             .otherwise(F.lit(0.0)).alias("cramers_v"),
            "mutual_info")


class CorrelationMatrix(AlgoOperator):
    """Pairwise Pearson correlation over numeric columns.

    ``transform(df)`` returns one row per unordered pair (in the
    configured column order)::

        col_x, col_y   string
        n              bigint   rows with both values non-null
        corr           double   Pearson r (NULL when either side is
                                constant over the pairwise-complete
                                rows — 0/0, the SQL ``corr`` contract)

    Pairwise deletion per pair (the ``corr`` aggregate's built-in
    behavior), so different pairs may use different row subsets —
    same convention as pandas ``DataFrame.corr``.

    100 TB design: ONE aggregation computes all O(p²) correlations
    (each is a 6-accumulator streaming aggregate, map-side partial),
    then a single-row explode emits the pair rows. No shuffle of data
    beyond the scalar aggregate; driver/output traffic is O(p²).
    """

    inputCols = Param(Params._dummy(), "inputCols",
                      "numeric columns to correlate",
                      TypeConverters.toListString)

    _defaults = dict(inputCols=[])

    def setInputCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        if len(set(v)) != len(v):
            raise ValueError(f"duplicate columns in {list(v)}")
        return self._set(inputCols=list(v))

    def transform(self, df: DataFrame) -> DataFrame:
        cols = self.getOrDefault(self.inputCols)
        if len(cols) < 2:
            raise ValueError("need at least 2 columns — setInputCols")
        ps = [(a, b) for i, a in enumerate(cols)
              for b in cols[i + 1:]]
        aggs = []
        for i, (a, b) in enumerate(ps):
            both = F.col(a).isNotNull() & F.col(b).isNotNull()
            aggs.append(F.sum(both.cast("bigint")).alias(f"__n_{i}"))
            aggs.append(F.corr(a, b).alias(f"__c_{i}"))
        one = df.agg(*aggs)
        rows = F.explode(F.array(*[
            F.struct(F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
                     F.col(f"__n_{i}").alias("n"),
                     F.col(f"__c_{i}").alias("corr"))
            for i, (a, b) in enumerate(ps)]))
        return one.select(rows.alias("__r")).select("__r.*")


class SpearmanCorrelation(AlgoOperator):
    """Pairwise Spearman rank correlation — the robust companion to
    :class:`CorrelationMatrix` (monotone association, outlier-immune,
    scale-free; the screening statistic when features are heavy-tailed
    or only ordinally meaningful).

    ``transform(df)`` returns one row per unordered pair::

        col_x, col_y   string
        n              bigint   listwise-complete rows
        rho            double   Pearson r of the average ranks (the
                                tie-corrected Spearman ρ)

    LISTWISE deletion (rows with any NULL among the configured columns
    drop) — ranks must come from one consistent row set; the
    per-pair-complete variant would need O(p²) rank passes.

    100 TB design: average ranks are computed WITHOUT a data-sized
    window sort — per column, one ``groupBy(value)`` count, one
    running-sum window over the DISTINCT-VALUE table (O(distinct)
    rows, no payload), and one hash join back by value; then all
    O(p²) correlations fold in ONE aggregate over the rank columns.
    The distinct-value ordering is the irreducible part of exact
    Spearman; for continuous ultra-high-cardinality columns, compose
    with ``QuantileDiscretizer`` first (binned Spearman).
    """

    inputCols = Param(Params._dummy(), "inputCols",
                      "numeric columns to rank-correlate",
                      TypeConverters.toListString)

    _defaults = dict(inputCols=[])

    def setInputCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        if len(set(v)) != len(v):
            raise ValueError(f"duplicate columns in {list(v)}")
        return self._set(inputCols=list(v))

    def transform(self, df: DataFrame) -> DataFrame:
        from functools import reduce

        from pyspark.sql import Window

        cols = self.getOrDefault(self.inputCols)
        if len(cols) < 2:
            raise ValueError("need at least 2 columns — setInputCols")
        base = df.filter(reduce(lambda a, c: a & F.col(c).isNotNull(),
                                cols, F.lit(True))).select(*cols)
        out = base
        for c in cols:
            vc = (base.groupBy(F.col(c).alias("__v"))
                  .agg(F.count(F.lit(1)).alias("__c")))
            w = Window.orderBy("__v")
            ranks = vc.select(
                "__v",
                (F.sum("__c").over(w)
                 - (F.col("__c") - 1) / 2.0).alias(f"__r_{c}"))
            out = out.join(ranks.withColumnRenamed("__v", c), c)
        ps = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, (a, b) in enumerate(ps):
            aggs.append(F.corr(f"__r_{a}", f"__r_{b}").alias(f"__c_{i}"))
        one = out.agg(*aggs)
        rows = F.explode(F.array(*[
            F.struct(F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
                     F.col("__n").alias("n"),
                     (F.floor((F.col(f"__c_{i}")) * 1e6 + 0.5) / 1e6).alias("rho"))
            for i, (a, b) in enumerate(ps)]))
        return one.select(rows.alias("__r")).select("__r.*")


class CooccurrencePMI(AlgoOperator):
    """Pointwise mutual information of item pairs co-occurring in the
    same basket (order, session, document) — Church & Hanks 1990.

    ``transform(df)`` takes (``groupCol``, ``itemCol``) rows and
    returns, for each unordered item pair present in at least
    ``minCount`` baskets::

        item_a, item_b   item_a < item_b
        n_ab             baskets containing both
        n_a, n_b         baskets containing each
        pmi              ln( n_ab · N / (n_a · n_b) ),
                         N = total distinct baskets

    Presence is per-basket (duplicates of an item inside one basket
    count once). Positive PMI = the pair co-occurs more than
    independent-chance; the word2vec/GloVe-era association signal and
    the probabilistic complement of ``Apriori``'s support/confidence
    rules.

    100 TB design: baskets dedup to distinct (basket, item) with one
    shuffle; the pair join is a SELF-JOIN WITHIN basket keys, so its
    fan-out is Σ basket_size² — bounded for natural baskets (orders,
    sessions); ``maxBasketSize`` drops pathological baskets (a basket
    with 10⁶ items would emit 10¹² pairs) with the cap applied
    identically in the SQL oracle. Marginals are O(items) and join
    onto the O(pairs) aggregate, broadcast-able. N folds via a
    broadcast 1-row cross join — no driver collect.
    """

    groupCol = Param(Params._dummy(), "groupCol", "basket id column",
                     TypeConverters.toString)
    itemCol = Param(Params._dummy(), "itemCol", "item column",
                    TypeConverters.toString)
    minCount = Param(Params._dummy(), "minCount",
                     "minimum co-occurrence baskets",
                     TypeConverters.toInt)
    maxBasketSize = Param(Params._dummy(), "maxBasketSize",
                          "drop baskets with more distinct items",
                          TypeConverters.toInt)

    _defaults = dict(groupCol="basket", itemCol="item",
                     minCount=2, maxBasketSize=1000)

    def setMinCount(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"minCount must be >= 1, got {v}")
        return self._set(minCount=v)

    def setMaxBasketSize(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"maxBasketSize must be >= 2, got {v}")
        return self._set(maxBasketSize=v)

    def transform(self, df: DataFrame) -> DataFrame:
        g = self.getOrDefault(self.groupCol)
        it = self.getOrDefault(self.itemCol)
        mc = self.getOrDefault(self.minCount)
        mx = self.getOrDefault(self.maxBasketSize)

        from pyspark.sql import Window

        pres = (df.filter(F.col(g).isNotNull() & F.col(it).isNotNull())
                .select(F.col(g).alias("__g"), F.col(it).alias("__i"))
                .distinct())
        # basket-size cap: window count over the deduped table (same
        # partitioning as the dedup shuffle — no extra exchange)
        sz = F.count(F.lit(1)).over(Window.partitionBy("__g"))
        pres = (pres.withColumn("__sz", sz)
                .filter(F.col("__sz") <= mx).drop("__sz"))

        n_total = F.broadcast(
            pres.agg(F.countDistinct("__g").alias("__N")))
        marg = (pres.groupBy(F.col("__i").alias("__m"))
                .agg(F.count(F.lit(1)).alias("__n")))

        a = pres.select(F.col("__g"), F.col("__i").alias("item_a"))
        b = pres.select(F.col("__g"), F.col("__i").alias("item_b"))
        pair_counts = (a.join(b, "__g")
                       .filter(F.col("item_a") < F.col("item_b"))
                       .groupBy("item_a", "item_b")
                       .agg(F.count(F.lit(1)).alias("n_ab"))
                       .filter(F.col("n_ab") >= mc))

        out = (pair_counts
               .join(marg.withColumnRenamed("__m", "item_a")
                         .withColumnRenamed("__n", "n_a"), "item_a")
               .join(marg.withColumnRenamed("__m", "item_b")
                         .withColumnRenamed("__n", "n_b"), "item_b")
               .crossJoin(n_total))
        pmi = F.log((F.col("n_ab").cast("double") * F.col("__N"))
                    / (F.col("n_a").cast("double") * F.col("n_b")))
        return out.select("item_a", "item_b", "n_ab", "n_a", "n_b",
                          pmi.alias("pmi"))


class ABTestAnalyzer(AlgoOperator):
    """Two-sample experiment readout — Welch's unequal-variance t
    statistic (Welch 1947) on a numeric metric between every variant
    and a designated control. One row per non-control variant::

        variant      string
        n_c, n_v     bigint   control / variant sample sizes
        mean_c, mean_v   double
        lift         double   mean_v − mean_c (absolute)
        lift_pct     double   lift / mean_c (NULL when mean_c = 0)
        t_stat       double   Welch t (NULL when either sample-size
                              < 2 or both variances are 0)
        dof          double   Welch–Satterthwaite degrees of freedom
                              (same NULL rule)
        significant  boolean  |t| > 1.96 — the z-approximation call
                              at the sample sizes A/B tests run at

    The statistic (not a p-value) is emitted: t and dof are exact
    closed-form SQL arithmetic on per-group moments, portable to any
    engine, while a p-value needs an incomplete-beta routine neither
    Spark nor most warehouses expose — callers with scipy get it as
    ``2 * stats.t.sf(abs(t), dof)``.

    For a 0/1 conversion metric the same arithmetic IS the unpooled
    two-proportion z-test (variance p(1−p) falls out of the sample
    variance), so one operator covers both the revenue and the
    conversion readout.

    100 TB design: ONE groupBy(variant) computing count/avg/variance
    — a single map-side-combinable aggregate pass — then a broadcast
    join of the O(variants) moment table against its control row.
    """

    variantCol = Param(Params._dummy(), "variantCol",
                       "experiment-arm column", TypeConverters.toString)
    metricCol = Param(Params._dummy(), "metricCol",
                      "numeric outcome column", TypeConverters.toString)
    control = Param(Params._dummy(), "control",
                    "variant value treated as the control arm",
                    TypeConverters.toString)

    _defaults = dict(variantCol="variant", metricCol="metric",
                     control="control")

    def evaluate(self, df: DataFrame) -> DataFrame:
        vc = self.getOrDefault(self.variantCol)
        mc = self.getOrDefault(self.metricCol)
        ctl = self.getOrDefault(self.control)
        v = F.col(vc).cast("string")
        m = F.col(mc).cast("double")
        g = (df.filter(v.isNotNull() & m.isNotNull())
               .groupBy(v.alias("__v"))
               .agg(F.count(F.lit(1)).alias("__n"),
                    F.avg(m).alias("__mean"),
                    # sample variance; var_samp is NULL at n=1 → 0 so
                    # the guards below see "no variance evidence"
                    F.coalesce(F.var_samp(m), F.lit(0.0)).alias("__var")))
        c = (g.filter(F.col("__v") == ctl)
              .select(F.col("__n").alias("n_c"),
                      F.col("__mean").alias("mean_c"),
                      F.col("__var").alias("__var_c")))
        t = (g.filter(F.col("__v") != ctl)
              .select(F.col("__v").alias("variant"),
                      F.col("__n").alias("n_v"),
                      F.col("__mean").alias("mean_v"),
                      F.col("__var").alias("__var_v")))
        out = t.crossJoin(F.broadcast(c))
        se2 = (F.col("__var_c") / F.col("n_c")
               + F.col("__var_v") / F.col("n_v"))
        ok = ((F.col("n_c") >= 2) & (F.col("n_v") >= 2)
              & (se2 > 0))
        lift = F.col("mean_v") - F.col("mean_c")
        t_stat = F.when(ok, lift / F.sqrt(se2))
        dof = F.when(ok, se2 * se2 / (
            F.pow(F.col("__var_c") / F.col("n_c"), 2) / (F.col("n_c") - 1)
            + F.pow(F.col("__var_v") / F.col("n_v"), 2) / (F.col("n_v") - 1)))
        return (out.withColumn("lift", lift)
                .withColumn("lift_pct",
                            F.when(F.col("mean_c") != 0,
                                   lift / F.abs(F.col("mean_c"))))
                .withColumn("t_stat", t_stat)
                .withColumn("dof", dof)
                .withColumn("significant",
                            F.coalesce(F.abs(t_stat) > 1.96, F.lit(False)))
                .drop("__var_c", "__var_v")
                .select("variant", "n_c", "n_v", "mean_c", "mean_v",
                        "lift", "lift_pct", "t_stat", "dof",
                        "significant"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class BenfordProfiler(AlgoOperator):
    """First-significant-digit distribution vs Benford's law — the
    classic screen for fabricated or truncated numeric feeds (Nigrini
    1996): naturally-occurring multi-scale magnitudes follow
    P(d) = log10(1 + 1/d); synthetic fills, capped sensors and
    unit-constant columns don't.

    ``transform(df)`` returns 9 rows (digits 1–9)::

        digit         int
        n             bigint   values whose first significant digit
                               is ``digit``
        observed      double   n / total
        expected      double   log10(1 + 1/digit)
        chi2_term     double   total · (observed − expected)² / expected
                               (sums to the 8-dof Pearson χ² across
                               the 9 rows — compare to 15.51 at 5%)

    Zero/NULL values carry no leading digit and are excluded; signs
    are dropped (|x|). The first significant digit is extracted
    arithmetically — ``floor(|x| / 10^floor(log10 |x|))`` — not by
    string formatting, so scientific-notation rendering can't skew it.

    100 TB design: one map-only digit projection + one 9-group
    aggregate with map-side combine; the expected-law comparison is
    arithmetic on the 9-row table. Zero shuffles beyond the aggregate.
    """

    inputCol = Param(Params._dummy(), "inputCol",
                     "numeric column to profile", TypeConverters.toString)

    _defaults = dict(inputCol="value")

    def transform(self, df: DataFrame) -> DataFrame:
        x = F.abs(F.col(self.getOrDefault(self.inputCol)).cast("double"))
        digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))) \
                 .cast("int")
        d = (df.filter(x.isNotNull() & (x > 0))
               .select(digit.alias("digit"))
               # guard fp edge: log10 rounding can yield 0 or 10 for
               # values like 9.9999...e±k; clamp into [1, 9]
               .select(F.greatest(F.least(F.col("digit"), F.lit(9)),
                                  F.lit(1)).alias("digit")))
        spark = df.sparkSession
        digits = spark.range(1, 10).select(F.col("id").cast("int")
                                           .alias("digit"))
        counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
        out = (digits.join(counts, "digit", "left").na.fill(0, ["n"])
               .crossJoin(F.broadcast(
                   counts.agg(F.coalesce(F.sum("n"), F.lit(0))
                              .alias("__total")))))
        obs = F.when(F.col("__total") > 0, F.col("n") / F.col("__total"))
        exp_ = F.log10(1 + 1 / F.col("digit").cast("double"))
        chi2 = F.when(F.col("__total") > 0,
                      F.col("__total") * F.pow(obs - exp_, 2) / exp_)
        return (out.withColumn("observed", obs)
                .withColumn("expected", exp_)
                .withColumn("chi2_term", chi2)
                .drop("__total").orderBy("digit"))



class _BinnedTwoSampleTest(AlgoOperator):
    """Shared machinery for the binned two-sample tests: one scan
    fixes the pooled [min, max]; a second scan produces the per-bin
    conditional counts for both groups (O(numBins) rows); the finisher
    runs on the collected bin table — O(numBins) driver work, the same
    shape as the binned AUC. No global sort at any scale; the binning
    cost is the documented approximation (error bounded by the largest
    in-bin mass, and EXACT whenever distinct values < bins)."""

    valueCol = Param(Params._dummy(), "valueCol",
                     "numeric sample column", TypeConverters.toString)
    groupCol = Param(Params._dummy(), "groupCol",
                     "group label column", TypeConverters.toString)
    groupA = Param(Params._dummy(), "groupA",
                   "label of sample A", TypeConverters.toString)
    groupB = Param(Params._dummy(), "groupB",
                   "label of sample B", TypeConverters.toString)
    numBins = Param(Params._dummy(), "numBins",
                    "value buckets for the binned statistic",
                    TypeConverters.toInt)

    _defaults = dict(valueCol="value", groupCol="group",
                     groupA="a", groupB="b", numBins=1024)

    def setGroups(self, a, b):
        return self._set(groupA=str(a), groupB=str(b))

    def setNumBins(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBins must be >= 2, got {v}")
        return self._set(numBins=v)

    def _bin_counts(self, df: DataFrame):
        """[(bin, count_a, count_b)] ascending, plus (n_a, n_b)."""
        vc = self.getOrDefault(self.valueCol)
        gc = self.getOrDefault(self.groupCol)
        ga, gb = self.getOrDefault(self.groupA), self.getOrDefault(self.groupB)
        bins = self.getOrDefault(self.numBins)

        x = F.col(vc).cast("double")
        g = F.col(gc).cast("string")
        d = (df.filter(x.isNotNull() & g.isin([ga, gb]))
             .select(x.alias("__x"), (g == ga).alias("__a")))
        lohi = d.agg(F.min("__x").alias("lo"),
                     F.max("__x").alias("hi")).collect()[0]
        if lohi["lo"] is None:
            raise ValueError("no non-null values in either sample")
        lo, hi = float(lohi["lo"]), float(lohi["hi"])
        span = hi - lo
        if span <= 0:
            bucket = F.lit(0)
        else:
            bucket = F.least(
                F.floor((F.col("__x") - F.lit(lo)) / F.lit(span) * bins)
                .cast("int"), F.lit(bins - 1))
        hist = (d.groupBy(bucket.alias("__b"))
                .agg(F.sum(F.col("__a").cast("long")).alias("ca"),
                     F.sum((~F.col("__a")).cast("long")).alias("cb"))
                .orderBy("__b").collect())
        na = sum(r["ca"] for r in hist)
        nb = sum(r["cb"] for r in hist)
        return hist, na, nb

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class KolmogorovSmirnovTest(_BinnedTwoSampleTest):
    """Binned two-sample Kolmogorov-Smirnov test.

    ``evaluate(df)`` returns ONE row::

        n_a, n_b    bigint   sample sizes (NULLs / other labels excluded)
        d_stat      double   max |ECDF_a - ECDF_b| over the bin edges
        p_value     double   Smirnov asymptotic 2·exp(−2·D²·nₐn_b/(nₐ+n_b))
                             (clamped to [0, 1]; NULL when a sample is
                             empty)

    The binned D is the exact D evaluated on the bin-edge grid — a
    lower bound whose error is at most the largest in-bin probability
    mass (≤ 1/numBins + skew), and exact when distinct values < bins.
    """

    def evaluate(self, df: DataFrame) -> DataFrame:
        hist, na, nb = self._bin_counts(df)
        spark = df.sparkSession
        d_stat, p = None, None
        if na > 0 and nb > 0:
            import math

            cum_a = cum_b = 0
            d_stat = 0.0
            for r in hist:
                cum_a += r["ca"]
                cum_b += r["cb"]
                d_stat = max(d_stat, abs(cum_a / na - cum_b / nb))
            ne = na * nb / (na + nb)
            p = min(1.0, max(0.0, 2.0 * math.exp(-2.0 * d_stat * d_stat * ne)))
        return spark.createDataFrame(
            [(int(na), int(nb), d_stat, p)],
            "n_a bigint, n_b bigint, d_stat double, p_value double")


class MannWhitneyUTest(_BinnedTwoSampleTest):
    """Binned two-sample Mann-Whitney U (Wilcoxon rank-sum) test.

    Values sharing a bin are treated as tied at the bin midrank (the
    standard tie convention, applied at bin granularity — exact when
    distinct values < bins). ``evaluate(df)`` returns ONE row::

        n_a, n_b     bigint
        u_stat       double   U of sample A (pairs won + half-ties)
        rank_sum_a   double   midrank sum of sample A
        z_stat       double   tie-corrected normal approximation
                              (NULL when σ = 0 — e.g. all values in
                              one bin — or a sample is empty)
        significant  boolean  |z| > 1.96 (two-sided 5%), false when z
                              is NULL

    Same two-scan + O(numBins) driver finish as the KS test.
    """

    def evaluate(self, df: DataFrame) -> DataFrame:
        hist, na, nb = self._bin_counts(df)
        spark = df.sparkSession
        u = rank_a = z = None
        if na > 0 and nb > 0:
            import math

            n = na + nb
            cum = 0
            rank_a = 0.0
            tie_term = 0.0
            for r in hist:
                c = r["ca"] + r["cb"]
                if c == 0:
                    continue
                midrank = cum + (c + 1) / 2.0
                rank_a += r["ca"] * midrank
                tie_term += c ** 3 - c
                cum += c
            u = rank_a - na * (na + 1) / 2.0
            mu = na * nb / 2.0
            var = (na * nb / 12.0) * ((n + 1) - tie_term / (n * (n - 1))) \
                if n > 1 else 0.0
            z = (u - mu) / math.sqrt(var) if var > 0 else None
        sig = bool(z is not None and abs(z) > 1.96)
        return spark.createDataFrame(
            [(int(na), int(nb), u, rank_a, z, sig)],
            "n_a bigint, n_b bigint, u_stat double, rank_sum_a double,"
            " z_stat double, significant boolean")


def _anova_readout() -> list:
    """F / df_between / df_within / η² over the columns ``k_groups``,
    ``n``, ``__sy`` (Σy), ``__syy`` (Σy²) and ``__ss_w`` (SS_within).
    :class:`AnovaFTest` reads them from one row per frame,
    ``stream_anova_monitor`` from one row per event-time window."""
    n = F.col("n").cast("double")
    ss_tot = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    ss_b = ss_tot - F.col("__ss_w")
    df_b = (F.col("k_groups") - 1).cast("bigint")
    df_w = (F.col("n") - F.col("k_groups")).cast("bigint")
    ms_b = F.when(df_b > 0, ss_b / df_b)
    ms_w = F.when(df_w > 0, F.col("__ss_w") / df_w)
    return [F.when(ms_w > 0, ms_b / ms_w).alias("f_stat"),
            df_b.alias("df_between"), df_w.alias("df_within"),
            F.when(ss_tot > 0, ss_b / ss_tot).alias("eta_sq")]


class AnovaFTest(AlgoOperator):
    """One-way ANOVA F readout: does a numeric metric's mean differ
    across the levels of a categorical column?

    ``evaluate(df)`` returns ONE row::

        k_groups     bigint   distinct non-null group labels observed
        n            bigint   rows with both value and group non-null
        f_stat       double   MS_between / MS_within (NULL when any
                              degree of freedom is ≤ 0 or MS_within=0)
        df_between   bigint   k − 1
        df_within    bigint   n − k
        eta_sq       double   SS_between / SS_total effect size

    Scale shape: ONE hash aggregation produces per-group (n, Σy, Σy²)
    — a group-cardinality-sized table (a model artifact, not data) —
    and a second 1-row reduce over it assembles the sums of squares
    via the Σy²−(Σy)²/n identity. No window, no sort, no second data
    scan.
    """

    valueCol = Param(Params._dummy(), "valueCol",
                     "numeric metric column", TypeConverters.toString)
    groupCol = Param(Params._dummy(), "groupCol",
                     "categorical factor column", TypeConverters.toString)

    _defaults = dict(valueCol="value", groupCol="group")

    def evaluate(self, df: DataFrame) -> DataFrame:
        y = F.col(self.getOrDefault(self.valueCol)).cast("double")
        g = F.col(self.getOrDefault(self.groupCol)).cast("string")
        per = (df.filter(y.isNotNull() & g.isNotNull())
               .groupBy(g.alias("__g"))
               .agg(F.count(y).alias("__n"), F.sum(y).alias("__s"),
                    F.sum(y * y).alias("__ss")))
        tot = per.agg(
            F.count(F.lit(1)).alias("k_groups"),
            F.sum("__n").alias("n"),
            F.sum("__s").alias("__sy"),
            F.sum("__ss").alias("__syy"),
            # SS_within = Σ_g (Σy²_g − (Σy_g)²/n_g)
            F.sum(F.col("__ss") - F.col("__s") * F.col("__s")
                  / F.col("__n")).alias("__ss_w"))
        return tot.select("k_groups", "n", *_anova_readout())

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class MutualInformationRanker(AlgoOperator):
    """Categorical feature ranking by mutual information with a label
    — the model-free feature-selection pass of tabular/feature-store
    pipelines (Cover & Thomas ch. 2; scikit-learn's
    ``mutual_info_score`` for the discrete-discrete case):

        MI(X; Y) = Σ_{x,y} p(x,y) · ln( p(x,y) / (p(x) p(y)) )

    ``transform(df)`` evaluates every column of ``inputCols`` against
    ``labelCol`` and returns one row per feature::

        feature    the column name
        n_rows     rows with both the feature and the label non-NULL
        n_values   distinct feature values observed
        mi         mutual information in nats (0 when n_rows is 0 is
                   impossible — such features emit no row)

    Values and labels compare as strings (numeric features should be
    binned first — :class:`~flink_ml__spark.functions.feature_gen.
    QuantileDiscretizer` composes). NULL feature or label rows drop
    per-feature (pairwise deletion).

    100 TB design: ONE pass melts every feature into (feature, value,
    label) rows map-side (explode of an F-wide struct array), one
    hash aggregation counts cells, and the marginals come from window
    sums over the feature's partition — no per-feature jobs, no
    joins, shuffle volume F × |cells|. Exact SQL replay.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "target column", TypeConverters.toString)
    inputCols = Param(Params._dummy(), "inputCols",
                      "categorical feature columns",
                      TypeConverters.toListString)

    _defaults = dict(labelCol="label")

    def setInputCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        if not cols:
            raise ValueError("inputCols must be non-empty")
        return self._set(inputCols=cols)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        cols = self.getOrDefault(self.inputCols)
        y = F.col(self.getOrDefault(self.labelCol)).cast("string")
        melted = (df.filter(y.isNotNull())
                  .select(y.alias("__y"), F.explode(F.array(*[
                      F.struct(F.lit(c).alias("feature"),
                               F.col(c).cast("string").alias("value"))
                      for c in cols])).alias("f"))
                  .select("f.feature", "f.value", "__y")
                  .filter(F.col("value").isNotNull()))
        cells = (melted.groupBy("feature", "value", "__y")
                 .agg(F.count(F.lit(1)).alias("__n")))
        by_f = Window.partitionBy("feature")
        n_tot = F.sum("__n").over(by_f)
        n_x = F.sum("__n").over(Window.partitionBy("feature", "value"))
        n_y = F.sum("__n").over(Window.partitionBy("feature", "__y"))
        term = (F.col("__n") / n_tot) * F.log(
            (F.col("__n") * n_tot) / (n_x * n_y))
        return (cells.withColumn("__t", term)
                .withColumn("__nt", n_tot)
                .groupBy("feature")
                .agg(F.first("__nt").alias("n_rows"),
                     F.count_distinct("value").alias("n_values"),
                     F.sum("__t").alias("mi")))


class CorrelationRanker(AlgoOperator):
    """Numeric feature ranking by Pearson correlation with a target —
    the numeric companion to :class:`MutualInformationRanker`
    (categoricals): one pass scores every candidate column's linear
    association with the label.

    ``transform(df)`` returns one row per feature::

        feature   the column name
        n_rows    rows where both the feature and label are non-NULL
                  (pairwise deletion)
        r         Pearson correlation, NULL when either side is
                  constant (zero variance)

    100 TB design: ONE map-side melt to (feature, x, y) rows and ONE
    hash aggregation of the five moment sums per feature — no
    per-feature jobs, no second pass; ``r`` assembles from the
    Σ-identities exactly as :class:`~flink_ml__spark.functions.
    evaluation.RegressionEvaluator` does, so the SQL oracle replays
    the same arithmetic.
    """

    labelCol = Param(Params._dummy(), "labelCol",
                     "numeric target column", TypeConverters.toString)
    inputCols = Param(Params._dummy(), "inputCols",
                      "numeric feature columns",
                      TypeConverters.toListString)

    _defaults = dict(labelCol="label")

    def setInputCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        if not cols:
            raise ValueError("inputCols must be non-empty")
        return self._set(inputCols=cols)

    def transform(self, df: DataFrame) -> DataFrame:
        cols = self.getOrDefault(self.inputCols)
        y = F.col(self.getOrDefault(self.labelCol)).cast("double")
        melted = (df.filter(y.isNotNull())
                  .select(y.alias("__y"), F.explode(F.array(*[
                      F.struct(F.lit(c).alias("feature"),
                               F.col(c).cast("double").alias("x"))
                      for c in cols])).alias("f"))
                  .select("f.feature", "f.x", "__y")
                  .filter(F.col("x").isNotNull()))
        x, yy = F.col("x"), F.col("__y")
        agg = (melted.groupBy("feature")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum(x).alias("__sx"), F.sum(yy).alias("__sy"),
                    F.sum(x * x).alias("__sxx"),
                    F.sum(yy * yy).alias("__syy"),
                    F.sum(x * yy).alias("__sxy")))
        n = F.col("n_rows").cast("double")
        cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
        vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
        vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
        r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
        return agg.select("feature", "n_rows", r.alias("r"))


class OtsuThreshold(AlgoOperator, HasInputCol):
    """Automatic threshold selection over a score distribution (Otsu,
    "A threshold selection method from gray-level histograms", IEEE
    TSMC 1979) — the curation use: pick the quality-score /
    perplexity / code-score cutoff that best separates the two modes
    of a bimodal corpus instead of hand-tuning it.

    One ``numBins``-bin histogram aggregate over the column (min/max
    from the same pass via a first tiny agg), then the maximizer of
    the between-class variance ``ω₀ω₁(μ₀−μ₁)²`` over bin cuts — an
    O(bins) prefix-sum scan expressed as ONE window over the histogram
    rows (bins default 256, so the window is bounded by construction,
    never by data). Ties break toward the LOWEST cut. Output one row::

        threshold      lower edge of the first bin ABOVE the cut
        between_var    the maximized between-class variance
        n_below / n_above
    """

    numBins = Param(Params._dummy(), "numBins", "histogram bins",
                    TypeConverters.toInt)

    _defaults = dict(inputCol="quality_score", numBins=256)

    def setNumBins(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBins must be >= 2, got {v}")
        return self._set(numBins=v)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        c = self.getInputCol()
        nb = self.getOrDefault(self.numBins)
        x = F.col(c).cast("double")
        base = df.filter(x.isNotNull()).select(x.alias("__x"))
        lohi = base.agg(F.min("__x").alias("__lo"),
                        F.max("__x").alias("__hi"))
        binned = (base.crossJoin(F.broadcast(lohi))
                  .select(
                      F.when(F.col("__hi") <= F.col("__lo"), F.lit(0))
                      .otherwise(F.least(
                          F.floor((F.col("__x") - F.col("__lo"))
                                  / (F.col("__hi") - F.col("__lo"))
                                  * nb).cast("int"),
                          F.lit(nb - 1))).alias("__b"),
                      F.col("__x"), F.col("__lo"), F.col("__hi")))
        hist = binned.groupBy("__b").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__x").alias("__s"),
            F.first("__lo").alias("__lo"),
            F.first("__hi").alias("__hi"))
        w = Window.orderBy("__b").rowsBetween(
            Window.unboundedPreceding, 0)
        tot_n = F.sum("__n").over(
            Window.orderBy("__b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing))
        tot_s = F.sum("__s").over(
            Window.orderBy("__b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing))
        cum_n = F.sum("__n").over(w)
        cum_s = F.sum("__s").over(w)
        scored = hist.select(
            "__b", "__lo", "__hi",
            cum_n.alias("__cn"), cum_s.alias("__cs"),
            tot_n.alias("__tn"), tot_s.alias("__ts"))
        w0 = F.col("__cn") / F.col("__tn")
        mu0 = F.col("__cs") / F.col("__cn")
        mu1 = ((F.col("__ts") - F.col("__cs"))
               / (F.col("__tn") - F.col("__cn")))
        bv = F.when(
            (F.col("__cn") > 0) & (F.col("__cn") < F.col("__tn")),
            w0 * (1 - w0) * (mu0 - mu1) * (mu0 - mu1))
        # rank on fixed-point int64 floor(bv/(hi-lo)^2 * 1e9 + 0.5): the
        # cumulatives cn/cs are exact integer-valued doubles, so bv is
        # bit-identical across engines and floor (unlike the engines'
        # differing round() impls) cannot flip the argmax. Normalizing by
        # (hi-lo)^2 bounds the key: bv = w0*w1*(mu0-mu1)^2 <= 0.25*(hi-lo)^2,
        # so the key is <= 2.5e8 at ANY input magnitude — the raw bv*1e9
        # form overflowed int64 (Spark floor(double) saturates silently,
        # DuckDB ::BIGINT raises) once inputs reached ~1e5. Rows reaching
        # the rank always have hi > lo (hi == lo puts everything in bin 0,
        # cn == tn, bv NULL, filtered).
        rng2 = ((F.col("__hi") - F.col("__lo"))
                * (F.col("__hi") - F.col("__lo")))
        ranked = (scored.withColumn("__bv", bv)
                  .filter(F.col("__bv").isNotNull())
                  .withColumn("__rk", F.row_number().over(
                      Window.orderBy(
                          F.floor(F.col("__bv") / rng2 * 1e9 + 0.5).desc(),
                          F.asc("__b")))))
        width = (F.col("__hi") - F.col("__lo")) / nb
        return (ranked.filter(F.col("__rk") == 1)
                .select(
                    (F.floor((F.col("__lo")
                              + (F.col("__b") + 1) * width) * 1e6 + 0.5)
                     / 1e6).alias("threshold"),
                    (F.floor(F.col("__bv") * 1e6 + 0.5) / 1e6)
                    .alias("between_var"),
                    F.col("__cn").alias("n_below"),
                    (F.col("__tn") - F.col("__cn")).alias("n_above")))


class GiniConcentration(AlgoOperator):
    """Gini coefficient of a weight column over groups — the corpus-
    composition inequality readout ("how concentrated are training
    tokens across domains?"; 0 = perfectly even, → 1 = one group owns
    everything). Standard companion to :class:`~flink_ml__spark.
    functions.curation.TemperatureMixer`: the mixer changes the
    weights, this measures how unequal they still are.

    Gini = Σᵢ (2i − n − 1)·wᵢ / (n·Σw) over weights sorted ascending —
    one aggregate to the per-group weights (O(groups) rows), one
    bounded window for the ranks, one final fold. Output one row
    (n_groups, total, gini)."""

    groupCol = Param(Params._dummy(), "groupCol", "group column",
                     TypeConverters.toString)
    weightCol = Param(Params._dummy(), "weightCol",
                      "per-row weight ('' counts rows)",
                      TypeConverters.toString)

    _defaults = dict(groupCol="lang", weightCol="")

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        g = self.getOrDefault(self.groupCol)
        wc = self.getOrDefault(self.weightCol)
        w = (F.count(F.lit(1)).cast("double") if not wc
             else F.sum(F.col(wc).cast("double")))
        per = df.groupBy(g).agg(w.alias("__w"))
        rk = F.row_number().over(
            Window.orderBy(F.asc("__w"), F.asc(g)))
        n_all = F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing))
        ranked = (per.withColumn("__i", rk)
                  .withColumn("__n", n_all))
        return ranked.agg(
            F.count(F.lit(1)).alias("n_groups"),
            (F.floor((F.sum("__w")) * 1e6 + 0.5) / 1e6).alias("total"),
            (F.floor((F.sum((2 * F.col("__i") - F.col("__n") - 1)
                      * F.col("__w"))
                / (F.count(F.lit(1)) * F.sum("__w"))) * 1e6 + 0.5) / 1e6).alias("gini"))


class _AggStat(AlgoOperator):
    """An evaluator whose whole statistic is ``_stats()``: its row
    filter, its aggregate list and its readout columns. ``evaluate(df)``
    runs them over the whole frame; the window monitors in
    ``streaming.online`` run the same three per event-time window."""

    def _stats(self):
        raise NotImplementedError

    def evaluate(self, df: DataFrame) -> DataFrame:
        cond, aggs, readout = self._stats()
        return df.filter(cond).agg(*aggs).select(*readout)

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class WelchTTest(_AggStat):
    """Welch's unequal-variance two-sample t-test: does a numeric
    metric's mean differ between two named groups?

    The moment-based companion to :class:`KolmogorovSmirnovTest` /
    :class:`MannWhitneyUTest` (distribution-shape tests) — Welch is
    the default mean test when group variances differ (Welch 1947;
    scipy's ``ttest_ind(equal_var=False)``).

    ``evaluate(df)`` returns ONE row::

        n_a, n_b       rows with non-null value in each group
        mean_a, mean_b group means
        t_stat         (mean_a − mean_b) / sqrt(s²_a/n_a + s²_b/n_b)
                       (NULL when either group has <2 rows or the
                       pooled standard error is 0)
        dof            Welch–Satterthwaite degrees of freedom
        significant    |t| > 1.96 (normal approximation, valid for
                       the large-n regime this engine targets)

    Scale shape: ONE conditional hash aggregation over the filtered
    two-group slice produces (n, Σy, Σy²) per side; everything else is
    arithmetic on a 1-row table. No window, no sort, no second scan.
    Sample variance uses the Σy²−(Σy)²/n identity, so the plan is a
    single partial-aggregate + final-aggregate pair at any data size.
    """

    valueCol = Param(Params._dummy(), "valueCol",
                     "numeric metric column", TypeConverters.toString)
    groupCol = Param(Params._dummy(), "groupCol",
                     "group label column", TypeConverters.toString)
    groupA = Param(Params._dummy(), "groupA",
                   "label of the first sample", TypeConverters.toString)
    groupB = Param(Params._dummy(), "groupB",
                   "label of the second sample", TypeConverters.toString)

    _defaults = dict(valueCol="value", groupCol="group")

    def setGroups(self, a: str, b: str):
        if a == b:
            raise ValueError("groupA and groupB must differ")
        return self._set(groupA=a, groupB=b)

    def _stats(self):
        """(row filter, aggregates, readout): ``evaluate`` runs them over
        the whole frame, ``stream_welch_monitor`` per event-time window.
        The variance is Σy²−(Σy)²/n over n − 1."""
        if (not self.isDefined(self.groupA)
                or not self.isDefined(self.groupB)):
            raise ValueError("setGroups(a, b) is required")
        a = self.getOrDefault(self.groupA)
        b = self.getOrDefault(self.groupB)
        y = F.col(self.getOrDefault(self.valueCol)).cast("double")
        g = F.col(self.getOrDefault(self.groupCol)).cast("string")

        def side(lbl, suf):
            v = F.when(g == lbl, y)
            return [F.count(v).alias(f"__n{suf}"),
                    F.sum(v).alias(f"__s{suf}"),
                    F.sum(v * v).alias(f"__ss{suf}")]

        def mean_var_n(suf):
            n = F.col(f"__n{suf}").cast("double")
            s = F.col(f"__s{suf}")
            # sample variance / n, via the sum-of-squares identity
            return n, F.when(n > 0, s / n), F.when(
                n > 1, (F.col(f"__ss{suf}") - s * s / n) / (n - 1) / n)

        na, ma, va_n = mean_var_n("a")
        nb, mb, vb_n = mean_var_n("b")
        se2 = va_n + vb_n
        ok = (na > 1) & (nb > 1) & (se2 > 0)
        t = F.when(ok, (ma - mb) / F.sqrt(se2))
        dof = F.when(ok, se2 * se2 / (va_n * va_n / (na - 1)
                                      + vb_n * vb_n / (nb - 1)))
        return (y.isNotNull() & g.isin(a, b),
                [*side(a, "a"), *side(b, "b")],
                [F.col("__na").alias("n_a"), F.col("__nb").alias("n_b"),
                 ma.alias("mean_a"), mb.alias("mean_b"),
                 t.alias("t_stat"), dof.alias("dof"),
                 F.coalesce(F.abs(t) > 1.96, F.lit(False))
                 .alias("significant")])


# cumulative Poisson(1) ladder for the deterministic bootstrap:
# P(X <= k) for k = 0..6; weights cap at 7 (P(X > 6) ~ 8.3e-5, the
# documented truncation both engines replay identically)
POISSON1_CDF = (0.36787944117144233, 0.7357588823428847,
                0.9196986029286058, 0.9810118431238462,
                0.9963401531726563, 0.9994058151824183,
                0.9999167588507119)


class PoissonBootstrapper(AlgoOperator):
    """Deterministic Poisson bootstrap for the mean of a metric —
    THE bootstrap that works on distributed data (Chamandy et al.
    2012, "Estimating uncertainty for massive data streams", Google):
    instead of resampling n rows with replacement (impossible without
    global coordination), each row enters replica b with weight
    ``w ~ Poisson(1)``, drawn DETERMINISTICALLY from a salted hash of
    the row id — so the resample is reproducible, shuffle-free and
    embarrassingly parallel.

    ``evaluate(df)`` returns ONE row::

        n           rows with non-null id and value
        mean        plain sample mean
        se          stddev of the replica means (bootstrap SE)
        ci_lo       2.5% percentile of replica means
        ci_hi       97.5% percentile of replica means
        b_replicas  replicas that drew a non-empty resample

    Mechanics: one ``portable_hash60`` per row, then per replica b the
    minhash-style LCG rescramble ``u_b = ((a_b·h + c_b) mod M31)/M31``
    feeds the truncated inverse-CDF ladder ``POISSON1_CDF`` (weights
    0..7). Replica means are conditional-sum pairs in ONE aggregation
    — B replicas add 2B aggregate expressions, NOT B data passes and
    NOT a B× explode. The replica-mean quantiles run on the B-length
    array exploded from the single result row (driver-sized).

    The coefficient schedule is seeded (``setSeed``) and exposed via
    :meth:`lcg_coefficients` so an external engine (the SQL oracle)
    can replay the exact resample.
    """

    idCol = Param(Params._dummy(), "idCol",
                  "stable row-identity column (hash input)",
                  TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol",
                     "numeric metric column", TypeConverters.toString)
    numReplicas = Param(Params._dummy(), "numReplicas",
                        "bootstrap replicas", TypeConverters.toInt)
    seed = Param(Params._dummy(), "seed", "coefficient-schedule seed",
                 TypeConverters.toInt)
    arrowPartials = Param(Params._dummy(), "arrowPartials",
                          "compute the per-replica weighted partial "
                          "sums in one vectorized Arrow pass instead "
                          "of a 2B-expression fused aggregation",
                          TypeConverters.toBoolean)

    _defaults = dict(idCol="id", valueCol="value",
                     numReplicas=100, seed=7, arrowPartials=True)

    def setNumReplicas(self, v):
        v = int(v)
        if not 2 <= v <= 1000:
            raise ValueError(f"numReplicas must be in [2, 1000], got {v}")
        return self._set(numReplicas=v)

    def setArrowPartials(self, v):
        return self._set(arrowPartials=bool(v))

    def lcg_coefficients(self) -> list[tuple[int, int]]:
        import random

        rng = random.Random(self.getOrDefault(self.seed))
        m = 2147483647  # Mersenne prime 2^31-1
        return [(rng.randrange(1, m), rng.randrange(0, m))
                for _ in range(self.getOrDefault(self.numReplicas))]

    @staticmethod
    def weight_expr(u):
        """Truncated Poisson(1) inverse CDF of a uniform column."""
        w = F.lit(7)
        for k in range(len(POISSON1_CDF) - 1, -1, -1):
            w = F.when(u < POISSON1_CDF[k], k).otherwise(w)
        return w

    def _arrow_partials(self, proj: DataFrame) -> DataFrame:
        """Same (n, mean, __wx{b}, __w{b}) single-row frame as the fused
        aggregation, via per-Arrow-batch numpy partials.

        Why: at B=64 the fused plan is 128 aggregate expressions whose
        per-replica LCG + 8-step CASE ladders compile into one enormous
        codegen stage — on a 100k-row input the 6.3 s cost is janino
        compilation, not data. Here the (rows × B) uniform matrix and
        the ladder (one vectorized ``searchsorted`` — identical
        semantics to :meth:`weight_expr`, since the ladder picks the
        first k with u < CDF[k]) run in numpy, each batch emitting ONE
        partial row of (n, Σx, Σw_b·x, Σw_b); the final aggregation is
        a plain 2B+2-column sum over ~#batches rows. The row hash stays
        JVM-side (``portable_hash60`` projection), so the resample is
        bit-identical to the fused path and the SQL oracle replays it
        unchanged. Int64 is safe: h, a < 2³¹ so a·h+c < 2⁶²."""
        import numpy as np

        from flink_ml__spark.functions.dedup import MERSENNE31

        coeffs = self.lcg_coefficients()
        a_arr = np.array([a for a, _ in coeffs], dtype=np.int64)
        c_arr = np.array([c for _, c in coeffs], dtype=np.int64)
        cdf = np.array(POISSON1_CDF, dtype=np.float64)
        B = len(coeffs)
        cols = ["n", "sx"]
        for b in range(B):
            cols += [f"wx{b}", f"w{b}"]
        schema = ("n long, sx double, " + ", ".join(
            f"wx{b} double, w{b} double" for b in range(B)))

        def partials(batches):
            import pandas as pd

            for pdf in batches:
                hv = pdf["__h"].to_numpy(np.int64)
                xv = pdf["__x"].to_numpy(np.float64)
                u = ((hv[:, None] * a_arr[None, :] + c_arr[None, :])
                     % MERSENNE31) / float(MERSENNE31)
                w = np.searchsorted(cdf, u.ravel(),
                                    side="right").reshape(u.shape)
                w = w.astype(np.float64)
                row = [len(xv), float(xv.sum())]
                wx = (w * xv[:, None]).sum(axis=0)
                ws = w.sum(axis=0)
                for b in range(B):
                    row.append(float(wx[b]))
                    row.append(float(ws[b]))
                yield pd.DataFrame([row], columns=cols)

        parts = proj.mapInPandas(partials, schema)
        aggs = [F.sum("n").cast("long").alias("n"),
                (F.sum("sx") / F.sum("n")).alias("mean")]
        for b in range(B):
            aggs.append(F.sum(f"wx{b}").alias(f"__wx{b}"))
            aggs.append(F.sum(f"w{b}").alias(f"__w{b}"))
        return parts.agg(*aggs)

    def evaluate(self, df: DataFrame) -> DataFrame:
        from flink_ml__spark.functions.dedup import (MERSENNE31,
                                                     portable_hash60)

        x = F.col(self.getOrDefault(self.valueCol)).cast("double")
        rid = F.col(self.getOrDefault(self.idCol)).cast("string")
        h = (portable_hash60(F.concat(rid, F.lit(":boot:"),
                                      F.lit(str(self.getOrDefault(
                                          self.seed)))))
             % MERSENNE31)
        # materialize the md5-derived hash ONCE as a column: Catalyst
        # does no CSE across aggregate expressions, so referencing `h`
        # from 2B sums would recompute the md5 2B times per row (the
        # HashedTfEmbedder lesson, SCALE.md r08)
        proj = (df.filter(x.isNotNull() & rid.isNotNull())
                .select(x.alias("__x"), h.alias("__h")))
        hcol, xcol = F.col("__h"), F.col("__x")
        B = self.getOrDefault(self.numReplicas)
        if self.getOrDefault(self.arrowPartials):
            base = self._arrow_partials(proj)
        else:
            aggs = [F.count(F.lit(1)).alias("n"),
                    F.avg(xcol).alias("mean")]
            for b, (a, c) in enumerate(self.lcg_coefficients()):
                u = ((F.lit(a) * hcol + F.lit(c)) % MERSENNE31) \
                    / F.lit(float(MERSENNE31))
                w = self.weight_expr(u).cast("double")
                aggs.append(F.sum(w * xcol).alias(f"__wx{b}"))
                aggs.append(F.sum(w).alias(f"__w{b}"))
            base = proj.agg(*aggs)
        means = F.array(*[
            F.when(F.col(f"__w{b}") > 0,
                   F.col(f"__wx{b}") / F.col(f"__w{b}"))
            for b in range(B)])
        exploded = (base.select("n", "mean",
                                F.explode(means).alias("__m"))
                    .filter(F.col("__m").isNotNull()))
        return exploded.groupBy("n", "mean").agg(
            F.count(F.lit(1)).alias("b_replicas"),
            F.when(F.count(F.lit(1)) > 1, F.stddev_samp("__m"))
            .alias("se"),
            F.percentile(F.col("__m"), F.lit(0.025)).alias("ci_lo"),
            F.percentile(F.col("__m"), F.lit(0.975)).alias("ci_hi")
        ).select("n", "mean", "se", "ci_lo", "ci_hi", "b_replicas")

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class CupedAdjuster(AlgoOperator):
    """CUPED variance reduction for A/B experiments (Deng, Xu, Kohavi
    & Walker, WSDM 2013): adjust each unit's metric with its
    PRE-EXPERIMENT covariate, ``ŷ = y − θ(x − x̄)`` with
    ``θ = cov(x,y)/var(x)``, shrinking metric variance by the squared
    correlation — the standard way to make experiment readouts
    converge days sooner at zero bias (the covariate predates
    assignment, so both variants shift identically in expectation).

    Input: ONE ROW PER UNIT with the experiment metric ``metricCol``,
    the pre-period covariate ``covariateCol`` and the variant label.

    ``evaluate(df)`` returns ONE row::

        n_a, n_b        units per variant
        theta           pooled cov(x,y) / var(x) (NULL if var(x)=0)
        mean_a, mean_b  raw metric means
        diff_raw        mean_a − mean_b
        diff_adj        diff_raw − θ·(x̄_a − x̄_b)
        var_y           pooled metric variance (sample)
        var_y_adj       var(y − θx) = var_y + θ²var_x − 2θ·cov
        var_reduction   1 − var_y_adj/var_y (= ρ² at the optimal θ)

    Scale shape: ONE conditional-moment aggregation (global + per-
    variant sums in the same pass), 1-row arithmetic after — the same
    single partial+final pair as :class:`WelchTTest` at any size.
    """

    metricCol = Param(Params._dummy(), "metricCol",
                      "experiment metric (y)", TypeConverters.toString)
    covariateCol = Param(Params._dummy(), "covariateCol",
                         "pre-period covariate (x)",
                         TypeConverters.toString)
    variantCol = Param(Params._dummy(), "variantCol",
                       "variant label column", TypeConverters.toString)
    variantA = Param(Params._dummy(), "variantA", "treatment label",
                     TypeConverters.toString)
    variantB = Param(Params._dummy(), "variantB", "control label",
                     TypeConverters.toString)

    _defaults = dict(metricCol="y", covariateCol="x",
                     variantCol="variant")

    def setVariants(self, a: str, b: str):
        if a == b:
            raise ValueError("variantA and variantB must differ")
        return self._set(variantA=a, variantB=b)

    def evaluate(self, df: DataFrame) -> DataFrame:
        if (not self.isDefined(self.variantA)
                or not self.isDefined(self.variantB)):
            raise ValueError("setVariants(a, b) is required")
        a = self.getOrDefault(self.variantA)
        b = self.getOrDefault(self.variantB)
        y = F.col(self.getOrDefault(self.metricCol)).cast("double")
        x = F.col(self.getOrDefault(self.covariateCol)).cast("double")
        v = F.col(self.getOrDefault(self.variantCol)).cast("string")
        base = df.filter(y.isNotNull() & x.isNotNull() & v.isin(a, b))
        hit_a, hit_b = v == a, v == b
        m = base.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
            F.sum(x * x).alias("__sxx"), F.sum(y * y).alias("__syy"),
            F.sum(x * y).alias("__sxy"),
            F.sum(F.when(hit_a, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(hit_a, y).otherwise(0.0)).alias("__sya"),
            F.sum(F.when(hit_a, x).otherwise(0.0)).alias("__sxa"),
            F.sum(F.when(hit_b, 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(hit_b, y).otherwise(0.0)).alias("__syb"),
            F.sum(F.when(hit_b, x).otherwise(0.0)).alias("__sxb"))
        n = F.col("__n").cast("double")
        var_x = (F.col("__sxx") - F.col("__sx") * F.col("__sx") / n) \
            / (n - 1)
        var_y = (F.col("__syy") - F.col("__sy") * F.col("__sy") / n) \
            / (n - 1)
        cov = (F.col("__sxy") - F.col("__sx") * F.col("__sy") / n) \
            / (n - 1)
        theta = F.when((n > 1) & (var_x > 0), cov / var_x)
        mean_a = F.col("__sya") / F.col("n_a")
        mean_b = F.col("__syb") / F.col("n_b")
        mxa = F.col("__sxa") / F.col("n_a")
        mxb = F.col("__sxb") / F.col("n_b")
        var_adj = var_y + theta * theta * var_x - 2 * theta * cov
        return m.select(
            "n_a", "n_b", theta.alias("theta"),
            mean_a.alias("mean_a"), mean_b.alias("mean_b"),
            (mean_a - mean_b).alias("diff_raw"),
            (mean_a - mean_b - theta * (mxa - mxb)).alias("diff_adj"),
            var_y.alias("var_y"), var_adj.alias("var_y_adj"),
            F.when(var_y > 0, 1 - var_adj / var_y)
            .alias("var_reduction"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class DiffInDiffAnalyzer(AlgoOperator):
    """Two-period × two-group difference-in-differences (Card &
    Krueger 1994 canon): the treatment effect estimate is
    ``(ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre)`` — the change the
    treated group saw beyond the control group's change, unbiased
    under parallel trends.

    ``evaluate(df)`` returns ONE row::

        n_tpre, n_tpost, n_cpre, n_cpost   cell sizes
        mean_tpre, mean_tpost,
        mean_cpre, mean_cpost              cell means
        did                                the DiD estimate
        se                                 √Σ s²_cell/n_cell (the
                                           standard 4-cell Welch-style
                                           SE; NULL if any cell < 2)
        significant                        |did| > 1.96·se

    Scale shape: ONE conditional-moment aggregation (4 cells × 3
    moments in the same pass), 1-row arithmetic after.
    """

    metricCol = Param(Params._dummy(), "metricCol", "outcome column",
                      TypeConverters.toString)
    groupCol = Param(Params._dummy(), "groupCol",
                     "treatment/control label column",
                     TypeConverters.toString)
    treatedLabel = Param(Params._dummy(), "treatedLabel",
                         "label marking the treated group",
                         TypeConverters.toString)
    postCol = Param(Params._dummy(), "postCol",
                    "boolean column: row belongs to the post period",
                    TypeConverters.toString)

    _defaults = dict(metricCol="y", groupCol="variant",
                     treatedLabel="t", postCol="post")

    def evaluate(self, df: DataFrame) -> DataFrame:
        y = F.col(self.getOrDefault(self.metricCol)).cast("double")
        g = F.col(self.getOrDefault(self.groupCol)).cast("string")
        post = F.col(self.getOrDefault(self.postCol)).cast("boolean")
        treated = g == self.getOrDefault(self.treatedLabel)
        base = df.filter(y.isNotNull() & g.isNotNull()
                         & post.isNotNull())

        def cell(cond, suf):
            v = F.when(cond, y)
            return [F.count(v).alias(f"n_{suf}"),
                    F.sum(v).alias(f"__s{suf}"),
                    F.sum(v * v).alias(f"__q{suf}")]

        m = base.agg(*cell(treated & ~post, "tpre"),
                     *cell(treated & post, "tpost"),
                     *cell(~treated & ~post, "cpre"),
                     *cell(~treated & post, "cpost"))

        def mean(suf):
            n = F.col(f"n_{suf}").cast("double")
            return F.when(n > 0, F.col(f"__s{suf}") / n)

        def var_over_n(suf):
            n = F.col(f"n_{suf}").cast("double")
            return F.when(n > 1, (F.col(f"__q{suf}")
                                  - F.col(f"__s{suf}")
                                  * F.col(f"__s{suf}") / n)
                          / (n - 1) / n)

        did = ((mean("tpost") - mean("tpre"))
               - (mean("cpost") - mean("cpre")))
        se = F.sqrt(var_over_n("tpre") + var_over_n("tpost")
                    + var_over_n("cpre") + var_over_n("cpost"))
        return m.select(
            "n_tpre", "n_tpost", "n_cpre", "n_cpost",
            mean("tpre").alias("mean_tpre"),
            mean("tpost").alias("mean_tpost"),
            mean("cpre").alias("mean_cpre"),
            mean("cpost").alias("mean_cpost"),
            did.alias("did"), se.alias("se"),
            F.coalesce(F.abs(did) > 1.96 * se, F.lit(False))
            .alias("significant"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class CovariateBalanceChecker(AlgoOperator):
    """Pre-experiment covariate balance: the standardized mean
    difference ``SMD = (x̄_t − x̄_c) / √((s²_t + s²_c)/2)`` per
    covariate between two variants — the table every experiment
    report opens with (|SMD| > 0.1 is the conventional imbalance
    flag; Austin 2009).

    ``evaluate(df)`` returns one row per covariate::

        covariate    column name
        n_t, n_c     non-null rows per variant
        mean_t, mean_c
        smd          NULL when the pooled spread is 0
        imbalanced   |smd| > threshold

    Scale shape: one melt (explode of a per-covariate struct array)
    then ONE hash aggregation keyed by covariate — adding covariates
    adds expressions, not scans. Output is O(covariates).
    """

    inputCols = Param(Params._dummy(), "inputCols",
                      "numeric covariate columns",
                      TypeConverters.toListString)
    variantCol = Param(Params._dummy(), "variantCol",
                       "variant label column", TypeConverters.toString)
    treatedLabel = Param(Params._dummy(), "treatedLabel",
                         "treated label", TypeConverters.toString)
    controlLabel = Param(Params._dummy(), "controlLabel",
                         "control label", TypeConverters.toString)
    threshold = Param(Params._dummy(), "threshold",
                      "|SMD| flag level", TypeConverters.toFloat)

    _defaults = dict(inputCols=[], variantCol="variant",
                     threshold=0.1)

    def setInputCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        if not cols:
            raise ValueError("inputCols must be non-empty")
        return self._set(inputCols=cols)

    def setLabels(self, treated: str, control: str):
        if treated == control:
            raise ValueError("treated and control labels must differ")
        return self._set(treatedLabel=treated, controlLabel=control)

    def setThreshold(self, v):
        if v <= 0:
            raise ValueError("threshold must be positive")
        return self._set(threshold=float(v))

    def evaluate(self, df: DataFrame) -> DataFrame:
        if (not self.isDefined(self.treatedLabel)
                or not self.isDefined(self.controlLabel)):
            raise ValueError("setLabels(treated, control) is required")
        t_lbl = self.getOrDefault(self.treatedLabel)
        c_lbl = self.getOrDefault(self.controlLabel)
        cols = self.getOrDefault(self.inputCols)
        v = F.col(self.getOrDefault(self.variantCol)).cast("string")
        melted = (df.filter(v.isin(t_lbl, c_lbl))
                  .select(v.alias("__v"), F.explode(F.array(*[
                      F.struct(F.lit(c).alias("covariate"),
                               F.col(c).cast("double").alias("x"))
                      for c in cols])).alias("f"))
                  .select("f.covariate", "f.x", "__v")
                  .filter(F.col("x").isNotNull()))
        is_t = F.col("__v") == t_lbl
        x = F.col("x")

        def side(cond, suf):
            vv = F.when(cond, x)
            return [F.count(vv).alias(f"n_{suf}"),
                    F.sum(vv).alias(f"__s{suf}"),
                    F.sum(vv * vv).alias(f"__q{suf}")]

        m = melted.groupBy("covariate").agg(*side(is_t, "t"),
                                            *side(~is_t, "c"))

        def mean(suf):
            n = F.col(f"n_{suf}").cast("double")
            return F.when(n > 0, F.col(f"__s{suf}") / n)

        def var(suf):
            n = F.col(f"n_{suf}").cast("double")
            return F.when(n > 1, (F.col(f"__q{suf}")
                                  - F.col(f"__s{suf}")
                                  * F.col(f"__s{suf}") / n) / (n - 1))

        pooled = F.sqrt((var("t") + var("c")) / 2)
        smd = F.when(pooled > 0, (mean("t") - mean("c")) / pooled)
        thr = self.getOrDefault(self.threshold)
        return m.select(
            "covariate", "n_t", "n_c",
            mean("t").alias("mean_t"), mean("c").alias("mean_c"),
            smd.alias("smd"),
            F.coalesce(F.abs(smd) > thr, F.lit(False))
            .alias("imbalanced"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class FdrController(AlgoOperator):
    """Benjamini–Hochberg false-discovery-rate control (Benjamini &
    Hochberg 1995) over a battery of test p-values — the multiplicity
    correction every monitoring surface needs once it runs hundreds of
    windows × segments × metrics: at α=0.05, 5% of NULL tests fire
    spuriously EACH, and BH caps the expected fraction of false
    discoveries among the flags instead.

    ``transform(df)`` keeps every input column and appends::

        p_rank      1-based rank by ascending p (ties broken by
                    ``tieCols`` for a deterministic rank; tied p's
                    always share the same q_value regardless)
        q_value     BH-adjusted p: min_{j ≥ rank}(min(1, p_j·n/j))
        discovery   q_value ≤ alpha

    Rows with NULL or out-of-[0,1] p are dropped (they are not tests).

    Scale note: the ranking windows are deliberately UNPARTITIONED —
    correct only because the input is a TEST BATTERY (one row per
    test), bounded by construction like the Zipf/Otsu grids; this
    operator is for thousands of tests, not data rows.
    """

    pCol = Param(Params._dummy(), "pCol", "p-value column",
                 TypeConverters.toString)
    alpha = Param(Params._dummy(), "alpha", "target FDR level",
                  TypeConverters.toFloat)
    tieCols = Param(Params._dummy(), "tieCols",
                    "deterministic tie-break columns for the rank",
                    TypeConverters.toListString)
    method = Param(Params._dummy(), "method",
                   "'bh' (FDR) or 'holm' (step-down FWER)",
                   TypeConverters.toString)

    _defaults = dict(pCol="p_value", alpha=0.05, tieCols=[],
                     method="bh")

    def setMethod(self, v):
        if v not in ("bh", "holm"):
            raise ValueError(f"method must be 'bh' or 'holm', got {v!r}")
        return self._set(method=v)

    def setAlpha(self, v):
        v = float(v)
        if not 0 < v < 1:
            raise ValueError(f"alpha must be in (0, 1), got {v}")
        return self._set(alpha=v)

    def setTieCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        return self._set(tieCols=cols)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        p = F.col(self.getOrDefault(self.pCol)).cast("double")
        a = self.getOrDefault(self.alpha)
        ties = [F.col(c) for c in self.getOrDefault(self.tieCols)]
        base = df.filter(p.isNotNull() & (p >= 0) & (p <= 1))
        w_rank = Window.orderBy(p.asc(), *ties)
        n = F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing))
        ranked = (base.withColumn("p_rank", F.row_number().over(w_rank))
                  .withColumn("__n", n))
        if self.getOrDefault(self.method) == "holm":
            # step-down FWER: adjusted p_i = max_{j <= i} min(1,
            # p_j (n - j + 1)) — a prefix MAX instead of BH's suffix min
            cand = F.least(F.lit(1.0),
                           p * (F.col("__n") - F.col("p_rank") + 1))
            w_prefix = (Window.orderBy(F.col("p_rank"))
                        .rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow))
            q = F.max(cand).over(w_prefix)
        else:
            cand = F.least(F.lit(1.0),
                           p * F.col("__n") / F.col("p_rank"))
            w_suffix = (Window.orderBy(F.col("p_rank"))
                        .rowsBetween(Window.currentRow,
                                     Window.unboundedFollowing))
            q = F.min(cand).over(w_suffix)
        return (ranked.withColumn("q_value", q)
                .withColumn("discovery", F.col("q_value") <= a)
                .drop("__n"))


def _norm_ppf(p: float) -> float:
    """Acklam's rational approximation to the standard-normal inverse
    CDF (|rel err| < 1.15e-9) — scipy-free, used only to fold z
    quantiles of scalar PARAMS into the plan as literals."""
    import math

    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0,1), got {p}")
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return ((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                  + c[4]) * q + c[5])
                / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1))
    if p > phigh:
        return -_norm_ppf(1 - p)
    q = p - 0.5
    r = q * q
    return ((((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r
              + a[4]) * r + a[5]) * q
            / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
                + b[4]) * r + 1))


class SrmChecker(_AggStat):
    """Sample-ratio-mismatch check (Fabijan et al. 2019, "Diagnosing
    sample ratio mismatch"): does the observed variant split match the
    configured allocation? SRM is the #1 experiment-validity gate —
    a biased splitter, a crashing variant or a logging gap all show up
    here first, and ANY metric readout on an SRM'd experiment is
    garbage.

    ``evaluate(df)`` returns ONE row::

        n_a, n_b      observed unit counts
        expected_a    (n_a+n_b) · ratioA
        chi2          Σ (o − e)²/e over the two cells
        srm           chi2 > 10.828 (χ²₁ at p=0.001 — the
                      conventionally strict SRM threshold, NOT 0.05:
                      false SRM alarms kill healthy experiments)

    Scale shape: ONE conditional count aggregation, 1-row arithmetic.
    """

    variantCol = Param(Params._dummy(), "variantCol",
                       "variant label column", TypeConverters.toString)
    variantA = Param(Params._dummy(), "variantA", "first label",
                     TypeConverters.toString)
    variantB = Param(Params._dummy(), "variantB", "second label",
                     TypeConverters.toString)
    ratioA = Param(Params._dummy(), "ratioA",
                   "configured share of variant A",
                   TypeConverters.toFloat)

    _defaults = dict(variantCol="variant", ratioA=0.5)

    def setVariants(self, a: str, b: str):
        if a == b:
            raise ValueError("variantA and variantB must differ")
        return self._set(variantA=a, variantB=b)

    def setRatioA(self, v):
        v = float(v)
        if not 0 < v < 1:
            raise ValueError(f"ratioA must be in (0, 1), got {v}")
        return self._set(ratioA=v)

    def _stats(self):
        """(row filter, aggregates, readout): ``evaluate`` runs them over
        the whole frame, ``stream_srm_monitor`` per event-time window."""
        if (not self.isDefined(self.variantA)
                or not self.isDefined(self.variantB)):
            raise ValueError("setVariants(a, b) is required")
        a = self.getOrDefault(self.variantA)
        b = self.getOrDefault(self.variantB)
        r = self.getOrDefault(self.ratioA)
        v = F.col(self.getOrDefault(self.variantCol)).cast("string")
        n = (F.col("n_a") + F.col("n_b")).cast("double")
        ea = n * r
        eb = n * (1 - r)
        chi2 = F.when(n > 0, (F.col("n_a") - ea) * (F.col("n_a") - ea)
                      / ea + (F.col("n_b") - eb) * (F.col("n_b") - eb)
                      / eb)
        return (v.isin(a, b),
                [F.sum(F.when(v == a, 1).otherwise(0)).alias("n_a"),
                 F.sum(F.when(v == b, 1).otherwise(0)).alias("n_b")],
                [F.col("n_a"), F.col("n_b"), ea.alias("expected_a"),
                 chi2.alias("chi2"),
                 F.coalesce(chi2 > 10.828, F.lit(False)).alias("srm")])


class MdeCalculator(AlgoOperator):
    """Minimum detectable effect for a two-sample mean test at the
    observed variance and sample sizes: ``MDE = (z_{1−α/2} + z_{power})
    · √(s²·(1/n_a + 1/n_b))`` — the pre-registration number every
    experiment plan needs ("at this traffic, what lift CAN we even
    see?").

    ``evaluate(df)`` returns ONE row::

        n_a, n_b     units per variant
        mean, sd     pooled metric mean and sample SD
        mde_abs      absolute detectable difference
        mde_rel      mde_abs / |mean| (NULL when mean = 0)

    The z quantiles come from the scalar ``alpha``/``power`` params at
    plan-build time (Acklam inverse-normal, |rel err| < 1.2e-9) and
    fold into the plan as literals; the data-side is ONE moment
    aggregation.
    """

    metricCol = Param(Params._dummy(), "metricCol", "metric column",
                      TypeConverters.toString)
    variantCol = Param(Params._dummy(), "variantCol",
                       "variant label column", TypeConverters.toString)
    variantA = Param(Params._dummy(), "variantA", "first label",
                     TypeConverters.toString)
    variantB = Param(Params._dummy(), "variantB", "second label",
                     TypeConverters.toString)
    alpha = Param(Params._dummy(), "alpha", "two-sided test level",
                  TypeConverters.toFloat)
    power = Param(Params._dummy(), "power", "target power",
                  TypeConverters.toFloat)

    _defaults = dict(metricCol="y", variantCol="variant",
                     alpha=0.05, power=0.8)

    def setVariants(self, a: str, b: str):
        if a == b:
            raise ValueError("variantA and variantB must differ")
        return self._set(variantA=a, variantB=b)

    def setAlpha(self, v):
        v = float(v)
        if not 0 < v < 1:
            raise ValueError(f"alpha must be in (0, 1), got {v}")
        return self._set(alpha=v)

    def setPower(self, v):
        v = float(v)
        if not 0 < v < 1:
            raise ValueError(f"power must be in (0, 1), got {v}")
        return self._set(power=v)

    def z_multiplier(self) -> float:
        """z_{1−α/2} + z_{power}, from the scalar params."""
        return (_norm_ppf(1 - self.getOrDefault(self.alpha) / 2)
                + _norm_ppf(self.getOrDefault(self.power)))

    def evaluate(self, df: DataFrame) -> DataFrame:
        if (not self.isDefined(self.variantA)
                or not self.isDefined(self.variantB)):
            raise ValueError("setVariants(a, b) is required")
        a = self.getOrDefault(self.variantA)
        b = self.getOrDefault(self.variantB)
        y = F.col(self.getOrDefault(self.metricCol)).cast("double")
        v = F.col(self.getOrDefault(self.variantCol)).cast("string")
        zm = self.z_multiplier()
        m = df.filter(y.isNotNull() & v.isin(a, b)).agg(
            F.sum(F.when(v == a, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(v == b, 1).otherwise(0)).alias("n_b"),
            F.count(F.lit(1)).alias("__n"),
            F.sum(y).alias("__s"), F.sum(y * y).alias("__q"))
        n = F.col("__n").cast("double")
        mean = F.col("__s") / n
        var = F.when(n > 1, (F.col("__q") - F.col("__s") * F.col("__s")
                             / n) / (n - 1))
        ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & var.isNotNull()
        mde = F.when(ok, F.lit(zm) * F.sqrt(
            var * (1 / F.col("n_a").cast("double")
                   + 1 / F.col("n_b").cast("double"))))
        return m.select(
            "n_a", "n_b", mean.alias("mean"),
            F.sqrt(var).alias("sd"), mde.alias("mde_abs"),
            F.when(F.abs(mean) > 0, mde / F.abs(mean))
            .alias("mde_rel"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class RatioMetricAnalyzer(_AggStat):
    """Two-sample test for RATIO metrics (clicks/views, revenue/order
    — numerator and denominator both random per unit) via the delta
    method (Deng, Knoblich & Lu, KDD 2018): the naive t-test on
    row-level ratios is biased and the t-test on unit ratios weights
    units wrongly; the correct readout tests ``Σx/Σy`` with

        Var(x̄/ȳ) ≈ (s²_x − 2 r s_xy + r² s²_y) / (n ȳ²)

    ``evaluate(df)`` (one row per UNIT with numerator, denominator,
    variant) returns ONE row::

        n_a, n_b           units
        ratio_a, ratio_b   Σx/Σy per variant
        diff               ratio_a − ratio_b
        se                 delta-method SE of the diff (NULL when
                           either side has <2 units or a zero
                           denominator mean)
        z_stat             diff / se
        significant        |z| > 1.96

    Scale shape: ONE conditional-moment aggregation (2 variants × 6
    moments in the same pass), 1-row arithmetic after.
    """

    numCol = Param(Params._dummy(), "numCol",
                   "unit numerator column", TypeConverters.toString)
    denCol = Param(Params._dummy(), "denCol",
                   "unit denominator column", TypeConverters.toString)
    variantCol = Param(Params._dummy(), "variantCol",
                       "variant label column", TypeConverters.toString)
    variantA = Param(Params._dummy(), "variantA", "first label",
                     TypeConverters.toString)
    variantB = Param(Params._dummy(), "variantB", "second label",
                     TypeConverters.toString)

    _defaults = dict(numCol="num", denCol="den",
                     variantCol="variant")

    def setVariants(self, a: str, b: str):
        if a == b:
            raise ValueError("variantA and variantB must differ")
        return self._set(variantA=a, variantB=b)

    def _stats(self):
        """(row filter, aggregates, readout): ``evaluate`` runs them over
        the whole frame, ``stream_ratio_monitor`` per event-time window."""
        if (not self.isDefined(self.variantA)
                or not self.isDefined(self.variantB)):
            raise ValueError("setVariants(a, b) is required")
        a = self.getOrDefault(self.variantA)
        b = self.getOrDefault(self.variantB)
        x = F.col(self.getOrDefault(self.numCol)).cast("double")
        y = F.col(self.getOrDefault(self.denCol)).cast("double")
        v = F.col(self.getOrDefault(self.variantCol)).cast("string")

        def side(lbl, s):
            hit = v == lbl
            return [
                F.sum(F.when(hit, 1).otherwise(0)).alias(f"n_{s}"),
                F.sum(F.when(hit, x).otherwise(0.0)).alias(f"__sx{s}"),
                F.sum(F.when(hit, y).otherwise(0.0)).alias(f"__sy{s}"),
                F.sum(F.when(hit, x * x).otherwise(0.0))
                .alias(f"__sxx{s}"),
                F.sum(F.when(hit, y * y).otherwise(0.0))
                .alias(f"__syy{s}"),
                F.sum(F.when(hit, x * y).otherwise(0.0))
                .alias(f"__sxy{s}")]

        def ratio(s):
            return F.when(F.col(f"__sy{s}") != 0,
                          F.col(f"__sx{s}") / F.col(f"__sy{s}"))

        def var_r(s):
            n = F.col(f"n_{s}").cast("double")
            mx = F.col(f"__sx{s}") / n
            my = F.col(f"__sy{s}") / n
            sxx = (F.col(f"__sxx{s}") - n * mx * mx) / (n - 1)
            syy = (F.col(f"__syy{s}") - n * my * my) / (n - 1)
            sxy = (F.col(f"__sxy{s}") - n * mx * my) / (n - 1)
            r = ratio(s)
            return F.when((n > 1) & (my != 0),
                          (sxx - 2 * r * sxy + r * r * syy)
                          / (n * my * my))

        se = F.sqrt(var_r("a") + var_r("b"))
        diff = ratio("a") - ratio("b")
        z = F.when(se > 0, diff / se)
        return (x.isNotNull() & y.isNotNull() & v.isin(a, b),
                [*side(a, "a"), *side(b, "b")],
                [F.col("n_a"), F.col("n_b"), ratio("a").alias("ratio_a"),
                 ratio("b").alias("ratio_b"), diff.alias("diff"),
                 se.alias("se"), z.alias("z_stat"),
                 F.coalesce(F.abs(z) > 1.96, F.lit(False))
                 .alias("significant")])


class LorenzCurveAnalyzer(AlgoOperator):
    """Lorenz-curve table: cumulative population share vs cumulative
    weight share over fitted weight-quantile buckets — the curve
    behind :class:`GiniConcentration`'s single number ("the top decile
    of users holds X% of revenue"), and the whale-risk readout of any
    marketplace/revenue analysis.

    Buckets come from the fitted (``numBins``−1)-edge quantile grid of
    the weight (6 dp rounding, folded as literals — the engine's
    bounded-grid contract; tied weights share a bucket), ascending, so
    the last rows are the heaviest units.

    ``evaluate(df)`` returns one row per non-empty bucket::

        bucket            0 = lightest units
        n_units           units in the bucket
        bucket_weight     their summed weight
        cum_pop_share     cumulative units / all units
        cum_weight_share  cumulative weight / total weight

    Scale shape: one quantile-grid aggregation + one bucket
    aggregation; the cumulative window runs over ≤ numBins rows.
    """

    weightCol = Param(Params._dummy(), "weightCol",
                      "non-negative weight column",
                      TypeConverters.toString)
    numBins = Param(Params._dummy(), "numBins", "quantile buckets",
                    TypeConverters.toInt)

    _defaults = dict(weightCol="weight", numBins=10)

    def setNumBins(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBins must be >= 2, got {v}")
        return self._set(numBins=v)

    def evaluate(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        k = self.getOrDefault(self.numBins)
        w = F.col(self.getOrDefault(self.weightCol)).cast("double")
        base = df.filter(w.isNotNull() & (w >= 0))
        # exact percentiles, bit-identical to the percentile
        # aggregate (see functions/quantiles.py)
        from flink_ml__spark.functions.quantiles import quantile_edges

        edges = quantile_edges(base, w, k)
        if not edges:
            raise ValueError("no non-null weights to fit on")
        bucket = sum((w > F.lit(e)).cast("int") for e in edges)
        per = (base.withColumn("__b", bucket)
               .groupBy("__b")
               .agg(F.count(F.lit(1)).alias("n_units"),
                    F.sum(w).alias("bucket_weight")))
        cw = Window.orderBy("__b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        all_w = Window.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing)
        return per.select(
            F.col("__b").alias("bucket"), "n_units", "bucket_weight",
            (F.sum("n_units").over(cw)
             / F.sum("n_units").over(all_w).cast("double"))
            .alias("cum_pop_share"),
            (F.sum("bucket_weight").over(cw)
             / F.sum("bucket_weight").over(all_w))
            .alias("cum_weight_share"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class QuantileComparison(AlgoOperator):
    """QQ table between two slices of a metric: the quantiles of A
    against the quantiles of B at a shared probability grid — the
    distribution-level diff (is the whole distribution shifted, or
    only the tail?) that a mean test cannot show, in table form
    instead of a plot.

    ``evaluate(df)`` returns one row per grid probability::

        p          the probability
        q_a, q_b   exact interpolated quantiles per side
        diff       q_a − q_b
        ratio      q_a / q_b (NULL when q_b = 0)

    Scale shape: BOTH sides' full quantile grids come from ONE
    aggregation (two array-percentile aggregates over conditional
    inputs); the per-probability rows explode from the single result
    row.
    """

    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    groupCol = Param(Params._dummy(), "groupCol", "slice label column",
                     TypeConverters.toString)
    groupA = Param(Params._dummy(), "groupA", "label of side A",
                   TypeConverters.toString)
    groupB = Param(Params._dummy(), "groupB", "label of side B",
                   TypeConverters.toString)
    probs = Param(Params._dummy(), "probs", "probability grid",
                  TypeConverters.toListFloat)

    _defaults = dict(valueCol="value", groupCol="group",
                     probs=[i / 20 for i in range(1, 20)])

    def setGroups(self, a: str, b: str):
        if a == b:
            raise ValueError("groupA and groupB must differ")
        return self._set(groupA=a, groupB=b)

    def setProbs(self, *v):
        v = list(v[0]) if len(v) == 1 and not isinstance(
            v[0], (int, float)) else list(v)
        if not v or any(not 0 < p < 1 for p in v):
            raise ValueError("probs must be in (0, 1)")
        return self._set(probs=sorted(set(float(p) for p in v)))

    def evaluate(self, df: DataFrame) -> DataFrame:
        if (not self.isDefined(self.groupA)
                or not self.isDefined(self.groupB)):
            raise ValueError("setGroups(a, b) is required")
        a = self.getOrDefault(self.groupA)
        b = self.getOrDefault(self.groupB)
        ps = self.getOrDefault(self.probs)
        x = F.col(self.getOrDefault(self.valueCol)).cast("double")
        g = F.col(self.getOrDefault(self.groupCol)).cast("string")
        base = df.filter(x.isNotNull() & g.isin(a, b))
        grid = F.array(*[F.lit(p) for p in ps])
        one = base.agg(
            F.percentile(F.when(g == a, x), grid).alias("__qa"),
            F.percentile(F.when(g == b, x), grid).alias("__qb"))
        rows = F.explode(F.array(*[
            F.struct(F.lit(p).alias("p"),
                     F.element_at("__qa", i + 1).alias("q_a"),
                     F.element_at("__qb", i + 1).alias("q_b"))
            for i, p in enumerate(ps)]))
        out = one.select(rows.alias("r")).select("r.p", "r.q_a", "r.q_b")
        return out.select(
            "p", "q_a", "q_b",
            (F.col("q_a") - F.col("q_b")).alias("diff"),
            F.when(F.col("q_b") != 0,
                   F.col("q_a") / F.col("q_b")).alias("ratio"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class EmpiricalBayesRateShrinker(AlgoOperator):
    """Beta-binomial empirical-Bayes shrinkage of per-group rates
    (Robbins 1956; Efron & Morris 1975; the baseball-batting-average
    classic): small groups' raw rates are noise, so shrink every
    group toward the corpus prior with strength proportional to the
    prior's concentration — ``(successes + α) / (trials + α + β)``,
    with (α, β) moment-matched from the observed rate distribution.

    ``transform(df_grouped)`` expects ONE ROW PER GROUP with
    ``trialsCol`` and ``successCol`` and appends::

        raw_rate        successes / trials
        shrunk_rate     (successes + α) / (trials + α + β)

    ``prior(df_grouped)`` returns the fitted one-row (α, β, mean,
    var, n_groups) table. Moment matching uses the UNWEIGHTED mean
    and variance of per-group raw rates (groups with 0 trials drop);
    a degenerate variance (var ≤ mean(1−mean)/∞ → 0) yields NULL
    α/β and shrunk = raw (no false shrinkage).

    Scale shape: one 1-row moment aggregation over the group table +
    a codegen projection — the group table is already aggregated
    upstream, so nothing here is data-sized.
    """

    trialsCol = Param(Params._dummy(), "trialsCol",
                      "per-group trial count", TypeConverters.toString)
    successCol = Param(Params._dummy(), "successCol",
                       "per-group success count", TypeConverters.toString)

    _defaults = dict(trialsCol="trials", successCol="successes")

    def _fit(self, df: DataFrame):
        n = F.col(self.getOrDefault(self.trialsCol)).cast("double")
        s = F.col(self.getOrDefault(self.successCol)).cast("double")
        base = df.filter(n.isNotNull() & s.isNotNull() & (n > 0))
        r = s / n
        m = base.agg(F.count(F.lit(1)).alias("n_groups"),
                     F.avg(r).alias("mean"),
                     F.var_samp(r).alias("var")).collect()[0]
        mean, var = m["mean"], m["var"]
        if (mean is None or var is None or var <= 0
                or not 0 < mean < 1
                or var >= mean * (1 - mean)):
            return m["n_groups"], mean, var, None, None
        k = mean * (1 - mean) / var - 1
        return m["n_groups"], mean, var, mean * k, (1 - mean) * k

    def prior(self, df: DataFrame) -> DataFrame:
        ng, mean, var, alpha, beta = self._fit(df)
        return df.sparkSession.createDataFrame(
            [(ng, mean, var, alpha, beta)],
            "n_groups long, mean double, var double, "
            "alpha double, beta double")

    def transform(self, df: DataFrame) -> DataFrame:
        ng, mean, var, alpha, beta = self._fit(df)
        n = F.col(self.getOrDefault(self.trialsCol)).cast("double")
        s = F.col(self.getOrDefault(self.successCol)).cast("double")
        raw = F.when(n > 0, s / n)
        if alpha is None:
            shrunk = raw
        else:
            shrunk = F.when(
                n > 0, (s + F.lit(alpha)) / (n + F.lit(alpha + beta)))
        return (df.withColumn("raw_rate", raw)
                .withColumn("shrunk_rate", shrunk))
