"""Keyword retrieval over the document corpus.

``BM25Retriever`` — Okapi BM25 top-k search (Robertson & Zaragoza,
"The Probabilistic Relevance Framework: BM25 and Beyond", 2009; idf
variant per Lucene's ``BM25Similarity``): the retrieval primitive a
training-data pipeline needs for targeted curation — "pull the k
documents most relevant to each benchmark prompt / topic seed /
quality exemplar" — and the lexical side of any hybrid
(BM25 + embedding) mining loop. The whole computation is exact
relational algebra (inverted postings + join + keyed top-k), so it
runs entirely JVM-side and has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator, HasInputCol
from flink_ml__spark.functions.dedup import HasIdColMixin, _MaterializeMixin
from flink_ml__spark.functions.text import TOKEN_SPLIT


class BM25Retriever(AlgoOperator, _MaterializeMixin, HasInputCol,
                    HasIdColMixin):
    """Okapi BM25 top-k retrieval.

    ``retrieve(docs, queries)`` returns, per query row, the ``topK``
    highest-scoring documents::

        <queryIdCol>  the query's id
        <idCol>       matched document id
        score         BM25 score (sum over shared terms)
        rank          1-based, dense ties broken by ascending doc id

    Scoring: ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``
    over the query's DISTINCT terms (standard bag-of-words BM25 on
    the document side; repeated query terms count once). Tokens are
    the lowercased ``TOKEN_SPLIT`` words shared with the rest of the
    text stack; ``avgdl`` averages over ALL corpus documents (empty
    and NULL text contribute length 0). Ranking compares scores
    rounded to 9 decimals so the order is reproducible across
    engines and partitionings (fp summation order), doc id ascending
    as the tiebreak.

    100 TB design: the postings build is one ``explode`` +
    ``groupBy(doc, term)`` shuffle (partial-merged map-side); df and
    doc-length tables derive from the postings — O(vocab) and
    O(docs) — and N/avgdl fold to two literals. The query side is
    small by nature (a benchmark, a topic list), so the term join
    broadcasts it; per-candidate work is proportional to POSTINGS
    MATCHED, never all-pairs, and the final top-k is a keyed window
    over ≤ matched-docs rows per query. At corpus scale the postings
    table is the thing to persist/bucket by term — pass
    ``postings=`` to amortize it across query batches (the inverted-
    index reuse shape).
    """

    queryIdCol = Param(Params._dummy(), "queryIdCol",
                       "query id column in the queries frame",
                       TypeConverters.toString)
    queryTextCol = Param(Params._dummy(), "queryTextCol",
                         "query text column in the queries frame",
                         TypeConverters.toString)
    k1 = Param(Params._dummy(), "k1", "BM25 tf saturation",
               TypeConverters.toFloat)
    b = Param(Params._dummy(), "b", "BM25 length normalization",
              TypeConverters.toFloat)
    topK = Param(Params._dummy(), "topK", "results per query",
                 TypeConverters.toInt)
    maxDfFraction = Param(Params._dummy(), "maxDfFraction",
                          "drop query terms whose document frequency "
                          "exceeds this fraction of the corpus "
                          "(1.0 = exact, no pruning)",
                          TypeConverters.toFloat)

    _defaults = dict(inputCol="text", idCol="doc_id",
                     queryIdCol="query_id", queryTextCol="query_text",
                     k1=1.2, b=0.75, topK=10, maxDfFraction=1.0)

    def setMaxDfFraction(self, v):
        v = float(v)
        if not 0.0 < v <= 1.0:
            raise ValueError("maxDfFraction must be in (0, 1]")
        return self._set(maxDfFraction=v)

    def _toks(self, col) -> "F.Column":
        return F.filter(
            F.split(F.lower(F.coalesce(F.col(col), F.lit(""))),
                    TOKEN_SPLIT),
            lambda t: t != "")

    def postings(self, docs: DataFrame) -> DataFrame:
        """(doc id, __term, __tf, __dl) inverted postings with the
        document length attached — the reusable index table, built in
        ONE Arrow map pass (per-document tf and dl computed inside the
        batch — no explode shuffle, no per-doc window sort; terms are
        unique per doc by construction) and materialized behind the
        repartition barrier (dedup `_MaterializeMixin` lifecycle: the
        corpus-constant aggregate, the df table, and the probe join
        all read it, and without the barrier each branch re-runs the
        tokenize pass — measured 3× the cost at sf0.1). At lake
        scale, write it bucketed by ``__term`` instead and feed it
        back via ``retrieve(..., postings=...)``."""
        import pandas as pd

        idc = self.getIdCol()
        txt = self.getInputCol()
        id_type = dict(docs.dtypes)[idc]
        tok_pat = TOKEN_SPLIT

        def build(batches):
            import re

            rx = re.compile(tok_pat)
            for pdf in batches:
                ids, terms, tfs, dls = [], [], [], []
                for i, t in zip(pdf[idc], pdf[txt]):
                    toks = ([w for w in rx.split(t.lower()) if w]
                            if t is not None else [])
                    dl = len(toks)
                    counts: dict = {}
                    for w in toks:
                        counts[w] = counts.get(w, 0) + 1
                    for w, c in counts.items():
                        ids.append(i)
                        terms.append(w)
                        tfs.append(c)
                        dls.append(dl)
                yield pd.DataFrame({idc: ids, "__term": terms,
                                    "__tf": tfs, "__dl": dls})

        return self._materialize(
            docs.select(idc, self.getInputCol())
            .repartition(F.col(idc))
            .mapInPandas(build, f"{idc} {id_type}, __term string, "
                         "__tf long, __dl long"))

    def retrieve(self, docs: DataFrame, queries: DataFrame, *,
                 postings: DataFrame | None = None) -> DataFrame:
        idc = self.getIdCol()
        qid, qtx = self.getQueryIdCol(), self.getQueryTextCol()
        k1, b = self.getK1(), self.getB()
        if postings is None:
            postings = self.postings(docs)

        # corpus constants fold to literals: N counts every document
        # (zero-length included), total length comes from the postings
        # so a precomputed index never re-tokenizes the corpus
        n_docs = docs.count()
        sum_dl = postings.agg(F.sum("__tf")).collect()[0][0]
        avgdl = (sum_dl or 0) / n_docs if n_docs else 0.0

        dfreq = postings.groupBy("__term").agg(
            F.count(F.lit(1)).alias("__df"))
        # candidate-set governor: a query term appearing in most of the
        # corpus ("the") makes the probe O(queries x corpus) — the
        # standard stop-word cut bounds candidates at the cost of
        # dropping near-informationless terms (idf ~ ln(1 + 1) already
        # scores them lowest). Inner-joining dfreq prunes the probe.
        if self.getMaxDfFraction() < 1.0:
            dfreq = dfreq.filter(
                F.col("__df") <= self.getMaxDfFraction() * n_docs)
        idf = F.log(F.lit(1.0)
                    + (F.lit(float(n_docs)) - F.col("__df") + 0.5)
                    / (F.col("__df") + 0.5))

        qterms = (queries
                  .select(F.col(qid), F.explode(self._toks(qtx))
                          .alias("__term"))
                  .distinct())
        # queries are small: broadcast them onto the postings so the
        # postings table never reshuffles for the probe
        matched = (postings.join(F.broadcast(qterms), "__term")
                   .join(dfreq, "__term"))
        contrib = (idf * F.col("__tf") * (k1 + 1.0)
                   / (F.col("__tf")
                      + k1 * (1.0 - b + b * F.col("__dl") / avgdl)))
        scored = (matched
                  .groupBy(qid, idc)
                  .agg(F.sum(contrib).alias("score")))
        # fixed-point floor ranking (not round(): engine round() impls
        # diverge at decimal boundaries — the Otsu lesson, round 10).
        # floor(score*1e9) stays inside int64 as long as |score| < 9.2e9;
        # BM25 scores are bounded by |q|*(k1+1)*ln(1+N) (a few thousand
        # for realistic queries), so no clamp is needed here — unlike
        # WeightedSampler's 1/w-scaled keys.
        w = (Window.partitionBy(qid)
             .orderBy(F.floor(F.col("score") * 1e9 + 0.5).desc(),
                      F.col(idc).asc()))
        # explicit repartition: the window's ENSURE_REQUIREMENTS
        # exchange reads few BYTES (scored is narrow) so AQE coalesces
        # the CPU-heavy per-query sort onto 1-2 tasks — measured ~1 s
        # single-task sorts at sf0.1
        shuffle_n = int(docs.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        return (scored.repartition(shuffle_n, qid)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getTopK()))


class QueryLikelihoodRetriever(BM25Retriever):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    "A study of smoothing methods for language models applied to ad
    hoc information retrieval", SIGIR 2001) — the probabilistic LM
    baseline alongside :class:`BM25Retriever`, sharing its postings
    index, tokenizer, query interface and top-k contract (``k1``/``b``
    are inherited but unused; ``mu`` is the smoothing mass).

    Score of document d for query q (query terms COUNTED, the QL
    convention, unlike BM25's distinct-term bag)::

        Σ_t c(t,q) · ln(1 + tf_td / (μ·p(t|C)))  +  |q|·ln(μ/(|d|+μ))

    which equals ``Σ_t c(t,q)·ln((tf_td + μ·p(t|C)) / (|d| + μ))`` but
    needs postings rows ONLY for matched (doc, term) pairs — the
    decomposition that keeps the probe proportional to postings
    matched, never queries × corpus. ``p(t|C)`` is the collection
    frequency share; query terms absent from the corpus drop (their
    contribution is a per-query constant under Dirichlet smoothing).
    Documents matching no query term score only when some term
    matches — standard candidate-set semantics, same as BM25's.
    """

    mu = Param(Params._dummy(), "mu", "Dirichlet smoothing mass",
               TypeConverters.toFloat)

    _defaults = dict(mu=2000.0)

    def setMu(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError(f"mu must be > 0, got {v}")
        return self._set(mu=v)

    def retrieve(self, docs: DataFrame, queries: DataFrame, *,
                 postings: DataFrame | None = None) -> DataFrame:
        idc = self.getIdCol()
        qid, qtx = self.getQueryIdCol(), self.getQueryTextCol()
        mu = self.getMu()
        if postings is None:
            postings = self.postings(docs)

        total_tokens = postings.agg(F.sum("__tf")).collect()[0][0] or 0
        if total_tokens == 0:
            raise ValueError("empty corpus: no tokens to model")
        # collection LM: p(t|C) = cf_t / total — O(vocab) rows
        cf = postings.groupBy("__term").agg(
            (F.sum("__tf") / F.lit(float(total_tokens))).alias("__pc"))

        # query terms with counts (QL counts repeats, unlike BM25)
        qterms = (queries
                  .select(F.col(qid),
                          F.explode(self._toks(qtx)).alias("__term"))
                  .groupBy(qid, "__term")
                  .agg(F.count(F.lit(1)).alias("__qc")))
        # |q| counts only collection-vocabulary tokens — OOV terms are
        # dropped from BOTH sums (their Dirichlet contribution is the
        # same per-query constant for every document)
        qlen = (qterms.join(cf.select("__term"), "__term", "left_semi")
                .groupBy(qid).agg(F.sum("__qc").alias("__qlen")))

        matched = (postings.join(F.broadcast(qterms), "__term")
                   .join(cf, "__term"))
        contrib = (F.col("__qc")
                   * F.log(F.lit(1.0)
                           + F.col("__tf") / (F.lit(mu) * F.col("__pc"))))
        scored = (matched.groupBy(qid, idc)
                  .agg(F.sum(contrib).alias("__s"),
                       F.first("__dl").alias("__dl")))
        out = (scored.join(F.broadcast(qlen), qid)
               .withColumn("score",
                           F.col("__s") + F.col("__qlen")
                           * F.log(F.lit(mu) / (F.col("__dl") + mu))))
        # |score| <= |q| * ln((dl+mu)/mu) — a few hundred for realistic
        # queries, far inside the 9.2e9 int64/1e9 fixed-point bound, so
        # the rank key cannot overflow (see BM25Retriever.retrieve).
        w = (Window.partitionBy(qid)
             .orderBy(F.floor(F.col("score") * 1e9 + 0.5).desc(),
                      F.col(idc).asc()))
        # pin the per-query sort's parallelism (see BM25Retriever)
        shuffle_n = int(docs.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        return (out.repartition(shuffle_n, qid)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getTopK())
                .select(qid, idc, "score", "rank"))


class ReciprocalRankFusion(AlgoOperator):
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    — the standard combiner for hybrid retrieval (lexical BM25 +
    embedding ANN, or any mix of rankers): each input ranking
    contributes ``1 / (k0 + rank)`` per (query, item) and the fused
    score is the sum, so items high on ANY list surface without score
    calibration across rankers.

    ``fuse(rankings)`` takes a list of DataFrames sharing
    ``(queryIdCol, itemCol, rankCol)`` and returns per query the
    ``topK`` fused items::

        <queryIdCol>  the query
        <itemCol>     the item
        rrf_score     Σ_r 1/(k0 + rank_r)   (absent lists contribute 0)
        n_lists       rankings containing the item
        rank          1-based fused rank (score desc, item asc)

    100 TB design: a union of the ranked lists (each already ≤
    per-ranker-k rows per query — ranking outputs, not corpora),
    one ``groupBy(query, item)`` partial-merged aggregation, and a
    keyed top-k window (`WindowGroupLimit`). Cost is proportional to
    the LISTS, never the corpus; no joins between rankers.
    """

    queryIdCol = Param(Params._dummy(), "queryIdCol", "query id column",
                       TypeConverters.toString)
    itemCol = Param(Params._dummy(), "itemCol", "ranked item column",
                    TypeConverters.toString)
    rankCol = Param(Params._dummy(), "rankCol", "1-based rank column",
                    TypeConverters.toString)
    k0 = Param(Params._dummy(), "k0", "RRF smoothing constant",
               TypeConverters.toFloat)
    topK = Param(Params._dummy(), "topK", "fused results per query",
                 TypeConverters.toInt)

    _defaults = dict(queryIdCol="query_id", itemCol="doc_id",
                     rankCol="rank", k0=60.0, topK=10)

    def fuse(self, rankings: list) -> "DataFrame":
        if not rankings:
            raise ValueError("need at least one ranking")
        q, it, rk = (self.getQueryIdCol(), self.getItemCol(),
                     self.getRankCol())
        k0 = self.getK0()
        u = None
        for r in rankings:
            part = r.select(q, it, rk)
            u = part if u is None else u.unionByName(part)
        fused = (u.groupBy(q, it)
                 .agg(F.sum(1.0 / (F.lit(k0) + F.col(rk)))
                      .alias("rrf_score"),
                      F.count(F.lit(1)).alias("n_lists")))
        # rrf_score <= n_rankers/(k0+1) (each list contributes < 1/k0),
        # so the 1e12 fixed-point key tops out ~1e10·n_rankers — far
        # inside int64; no clamp needed (cf. WeightedSampler's 1/w keys)
        w = (Window.partitionBy(q)
             .orderBy(F.floor(F.col("rrf_score") * 1e12 + 0.5).desc(),
                      F.col(it).asc()))
        # no parallelism pinning here (contrast BM25Retriever): the
        # fused frame is O(queries·k·lists) by construction — already
        # top-k'd by every input ranker — so AQE's byte-coalescing of
        # the window exchange is the right call
        return (fused.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getTopK()))


class RankingEvaluator(AlgoOperator):
    """IR quality metrics for any ranked result set against binary
    relevance judgments — the evaluation harness that closes the
    retrieval loop (BM25, ANN, RRF all emit ``(query_id, item,
    rank)``; this scores them).

    ``evaluate(ranking, qrels)`` takes the ranking (``queryCol``,
    ``itemCol``, ``rankCol`` — rank 1-based) and the qrels (one row
    per relevant (query, item) pair) and returns one row per query in
    the ranking::

        <queryCol>, n_rel, hits
        precision_at_k   hits / k
        recall_at_k      hits / n_rel          (NULL when n_rel = 0)
        mrr              1 / first relevant rank, 0 if none in top-k
        ndcg_at_k        binary DCG / ideal DCG (NULL when n_rel = 0)

    100 TB design: one top-k filter, one left join onto the qrels
    pair set (broadcast when qrels are benchmark-sized, which they
    are), one per-query aggregate; the ideal-DCG term folds to a
    ``sequence`` HOF over min(k, n_rel) — no UDF, no per-query loop,
    output O(queries).
    """

    queryCol = Param(Params._dummy(), "queryCol", "query id column",
                     TypeConverters.toString)
    itemCol = Param(Params._dummy(), "itemCol", "ranked item column",
                    TypeConverters.toString)
    rankCol = Param(Params._dummy(), "rankCol", "1-based rank column",
                    TypeConverters.toString)
    k = Param(Params._dummy(), "k", "evaluation cutoff",
              TypeConverters.toInt)

    _defaults = dict(queryCol="query_id", itemCol="doc_id",
                     rankCol="rank", k=10)

    def setK(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"k must be >= 1, got {v}")
        return self._set(k=v)

    def evaluate(self, ranking: DataFrame, qrels: DataFrame
                 ) -> DataFrame:
        qc = self.getOrDefault(self.queryCol)
        ic = self.getOrDefault(self.itemCol)
        rc = self.getOrDefault(self.rankCol)
        k = self.getOrDefault(self.k)

        # no broadcast hints anywhere on the qrels side: benchmark
        # qrels are tiny and AQE broadcasts them on its own, but qrels
        # derived from corpus statistics (e.g. "every doc sharing a
        # term") can be data-sized — a forced broadcast there
        # collected tens of millions of pairs to the driver (measured
        # 40× blowup at 10× data). With no hint AQE broadcasts
        # whichever side is actually small (usually the O(queries·k)
        # top-k slice). n_rel derives from the SAME deduped pair
        # frame so the qrels dedup shuffle happens once, not twice.
        rel_pairs = (qrels.select(qc, ic).distinct()
                     .withColumn("__rel", F.lit(1)))
        n_rel = rel_pairs.groupBy(qc).agg(
            F.count(F.lit(1)).alias("n_rel"))

        # ONE pass over the ranking: rows beyond the cutoff stay in the
        # frame (scoring 0 via the rank<=k guard) so grouping by query
        # yields a row for EVERY query in the ranking — including those
        # whose rows ALL sit beyond the cutoff (hits=0/mrr=0, not
        # silent omission). The old shape referenced the ranking twice
        # (top-k branch + universe branch), recomputing an expensive
        # retrieval subtree end to end.
        j = ranking.join(rel_pairs, [qc, ic], "left")
        relk = (F.col(rc) <= k) & F.col("__rel").isNotNull()
        per_q = (j.groupBy(qc).agg(
            F.sum(F.when(relk, 1).otherwise(0)).alias("hits"),
            F.min(F.when(relk, F.col(rc))).alias("__frr"),
            F.sum(F.when(relk,
                         1.0 / F.log2(F.col(rc) + 1))).alias("__dcg")))
        out = per_q.join(n_rel, qc, "left") \
                   .withColumn("n_rel", F.coalesce("n_rel", F.lit(0)))
        idcg = F.aggregate(
            F.sequence(F.lit(1), F.least(F.lit(k), F.col("n_rel"))),
            F.lit(0.0),
            lambda acc, i: acc + 1.0 / F.log2(i + 1))
        return (out
                .withColumn("precision_at_k", F.col("hits") / k)
                .withColumn("recall_at_k",
                            F.when(F.col("n_rel") > 0,
                                   F.col("hits") / F.col("n_rel")))
                .withColumn("mrr",
                            F.coalesce(1.0 / F.col("__frr"), F.lit(0.0)))
                .withColumn("ndcg_at_k",
                            F.when(F.col("n_rel") > 0,
                                   F.coalesce(F.col("__dcg"), F.lit(0.0))
                                   / idcg))
                .select(qc, "n_rel", "hits", "precision_at_k",
                        "recall_at_k", "mrr", "ndcg_at_k"))

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise TypeError("RankingEvaluator is binary — call "
                        "evaluate(ranking, qrels)")


class RankingOverlapEvaluator(AlgoOperator):
    """Rank-biased overlap between two ranked lists per query (Webber,
    Moffat & Zobel, TOIS 2010): the top-weighted agreement measure for
    comparing rankers — "how much did the ANN index change the exact
    ranking", "do the lexical and the semantic retriever agree" —
    where plain set overlap ignores positions and Kendall's τ needs
    conjoint lists.

    ``evaluate(a, b)`` takes two DataFrames with (queryCol, docCol,
    rankCol; ranks 1-based) and returns one row per query present in
    both::

        <queryCol>   the query key
        n_common     documents in both top-``depth`` lists
        overlap_k    n_common / depth
        rbo          (1−p)·Σ_{d=1..depth} p^{d−1}·|A_d ∩ B_d|/d — the
                     truncated prefix sum of the RBO series (depth=∞
                     recovers the full measure); 1.0 = identical
                     prefixes, 0 = disjoint

    Mechanics: a doc in both lists with ranks (ra, rb) is inside both
    depth-d prefixes for every d ≥ max(ra, rb), so its total series
    contribution is Σ_{d=max}^{depth} p^{d−1}/d — ONE equi-join on
    (query, doc) and a ``sequence`` explode bounded by depth² rows per
    query, never a per-depth pass. Rows past ``depth`` are filtered
    before the join.
    """

    queryCol = Param(Params._dummy(), "queryCol", "query key column",
                     TypeConverters.toString)
    docCol = Param(Params._dummy(), "docCol", "ranked item column",
                   TypeConverters.toString)
    rankCol = Param(Params._dummy(), "rankCol", "1-based rank column",
                    TypeConverters.toString)
    persistence = Param(Params._dummy(), "persistence",
                        "RBO p (top-weightedness)",
                        TypeConverters.toFloat)
    depth = Param(Params._dummy(), "depth", "prefix depth evaluated",
                  TypeConverters.toInt)

    _defaults = dict(queryCol="query_id", docCol="doc_id",
                     rankCol="rank", persistence=0.9, depth=10)

    def setPersistence(self, v):
        v = float(v)
        if not 0 < v < 1:
            raise ValueError(f"persistence must be in (0,1), got {v}")
        return self._set(persistence=v)

    def setDepth(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"depth must be >= 1, got {v}")
        return self._set(depth=v)

    def evaluate(self, a: DataFrame, b: DataFrame) -> DataFrame:
        q = self.getOrDefault(self.queryCol)
        d = self.getOrDefault(self.docCol)
        r = self.getOrDefault(self.rankCol)
        p = self.getOrDefault(self.persistence)
        k = self.getOrDefault(self.depth)

        def side(df, suf):
            return (df.filter(F.col(r) <= k)
                    .select(F.col(q).alias("__q"),
                            F.col(d).alias("__d"),
                            F.col(r).alias(f"__r{suf}")))

        joined = side(a, "a").join(side(b, "b"), ["__q", "__d"])
        m = F.greatest("__ra", "__rb").cast("int")
        contrib = (joined
                   .select("__q", F.explode(
                       F.sequence(m, F.lit(k))).alias("__dep"))
                   .select("__q", (F.pow(F.lit(p), F.col("__dep") - 1)
                                   / F.col("__dep")).alias("__w")))
        per_q = contrib.groupBy("__q").agg(
            (F.lit(1.0 - p) * F.sum("__w")).alias("rbo"))
        common = joined.groupBy("__q").agg(
            F.count(F.lit(1)).alias("n_common"))
        # disjoint prefixes still yield a row (rbo 0), as long as the
        # query appears in BOTH inputs
        qs = (side(a, "a").select("__q").distinct()
              .join(side(b, "b").select("__q").distinct(), "__q"))
        return (qs.join(common, "__q", "left")
                .join(per_q, "__q", "left")
                .select(F.col("__q").alias(q),
                        F.coalesce("n_common", F.lit(0))
                        .alias("n_common"),
                        (F.coalesce("n_common", F.lit(0))
                         / F.lit(float(k))).alias("overlap_k"),
                        F.coalesce("rbo", F.lit(0.0)).alias("rbo")))
