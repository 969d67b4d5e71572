"""Corpus-curation operators for large-scale training-data pipelines.

These extend the engine beyond the reference's surface (the reference is
an algorithm library — `/root/reference/src/main/java/cn/swust`; nothing
there covers corpus curation) with the operations an LLM training-data
pipeline runs between "raw crawl" and "tokenizer input":

* :class:`RepetitionScorer`    — Gopher-style repetition signals
  (Rae et al., "Scaling Language Models: Methods, Analysis & Insights
  from Training Gopher", 2021, §A1.1): duplicate-line fraction,
  duplicate-line character fraction, top word/bigram fraction.
* :class:`DeterministicSplitter` — salted-hash train/val/test split;
  stable across runs, engines and cluster sizes.
* :class:`ContaminationChecker`  — benchmark-overlap detection: the
  fraction of a document's word n-grams that appear anywhere in a
  benchmark corpus (the n-gram-overlap decontamination rule of Brown
  et al., "Language Models are Few-Shot Learners", 2020, §C).
* :class:`TfIdfKeywords`         — top-k TF-IDF keywords per document.
* :class:`DuplicateClusterer`    — connected components over verified
  near-duplicate pairs (alternating min-label propagation), turning
  pairwise dedup output into canonical duplicate clusters.
* :class:`SequencePacker`        — sharded greedy sequence packing:
  assigns each document a (shard, pack, offset) position in fixed-size
  token windows, the layout step before writing tokenizer shards.
* :class:`DomainBalancer`        — deterministic hash-threshold
  downsampling so every group (language / source domain) lands at the
  size of the smallest one, or at a caller-given target composition.
* :class:`CorpusProfiler`        — per-group corpus statistics (doc
  counts, char totals, exact p50/p90/p99 of a numeric column), the
  monitoring table every curation run reports.
* :class:`LineFilter`            — C4-style line-level boilerplate
  removal (Raffel et al., "Exploring the Limits of Transfer Learning
  with a Unified Text-to-Text Transformer", JMLR 2020, §2.2): keep
  lines with enough words, terminal punctuation, and no blocklisted
  phrases; re-join the survivors.
* :class:`UnigramLM` / :class:`UnigramLMModel` — CCNet-style LM
  fluency scoring (Wenzek et al., LREC 2020).
* :class:`PerplexityBucketer`    — CCNet head/middle/tail corpus
  partitioning on the fluency score (percentile thresholds folded to
  literals, map-side assignment).
* :class:`DSIRSelector` / :class:`DSIRModel` — importance weighting
  against a target corpus over hashed bigram features (Xie et al.,
  NeurIPS 2023).

Design rules shared with the rest of the engine: built-in Catalyst
expressions wherever possible (whole-stage codegen, no Python in the
row path), md5-derived hashing so the DuckDB oracle replays results
bit-for-bit, and no `.collect()` of anything that grows with the data
(driver-side scalars are O(groups) or O(1)).
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_ml__spark.base import (
    AlgoOperator,
    Estimator,
    HasInputCol,
    HasMaxIter,
    HasRelativeError,
    ensure_min_parallelism,
)
from flink_ml__spark.functions.dedup import (
    HasIdColMixin,
    _MaterializeMixin,
    portable_hash60,
    shingle_hash_udf,
)
from flink_ml__spark.functions.text import TOKEN_SPLIT


def _hash_bucket16(col, salt: str):
    """Deterministic 16-bit bucket from a salted md5 — the engine-portable
    "random but reproducible" primitive (DuckDB:
    ``('0x' || substring(md5(salt || ':' || x), 1, 4))::INT``)."""
    s = F.concat(F.lit(salt + ":"), col.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 4), 16, 10).cast("int")


class RepetitionScorer(AlgoOperator, HasInputCol):
    """Gopher-style repetition signals, appended per document:

    * ``dup_line_frac``       — 1 − distinct/total over non-empty
      trimmed lines;
    * ``dup_line_char_frac``  — fraction of line characters inside
      repeated line occurrences;
    * ``top_word_frac``       — occurrences of the most frequent token
      over total tokens;
    * ``top_bigram_frac``     — same for word bigrams.

    One Arrow-batched map pass — **map-only**, no shuffle, so it
    pipelines with the scan at any scale (contrast an explode+groupBy
    formulation, which would shuffle the full token stream). A pandas
    UDF rather than higher-order functions for the same reason as
    :func:`..dedup.shingle_hash_udf`: the nested
    ``transform(distinct, x -> size(filter(...)))`` top-k expressions
    are CodegenFallback (interpreted per element, O(distinct·n) per
    document) — the Counter-based Arrow pass is ~3× faster at sf0.1 and
    bit-identical (exact integer counts). Tokenization matches
    :mod:`.text` (``TOKEN_SPLIT``) so the SQL oracle reproduces every
    count. ``lineSep`` (a regex, default newline) defines the "line"
    unit — set ``'\\.'`` for sentence-level repetition on single-line
    corpora.
    """

    lineSep = Param(Params._dummy(), "lineSep",
                    "line separator regex for the duplicate-line signals",
                    TypeConverters.toString)

    _defaults = dict(inputCol="text", lineSep="\n")

    def transform(self, df: DataFrame) -> DataFrame:
        import re
        from collections import Counter

        import pandas as pd

        line_sep = self.getLineSep()
        tok_pat = TOKEN_SPLIT

        # no type hints: the module's `from __future__ import annotations`
        # stringifies them and pyspark's hint inference cannot resolve
        # local imports; the legacy SCALAR eval type handles the struct
        @F.pandas_udf("struct<dup_line_frac:double,"
                      "dup_line_char_frac:double,"
                      "top_word_frac:double,top_bigram_frac:double>")
        def signals(texts):
            rx_line = re.compile(line_sep)
            rx_tok = re.compile(tok_pat)
            out = []
            for t in texts:
                if t is None:
                    out.append((0.0, 0.0, 0.0, 0.0))
                    continue
                # strip ASCII space only — SQL trim() semantics, so the
                # oracle stays bit-identical on tab/NBSP-bearing text
                lines = [x for x in
                         (s.strip(" ") for s in rx_line.split(t)) if x]
                nl, dl = len(lines), len(set(lines))
                chars = sum(map(len, lines))
                dchars = sum(map(len, set(lines)))
                toks = [w for w in rx_tok.split(t.lower()) if w]
                nt = len(toks)
                topw = max(Counter(toks).values()) if nt else 0
                bis = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
                nb = len(bis)
                topb = max(Counter(bis).values()) if nb else 0
                out.append((
                    (nl - dl) / nl if nl else 0.0,
                    (chars - dchars) / chars if chars else 0.0,
                    topw / nt if nt else 0.0,
                    topb / nb if nb else 0.0))
            return pd.DataFrame(out, columns=[
                "dup_line_frac", "dup_line_char_frac",
                "top_word_frac", "top_bigram_frac"])

        s = signals(F.col(self.getInputCol()))
        return (df
                .withColumn("dup_line_frac", s["dup_line_frac"])
                .withColumn("dup_line_char_frac", s["dup_line_char_frac"])
                .withColumn("top_word_frac", s["top_word_frac"])
                .withColumn("top_bigram_frac", s["top_bigram_frac"]))


class DeterministicSplitter(AlgoOperator, HasIdColMixin):
    """Salted-hash train/val/test assignment.

    ``split = f(md5(salt:id))`` — a pure projection, so the assignment
    is identical on every run, engine, partitioning and cluster size
    (unlike ``df.randomSplit``, whose output depends on partition
    layout). Buckets are the first 16 bits of the salted md5;
    ``train`` takes ``floor(trainFrac·65536)`` of them, ``val`` the
    next ``floor(valFrac·65536)``, ``test`` the rest. Map-only;
    appends ``outputCol``.
    """

    trainFrac = Param(Params._dummy(), "trainFrac",
                      "fraction of buckets assigned to train",
                      TypeConverters.toFloat)
    valFrac = Param(Params._dummy(), "valFrac",
                    "fraction of buckets assigned to val",
                    TypeConverters.toFloat)
    salt = Param(Params._dummy(), "salt",
                 "hash salt; change to draw an independent split",
                 TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "split label column", TypeConverters.toString)

    _defaults = dict(trainFrac=0.8, valFrac=0.1, salt="split",
                     outputCol="split", idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        if self.getTrainFrac() + self.getValFrac() > 1.0:
            raise ValueError("trainFrac + valFrac must be <= 1")
        b = _hash_bucket16(F.col(self.getIdCol()), self.getSalt())
        t_hi = int(self.getTrainFrac() * 65536)
        v_hi = t_hi + int(self.getValFrac() * 65536)
        label = (F.when(b < t_hi, F.lit("train"))
                 .when(b < v_hi, F.lit("val"))
                 .otherwise(F.lit("test")))
        return df.withColumn(self.getOutputCol(), label)


class SplitLeakageAuditor(AlgoOperator, HasIdColMixin):
    """Cross-split leakage audit: which near-duplicate pairs straddle a
    train/val/test boundary?

    Hash-based splitting (:class:`DeterministicSplitter`) assigns
    near-identical documents to splits independently, so every
    near-duplicate cluster that spans two splits leaks training text
    into evaluation — the standard pre-training audit (cf. Lee et al.,
    ACL 2022 §6.2, who report eval-set overlap from exactly this
    mechanism). This operator composes any deduplicator's
    ``duplicate_pairs`` output with a split-labeled frame and returns
    only the offending pairs, with both labels attached.

    ``audit(pairs, labeled)``: ``pairs`` is ``(id_a, id_b, *extras)``
    (extras — jaccard / cosine / hamming — pass through); ``labeled``
    carries the id column and ``splitCol``. Output renames the labels
    to ``<splitCol>_a`` / ``<splitCol>_b`` keyed by the pair-column
    suffixes.

    Scale shape: two equi-joins of the (small, dedup-output-sized)
    pair set against the O(docs) label projection on uniform id keys,
    then a map-side inequality filter — no new shuffle class beyond
    the dedup pipeline that produced the pairs. Pairs with an id
    missing from ``labeled`` (caller passed a filtered frame) drop out
    of the audit rather than faking a label.
    """

    splitCol = Param(Params._dummy(), "splitCol",
                     "split label column in the labeled frame",
                     TypeConverters.toString)

    _defaults = dict(idCol="doc_id", splitCol="split")

    def audit(self, pairs: DataFrame, labeled: DataFrame,
              id_a: str = "id_keep", id_b: str = "id_dup") -> DataFrame:
        idc, sc = self.getIdCol(), self.getSplitCol()
        sfx_a = id_a.rsplit("_", 1)[-1]
        sfx_b = id_b.rsplit("_", 1)[-1]
        lab = labeled.select(F.col(idc), F.col(sc))
        la = lab.select(F.col(idc).alias(id_a),
                        F.col(sc).alias(f"{sc}_{sfx_a}"))
        lb = lab.select(F.col(idc).alias(id_b),
                        F.col(sc).alias(f"{sc}_{sfx_b}"))
        return (pairs.join(la, id_a).join(lb, id_b)
                .filter(F.col(f"{sc}_{sfx_a}") != F.col(f"{sc}_{sfx_b}"))
                .select(*pairs.columns, f"{sc}_{sfx_a}", f"{sc}_{sfx_b}"))


class ContaminationChecker(AlgoOperator, HasInputCol, HasIdColMixin):
    """Benchmark-contamination detection by word-n-gram overlap.

    ``transform_against(df, benchmark)`` appends, per document, the
    fraction of its distinct word ``shingleSize``-grams that occur
    anywhere in the benchmark corpus (``contaminated_frac``) and a
    boolean ``is_contaminated`` at ``threshold``. This is the GPT-3-
    style decontamination rule: drop/flag training documents sharing
    long n-grams with an eval set.

    Plan shape: one Arrow pass hashes shingles on both sides (shared
    with the dedup family — 60-bit md5, oracle-replayable); the
    benchmark's distinct shingle set is aggregated then joined —
    benchmark corpora are tiny next to the training corpus, so AQE
    turns this into a broadcast hash join against the exploded corpus
    shingles; one ``groupBy(id)`` shuffle re-assembles per-document
    fractions. Corpus side is never collected or re-scanned.
    """

    shingleSize = Param(Params._dummy(), "shingleSize",
                        "words per n-gram", TypeConverters.toInt)
    threshold = Param(Params._dummy(), "threshold",
                      "contaminated_frac at/above which "
                      "is_contaminated is true", TypeConverters.toFloat)

    _defaults = dict(inputCol="text", shingleSize=8, threshold=0.2,
                     idCol="doc_id")

    def transform_against(self, df: DataFrame,
                          benchmark: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        xs = shingle_hash_udf(self.getShingleSize())
        # a token-free benchmark item hashes to the EMPTY shingle
        # (md5("")); keeping it would flag every token-free corpus
        # document as 100% contaminated — zero tokens evidence nothing
        empty_hash = 955282973525019424  # int(md5(b"").hexdigest()[:15], 16)
        bench_keys = (benchmark
                      .select(F.explode(xs(F.col(self.getInputCol())))
                              .alias("__k"))
                      .filter(F.col("__k") != empty_hash)
                      .distinct()
                      .withColumn("__hit", F.lit(1)))
        corpus = (df.select(idc, self.getInputCol())
                  .select(F.col(idc).alias("__id"),
                          xs(F.col(self.getInputCol())).alias("__xs")))
        exploded = corpus.select(
            "__id", F.explode_outer("__xs").alias("__k"))
        frac = (exploded.join(bench_keys, "__k", "left")
                .groupBy("__id")
                .agg((F.count("__hit") /
                      F.greatest(F.count(F.lit(1)), F.lit(1)))
                     .alias("contaminated_frac")))
        # explode_outer keeps empty-shingle docs as a null-key row;
        # count(__hit) over it is 0 → frac 0.0 as documented
        out = df.join(
            frac.withColumnRenamed("__id", idc), idc, "left")
        return out.withColumn(
            "is_contaminated",
            F.col("contaminated_frac") >= self.getThreshold())


class TfIdfKeywords(AlgoOperator, HasInputCol, HasIdColMixin):
    """Top-k TF-IDF keywords per document.

    ``tf`` = term occurrences in the document; ``idf`` = ln(N / df)
    over the input corpus (no smoothing — df ≥ 1 for every emitted
    term); output one row per kept keyword: ``(id, term, tfidf, rank)``
    with ``rank`` by (tfidf desc, term asc) — a total order, so results
    are deterministic and engine-comparable.

    Plan shape: tokenize+explode → ``groupBy(id, term)`` for tf (one
    shuffle, partial-merge combine) → term document-frequency table
    (second agg over the same exchange, reused by AQE; vocabulary is
    zipf-small so the df table broadcast-joins) → per-document top-k
    via ``row_number`` over a window **partitioned by document id** —
    keyed, so every partition task holds one document's terms, not a
    global sort.
    """

    k = Param(Params._dummy(), "k", "keywords per document",
              TypeConverters.toInt)

    _defaults = dict(inputCol="text", k=5, idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        n_docs = df.count()  # O(1) driver scalar, folded as a literal
        toks = F.filter(F.split(F.lower(F.col(self.getInputCol())),
                                TOKEN_SPLIT), lambda t: t != "")
        terms = (df.select(F.col(idc).alias("__id"),
                           F.explode(toks).alias("term")))
        tf = terms.groupBy("__id", "term").agg(F.count("*").alias("__tf"))
        dfreq = (tf.groupBy("term")
                 .agg(F.count("*").alias("__df")))
        scored = (tf.join(dfreq, "term")
                  .withColumn(
                      "tfidf",
                      F.col("__tf") * F.log(F.lit(float(n_docs))
                                            / F.col("__df"))))
        w = Window.partitionBy("__id").orderBy(
            F.col("tfidf").desc(), F.col("term").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getK())
                .select(F.col("__id").alias(idc), "term", "tfidf", "rank"))


class TemperatureMixer(AlgoOperator):
    """Temperature-scaled domain mixture weights — the multilingual /
    multi-source sampling recipe (Conneau & Lample's XLM ``p_i^α``
    rescaling, NeurIPS 2019; the same exponent trick behind the Pile
    and LLaMA training mixes): raw per-domain token shares ``p_i`` are
    flattened to ``w_i ∝ p_i^τ``, so τ = 1 keeps natural proportions,
    τ → 0 approaches uniform, and low-resource domains are upsampled
    without drowning the head domains.

    Output, one row per ``groupCol`` value::

        n_docs / n_tokens   raw inventory
        p_raw               natural token share
        weight              p_raw^τ / Σ p^τ  (the sampling mixture)
        expected_tokens     weight · tokenBudget
        sample_factor       expected_tokens / n_tokens — the per-domain
                            up/down-sampling rate a sampler must apply
                            (> 1 means repeat epochs of that domain)

    ONE aggregation over the corpus plus an O(domains) normalization —
    the whole operator is two tiny shuffles whatever the corpus size.
    Token counts use the engine-wide ``TOKEN_SPLIT`` tokens.
    """

    groupCol = Param(Params._dummy(), "groupCol", "domain column",
                     TypeConverters.toString)
    textCol = Param(Params._dummy(), "textCol", "text column",
                    TypeConverters.toString)
    temperature = Param(Params._dummy(), "temperature",
                        "mixture exponent τ in (0, 1]",
                        TypeConverters.toFloat)
    tokenBudget = Param(Params._dummy(), "tokenBudget",
                        "total training tokens to allocate (0 = use "
                        "the corpus total)", TypeConverters.toInt)

    _defaults = dict(groupCol="lang", textCol="text",
                     temperature=0.7, tokenBudget=0)

    def setTemperature(self, v):
        v = float(v)
        if not (0.0 < v <= 1.0):
            raise ValueError(f"temperature must be in (0, 1], got {v}")
        return self._set(temperature=v)

    def setTokenBudget(self, v):
        v = int(v)
        if v < 0:
            raise ValueError(f"tokenBudget must be >= 0, got {v}")
        return self._set(tokenBudget=v)

    def transform(self, df: DataFrame) -> DataFrame:
        g = self.getOrDefault(self.groupCol)
        tau = self.getOrDefault(self.temperature)
        budget = self.getOrDefault(self.tokenBudget)
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getOrDefault(
                self.textCol)), F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        per = (df.groupBy(g).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(toks)).alias("n_tokens")))
        tot = per.agg(F.sum("n_tokens").alias("__t"))
        shared = per.crossJoin(F.broadcast(tot)).withColumn(
            "p_raw", F.col("n_tokens") / F.col("__t"))
        z = shared.agg(F.sum(F.pow("p_raw", F.lit(tau))).alias("__z"))
        out = (shared.crossJoin(F.broadcast(z))
               .withColumn("weight",
                           F.pow("p_raw", F.lit(tau)) / F.col("__z")))
        budget_col = (F.lit(float(budget)) if budget > 0
                      else F.col("__t").cast("double"))
        return (out
                .withColumn("expected_tokens",
                            F.col("weight") * budget_col)
                .withColumn("sample_factor",
                            F.col("expected_tokens") / F.col("n_tokens"))
                .select(g, "n_docs", "n_tokens",
                        # floor-quantize instead of round(): floor on a
                        # double is bit-identical across engines, while
                        # round() implementations (BigDecimal HALF_UP vs
                        # float-math) diverge on last-ulp pow() outputs
                        (F.floor(F.col("p_raw") * 1e6 + 0.5) / 1e6)
                        .alias("p_raw"),
                        (F.floor(F.col("weight") * 1e6 + 0.5) / 1e6)
                        .alias("weight"),
                        (F.floor(F.col("expected_tokens") * 1e2 + 0.5) / 1e2)
                        .alias("expected_tokens"),
                        (F.floor(F.col("sample_factor") * 1e6 + 0.5) / 1e6)
                        .alias("sample_factor")))


class UniMaxAllocator(AlgoOperator):
    """UniMax budget allocation (Chung et al., "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023): distribute a total training-token
    budget across domains as UNIFORMLY as possible subject to a
    per-domain epoch cap — the published fix for temperature
    sampling's twin failure modes (head domains still dominating at
    τ→1, tail domains over-epoched into memorization at τ→0).

    Closed-form water-filling, not iteration: with per-domain token
    inventories ``n_d`` and capacity ``cap_d = maxEpochs·n_d``,
    ``alloc_d = min(cap_d, τ)`` where the water level τ solves
    ``Σ alloc_d = budget``. Sorting domains by capacity ascending,
    τ = (budget − Σ_{smaller} cap) / (#remaining) at the FIRST rank
    where that value fits under the rank's own capacity; if none
    fits, every domain is capped and the leftover budget is reported
    unallocated (``weight`` then sums < 1 intentionally — UniMax
    never over-epochs to burn budget).

    Output, one row per domain: ``n_docs, n_tokens, cap, alloc,
    epochs = alloc/n_tokens, weight = alloc/budget``.

    100 TB shape: ONE corpus aggregation to O(domains) rows; the
    sort/prefix-sum windows run unpartitioned over those O(domains)
    rows — bounded by construction, the same justification as the
    Zipf/Otsu gates. Doubles stay exact (integer token counts scaled
    by the epoch cap), so the τ-vs-cap boundary comparisons replay
    bit-identically in the SQL oracle.
    """

    groupCol = Param(Params._dummy(), "groupCol", "domain column",
                     TypeConverters.toString)
    tokenCol = Param(Params._dummy(), "tokenCol",
                     "per-row token count column",
                     TypeConverters.toString)
    budget = Param(Params._dummy(), "budget",
                   "total tokens to allocate (0 = corpus total)",
                   TypeConverters.toInt)
    maxEpochs = Param(Params._dummy(), "maxEpochs",
                      "per-domain repeat cap (>= 1)",
                      TypeConverters.toFloat)

    _defaults = dict(groupCol="source", tokenCol="n_tokens",
                     budget=0, maxEpochs=4.0)

    def setBudget(self, v):
        v = int(v)
        if v < 0:
            raise ValueError(f"budget must be >= 0, got {v}")
        return self._set(budget=v)

    def setMaxEpochs(self, v):
        v = float(v)
        if v < 1.0:
            raise ValueError(f"maxEpochs must be >= 1, got {v}")
        return self._set(maxEpochs=v)

    def transform(self, df: DataFrame) -> DataFrame:
        g = self.getOrDefault(self.groupCol)
        tc = F.col(self.getOrDefault(self.tokenCol))
        per = (df.filter(F.col(g).isNotNull())
               .groupBy(g).agg(
                   F.count(F.lit(1)).alias("n_docs"),
                   F.sum(tc).cast("long").alias("n_tokens")))
        return self.allocate(per)

    def allocate(self, inventory: DataFrame) -> DataFrame:
        """Water-fill directly from a pre-aggregated inventory frame
        ``(groupCol, n_docs, n_tokens)`` — the entry point for callers
        that maintain running counts themselves (the streaming twin
        ``streaming.stream_unimax_alloc`` folds micro-batch counts
        into O(domains) driver state and re-allocates per batch)."""
        g = self.getOrDefault(self.groupCol)
        me = self.getOrDefault(self.maxEpochs)
        budget = self.getOrDefault(self.budget)
        per = inventory.withColumn("cap",
                                   F.lit(me) * F.col("n_tokens"))
        tot = per.agg(F.sum("n_tokens").alias("__t"),
                      F.count(F.lit(1)).alias("__d"))
        b_col = (F.lit(float(budget)) if budget > 0
                 else F.col("__t").cast("double"))
        shared = per.crossJoin(F.broadcast(tot)).withColumn("__b",
                                                            b_col)
        # O(domains) rows — the unpartitioned windows are bounded by
        # construction (cf. the Zipf/Otsu gates)
        w = Window.orderBy(F.asc("cap"), F.asc(g))
        ranked = (shared
                  .withColumn("__i", F.row_number().over(w))
                  .withColumn("__pfx", F.coalesce(
                      F.sum("cap").over(
                          w.rowsBetween(Window.unboundedPreceding,
                                        -1)), F.lit(0.0)))
                  .withColumn("__tau", (F.col("__b") - F.col("__pfx"))
                              / (F.col("__d") - F.col("__i") + 1)))
        wall = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        fitted = (ranked
                  .withColumn("__first", F.min(
                      F.when(F.col("__tau") <= F.col("cap"),
                             F.col("__i"))).over(wall))
                  .withColumn("__lvl", F.max(
                      F.when(F.col("__i") == F.col("__first"),
                             F.col("__tau"))).over(wall)))
        alloc = (F.when(F.col("__first").isNull()
                        | (F.col("__i") < F.col("__first")),
                        F.col("cap"))
                 .otherwise(F.col("__lvl")))
        q6 = [("epochs", 1e6), ("weight", 1e6)]
        out = (fitted.withColumn("alloc", alloc)
               .withColumn("epochs",
                           F.when(F.col("n_tokens") > 0,
                                  F.col("alloc") / F.col("n_tokens")))
               .withColumn("weight", F.col("alloc") / F.col("__b")))
        return out.select(
            g, "n_docs", "n_tokens",
            (F.floor(F.col("cap") * 1e2 + 0.5) / 1e2).alias("cap"),
            (F.floor(F.col("alloc") * 1e2 + 0.5) / 1e2).alias("alloc"),
            *[(F.floor(F.col(c) * s + 0.5) / s).alias(c)
              for c, s in q6])


class LeakageSafeSplitter(AlgoOperator, HasIdColMixin):
    """Duplicate-cluster-aware train/val/test assignment: the fix for
    what :class:`SplitLeakageAuditor` detects. Documents are split by
    the salted hash of their duplicate CLUSTER id (connected components
    over ``duplicate_pairs`` edges, via :class:`DuplicateClusterer`),
    so every near-duplicate cluster lands wholly in one split —
    leakage-free by construction, deterministic across runs and
    partitionings, with singletons hashing on their own id exactly like
    :class:`DeterministicSplitter` (the two splitters agree on every
    non-duplicated document, so upgrading a pipeline reassigns ONLY the
    leaky clusters).

    ``split(df, pairs)`` appends ``cluster_id`` and the split label.
    Cost on top of the plain splitter is the CC iteration —
    O(log diameter) keyed-join rounds over the EDGE set (pairs are
    dedup output, a tiny fraction of the corpus) — plus one join of the
    label table back to the corpus.
    """

    trainFrac = Param(Params._dummy(), "trainFrac",
                      "fraction of buckets assigned to train",
                      TypeConverters.toFloat)
    valFrac = Param(Params._dummy(), "valFrac",
                    "fraction of buckets assigned to val",
                    TypeConverters.toFloat)
    salt = Param(Params._dummy(), "salt",
                 "hash salt; change to draw an independent split",
                 TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol",
                      "split label column", TypeConverters.toString)

    _defaults = dict(trainFrac=0.8, valFrac=0.1, salt="split",
                     outputCol="split", idCol="doc_id")

    def split(self, df: DataFrame, pairs: DataFrame,
              id_a: str = "id_keep", id_b: str = "id_dup") -> DataFrame:
        tf = self.getOrDefault(self.trainFrac)
        vf = self.getOrDefault(self.valFrac)
        if tf + vf > 1.0:
            raise ValueError("trainFrac + valFrac must be <= 1")
        idc = self.getIdCol()
        clusters = (DuplicateClusterer().setIdCol(idc)
                    .cluster(pairs, nodes=df, id_a=id_a, id_b=id_b))
        b = _hash_bucket16(F.col("cluster_id"),
                           self.getOrDefault(self.salt))
        t_hi = int(tf * 65536)
        v_hi = t_hi + int(vf * 65536)
        label = (F.when(b < t_hi, F.lit("train"))
                 .when(b < v_hi, F.lit("val"))
                 .otherwise(F.lit("test")))
        return (df.join(clusters, idc)
                .withColumn(self.getOrDefault(self.outputCol), label))


class DuplicateClusterer(AlgoOperator, HasIdColMixin, HasMaxIter):
    """Connected components over near-duplicate pairs.

    Pairwise dedup output (``duplicate_pairs`` from any of the dedup
    operators) is a graph; the canonical "keep one per duplicate
    cluster" decision needs its connected components. Labels start as
    each node's own id and iterate ``label(v) ← min(label(v),
    min_{u∼v} label(u), label(label(v)))`` until a fixpoint —
    min-label propagation with pointer jumping (the two-phase shape of
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): the neighbor term walks the graph, the
    label-of-my-label term halves the remaining distance to the
    component minimum, so convergence is O(log diameter) rounds, not
    O(diameter). ``maxIter`` (default 20) still bounds the loop.

    Every round has the same full form: an edges join and a labels
    self-join (skipped in round 1, where it is the identity) + one
    ``groupBy(id).min`` — no driver-side data beyond the O(1)
    convergence counter. Joining only the labels that changed last
    round, against a broadcast of them, gives identical labels but was
    measured a wash on the events graph, so it is not kept. Each round's
    label table is ``localCheckpoint``-ed: iterative DataFrame loops
    grow their logical plan per round even under ``persist`` (plan
    trees replay the whole history and eventually OOM the driver);
    checkpointing truncates lineage so round N's plan stays O(1), the
    same discipline MLlib's iterative algorithms use. On a cluster,
    swap for ``checkpoint()`` to reliable storage if executor loss
    mid-job matters.
    """

    _defaults = dict(idCol="doc_id", maxIter=20)

    def cluster(self, pairs: DataFrame, nodes: DataFrame | None = None,
                id_a: str = "id_keep", id_b: str = "id_dup") -> DataFrame:
        """(id, cluster_id) — cluster_id is the min id reachable from
        ``id`` through ``pairs``. ``nodes`` (a DataFrame containing the
        id column) adds isolated documents as singleton clusters.

        The member set is always the union of ``nodes`` and the edge
        endpoints: endpoints must seed the label table even when a
        caller passes a filtered ``nodes``, because ids first injected
        by the neighbor term would otherwise be missing from the
        old-labels side of the convergence join — ``changed`` could
        read 0 while propagation through those ids is incomplete,
        silently splitting one component into several."""
        idc = self.getIdCol()
        # eager localCheckpoint, not persist: the pairs DAG behind the
        # edge list is typically a full dedup pipeline (Arrow shingle
        # pass + band join + verify); checkpointing truncates that
        # lineage BEFORE the iteration so no round's job — nor the
        # convergence-count job — can ever replay it, and there is no
        # persist handle to leak. Partitioning loss is irrelevant:
        # every consumer joins on a different key than the pairs
        # pipeline's output partitioning anyway.
        edges = (pairs.select(F.col(id_a).alias("__src"),
                              F.col(id_b).alias("__dst"))
                 .union(pairs.select(F.col(id_b).alias("__src"),
                                     F.col(id_a).alias("__dst")))
                 .distinct()
                 .localCheckpoint())
        members = edges.select(F.col("__src").alias("__id")).distinct()
        if nodes is not None:
            members = (members
                       .union(nodes.select(F.col(idc).alias("__id")))
                       .distinct())
        labels = (members.withColumn("__lbl", F.col("__id"))
                  .localCheckpoint())
        lbl_t = labels.schema["__lbl"].dataType.simpleString()
        # one-time guard: with labels empty every round is empty AND
        # AQE's empty-relation propagation would eliminate the
        # CollectMetrics node the loop's convergence observation rides
        # on; with labels non-empty the union branch keeps it alive
        if labels.isEmpty():
            return labels.select(F.col("__id").alias(idc),
                                 F.col("__lbl").alias("cluster_id"))
        first_round = True
        for _ in range(self.getMaxIter()):
            nbr = (edges.join(
                labels.select(F.col("__id").alias("__src"), "__lbl"),
                "__src")
                .select(F.col("__dst").alias("__id"), "__lbl"))
            # Carry each id's OLD label through the union (null on the
            # other branches; every id has exactly one labels row, so
            # min(__old) recovers it) — convergence then reads off the
            # aggregated frame itself instead of a per-round join of
            # new vs old labels: one fewer shuffle per round
            # (guide §2.4).
            null_old = F.lit(None).cast(lbl_t)
            cand = (labels.select("__id", "__lbl",
                                  F.col("__lbl").alias("__old"))
                    .union(nbr.select("__id", "__lbl",
                                      null_old.alias("__old"))))
            if not first_round:
                # Pointer jumping: one labels self-join. Round 1 is
                # provably the identity (label(v) = v, so
                # label(label(v)) = label(v)): skipping it removes a
                # self-join + shuffle from the round every caller
                # always pays (guide §2.4).
                jump = (labels.select("__id",
                                      F.col("__lbl").alias("__j"))
                        .join(labels.select(F.col("__id").alias("__j"),
                                            F.col("__lbl").alias("__jl")),
                              "__j")
                        .select("__id", F.col("__jl").alias("__lbl")))
                cand = cand.union(jump.select("__id", "__lbl",
                                              null_old.alias("__old")))
            first_round = False
            # the convergence count rides the checkpoint action as an
            # observe() metric — ONE driver action per round, not a
            # checkpoint plus a count scan (guide §1.2; every id has a
            # labels row, so __old is never null and != is exact)
            from pyspark.sql import Observation
            obs = Observation()
            agg = (cand.groupBy("__id")
                   .agg(F.min("__lbl").alias("__lbl"),
                        F.min("__old").alias("__old"))
                   .observe(obs, F.sum(
                       F.when(F.col("__lbl") != F.col("__old"),
                              1).otherwise(0)).alias("chg")))
            labels = agg.localCheckpoint().select("__id", "__lbl")
            if int(obs.get["chg"] or 0) == 0:
                break
        return labels.select(F.col("__id").alias(idc),
                             F.col("__lbl").alias("cluster_id"))


class SequencePacker(AlgoOperator, HasIdColMixin):
    """Sharded greedy sequence packing.

    Documents are concatenated in id order within a hash shard and cut
    into fixed ``windowSize``-token packs (the GPT-style "concat and
    chunk" layout); each document gets its starting position:
    ``shard``, ``pack_id`` (window index within the shard) and
    ``offset`` (token offset inside that pack).

    The cumulative sum runs per shard — ``Window.partitionBy(shard)
    .orderBy(id)`` — so parallelism equals ``numShards`` and no task
    ever buffers more than one shard (contrast a global
    ``orderBy``: one task, the classic packing scale-killer). Shards
    are salted-md5 buckets: stable, engine-portable, and independent
    of partition layout. Expects a precomputed token-count column
    (:class:`~flink_ml__spark.functions.text.TokenCounter`).
    """

    windowSize = Param(Params._dummy(), "windowSize",
                       "tokens per pack", TypeConverters.toInt)
    numShards = Param(Params._dummy(), "numShards",
                      "parallel packing shards", TypeConverters.toInt)
    tokenCol = Param(Params._dummy(), "tokenCol",
                     "precomputed token-count column",
                     TypeConverters.toString)

    _defaults = dict(windowSize=2048, numShards=16,
                     tokenCol="n_tokens", idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        win = self.getWindowSize()
        shard = _hash_bucket16(F.col(idc), "pack") % self.getNumShards()
        out = df.withColumn("shard", shard)
        w = (Window.partitionBy("shard").orderBy(F.col(idc))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        begin = (F.sum(F.col(self.getTokenCol())).over(w)
                 - F.col(self.getTokenCol()))
        return (out.withColumn("pack_id", F.floor(begin / win))
                .withColumn("offset", (begin % win).cast("long")))


class DomainBalancer(AlgoOperator, HasIdColMixin):
    """Deterministic hash-threshold group (re)balancing.

    Default mode downsamples every group (language, source domain, ...)
    to approximately the size of the smallest group: a row survives iff
    its salted-md5 bucket clears ``floor(min_count / group_count ·
    65536)``. With ``setTargets({group: fraction})`` the output instead
    approximates the given composition: the largest feasible output size
    is ``N = min_g(count_g / frac_g)`` (no group can be oversampled —
    this sampler only drops rows), each listed group keeps
    ``frac_g · N`` rows in expectation, and groups absent from the
    target map are dropped entirely.

    Either way the keep decision is a pure projection over the row plus
    one tiny per-group statistics table (broadcast-joined), so the
    operator is two scans and **no data shuffle** — the exact-quota
    alternative (rank-within-group) would funnel each group through
    one window task, a skew trap when one domain dominates the corpus.
    Sampling is binomial around the quota (±O(√n)); thresholds are
    derived with the identical expression shape on both engines so
    Spark and the SQL oracle agree bit-for-bit.
    """

    groupCol = Param(Params._dummy(), "groupCol",
                     "column whose value groups are balanced",
                     TypeConverters.toString)
    salt = Param(Params._dummy(), "salt",
                 "hash salt; change to draw an independent sample",
                 TypeConverters.toString)
    targets = Param(Params._dummy(), "targets",
                    "JSON {group: fraction} output composition; empty = "
                    "balance to the smallest group",
                    TypeConverters.toString)

    _defaults = dict(groupCol="lang", salt="balance", idCol="doc_id",
                     targets="")

    def getTargets(self) -> dict:
        import json

        raw = self.getOrDefault(self.targets)
        return json.loads(raw) if raw else {}

    def setTargets(self, v: dict):
        import json

        total = sum(v.values())
        if v and (total <= 0 or any(f <= 0 for f in v.values())):
            raise ValueError("target fractions must be positive")
        # normalize so callers may pass weights instead of fractions
        norm = {k: f / total for k, f in v.items()} if v else {}
        return self._set(targets=json.dumps(norm, sort_keys=True))

    def with_temperature(self, df: DataFrame,
                         temperature: float) -> "DomainBalancer":
        """Set targets from the observed composition sharpened by a
        sampling temperature: ``frac_g ∝ count_g^(1/T)`` — T = 1 keeps
        the natural mix, T → ∞ approaches uniform, the standard
        multilingual mixing rule (cf. mT5, Xue et al. 2021 §3.1;
        exponent ``α = 1/T``). Counts are one O(groups) aggregation
        collected to the driver; the keep decision then runs through
        the same broadcast-threshold machinery as :meth:`setTargets`
        (no data shuffle)."""
        if temperature <= 0:
            raise ValueError("temperature must be positive")
        grp = self.getGroupCol()
        counts = {r[grp]: r["__cnt"] for r in
                  df.groupBy(grp).agg(F.count("*").alias("__cnt"))
                  .collect()}
        if not counts:
            raise ValueError("empty input; no groups to balance")
        return self.setTargets(
            {g: c ** (1.0 / temperature) for g, c in counts.items()})

    def _stats(self, df: DataFrame) -> DataFrame:
        """O(groups) per-group keep-threshold table — the calibration
        half of :meth:`transform`, split out so the streaming twin can
        compute it once on a static reference and apply the keep
        projection to live data."""
        grp = self.getGroupCol()
        tgt = self.getTargets()
        counts = df.filter(F.col(grp).isNotNull()) \
                   .groupBy(grp).agg(F.count("*").alias("__cnt"))
        # the corpus-wide scalar (min count / max feasible output) comes
        # from a broadcast cross-join of a one-row aggregate, NOT a
        # constant-key window: partitionBy(lit(1)) funnels the stats
        # table through a single WindowExec task (and trips Spark's
        # single-partition warning) for the same answer
        if not tgt:
            mn = counts.agg(F.min("__cnt").alias("__min"))
            stats = (counts
                     .crossJoin(F.broadcast(mn))
                     .withColumn(
                         "__keep_below",
                         F.floor(F.col("__min") * 65536 / F.col("__cnt"))))
        else:
            tdf = df.sparkSession.createDataFrame(
                [(str(k), float(f)) for k, f in tgt.items()],
                f"__g string, __frac double")
            joined = counts.join(
                F.broadcast(tdf),
                F.col(grp).cast("string") == F.col("__g"))
            # largest output size every listed group can supply
            nmax = joined.agg(
                F.min(F.col("__cnt") / F.col("__frac")).alias("__nmax"))
            stats = (joined
                     .crossJoin(F.broadcast(nmax))
                     .withColumn(
                         "__keep_below",
                         F.floor(F.col("__frac") * F.col("__nmax")
                                 * 65536 / F.col("__cnt"))))
        return stats.select(grp, "__keep_below")

    def keep(self, df: DataFrame, stats: DataFrame) -> DataFrame:
        """Apply the keep projection against a precomputed stats table
        — pure broadcast join + hash-threshold filter, no aggregation,
        so it runs unchanged on a streaming DataFrame."""
        grp = self.getGroupCol()
        b = _hash_bucket16(F.col(self.getIdCol()), self.getSalt())
        return (df.filter(F.col(grp).isNotNull())
                .join(F.broadcast(stats), grp)
                .filter(b < F.col("__keep_below"))
                .drop("__keep_below"))

    def transform(self, df: DataFrame) -> DataFrame:
        # rows without a group are dropped AND excluded from quota
        # arithmetic — otherwise a handful of NULL-group rows drives
        # the min-count quota while the null-unsafe join removes them,
        # collapsing every other group to the NULL group's size
        return self.keep(df, self._stats(df))


class DocumentChunker(AlgoOperator, HasInputCol, HasIdColMixin):
    """Split documents into overlapping fixed-size token chunks — the
    standard preprocessing for embedding models and long-document
    training (each chunk carries ``chunkTokens`` tokens and overlaps
    its predecessor by ``overlapTokens``).

    One output row per chunk::

        chunk_index  int     0-based
        n_chunks     int     chunks in this document
        chunk_start  int     1-based token offset of the chunk
        chunk_text   string  space-joined tokens (normalized lowercase)

    Empty/NULL documents produce no rows. The last chunk may be
    shorter; a final window that would be entirely contained in the
    previous chunk is not emitted.

    Map-side only: tokens → per-row ``sequence`` of chunk starts →
    ``posexplode`` → HOF slice. No shuffle, no UDF — the explode
    multiplies rows by ~n_tokens/stride, which is the output size.
    """

    chunkTokens = Param(Params._dummy(), "chunkTokens",
                        "tokens per chunk", TypeConverters.toInt)
    overlapTokens = Param(Params._dummy(), "overlapTokens",
                          "tokens shared with the previous chunk",
                          TypeConverters.toInt)

    _defaults = dict(inputCol="text", idCol="doc_id",
                     chunkTokens=64, overlapTokens=16)

    def transform(self, df: DataFrame) -> DataFrame:
        ct = self.getOrDefault(self.chunkTokens)
        ov = self.getOrDefault(self.overlapTokens)
        if not 0 <= ov < ct:
            raise ValueError("need 0 <= overlapTokens < chunkTokens")
        stride = ct - ov
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        n = F.size(toks)
        # starts: 1, 1+stride, ... while start <= max(n - ov, 1) — the
        # last window begins at the final position that still adds a
        # token beyond the previous chunk's coverage
        last = F.greatest(n - ct, F.lit(0))
        n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
            F.floor((last + stride - 1) / stride) + 1).cast("int")
        starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
            F.transform(F.sequence(F.lit(0), n_chunks - 1),
                        lambda i: (i * stride + 1).cast("int")))
        exploded = (df
                    .withColumn("__toks", toks)
                    .withColumn("__nc", n_chunks)
                    .select("*", F.posexplode(starts)
                            .alias("chunk_index", "chunk_start")))
        chunk = F.slice("__toks", F.col("chunk_start"), ct)
        return (exploded
                .withColumn("n_chunks", F.col("__nc"))
                .withColumn("chunk_text", F.array_join(chunk, " "))
                .drop("__toks", "__nc"))


class RepresentativeSelector(AlgoOperator, HasIdColMixin):
    """Keep ONE representative per duplicate cluster — the
    highest-scoring member rather than the smallest id (the practical
    "keep the best copy" policy: longest text, best quality score,
    freshest crawl — whatever ``scoreCol`` encodes; ties break to the
    smallest id for determinism).

    Input: a frame already carrying ``clusterCol`` (e.g. the
    :class:`DuplicateClusterer` output joined back) and ``scoreCol``.
    Callers with floating-point scores should round them first —
    winner selection joins on score equality.

    Scale shape: two keyed aggregations on the cluster id plus a
    semi-join back on the document id — all shuffles are on bounded
    keys, no windows, no sorts, no driver data.
    """

    scoreCol = Param(Params._dummy(), "scoreCol",
                     "higher = better representative",
                     TypeConverters.toString)
    clusterCol = Param(Params._dummy(), "clusterCol",
                       "duplicate-cluster id column",
                       TypeConverters.toString)

    _defaults = dict(idCol="doc_id", scoreCol="n_chars",
                     clusterCol="cluster_id")

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        cc = self.getOrDefault(self.clusterCol)
        sc = self.getOrDefault(self.scoreCol)
        # NULL-cluster rows are singletons by definition — pass them
        # through (a null-unsafe join would silently delete them)
        clustered = df.filter(F.col(cc).isNotNull())
        best = clustered.groupBy(cc).agg(F.max(sc).alias("__best"))
        winners = (clustered.select(cc, sc, idc)
                   .join(best, cc)
                   # all-NULL-score cluster: max is NULL, no member
                   # matches on equality — fall back to every member
                   # and let min(id) pick deterministically
                   .filter(F.col(sc).eqNullSafe(F.col("__best"))
                           | F.col("__best").isNull())
                   .groupBy(cc).agg(F.min(idc).alias(idc)))
        kept = clustered.join(winners.select(idc), idc, "left_semi")
        return kept.unionByName(df.filter(F.col(cc).isNull()))


class DSIRModel(AlgoOperator, HasInputCol, HasIdColMixin):
    """Fitted DSIR importance model: per-bucket log-ratio
    ``ln p_target(b) − ln p_raw(b)`` over hashed bigram features.
    ``transform`` appends ``dsir_logweight`` — the sum of log-ratios
    over the document's bigrams (HIGHER = more target-like); documents
    with fewer than two tokens score NULL. Apply is one Arrow map pass
    over the broadcast O(numBuckets) ratio vector — no shuffle, no
    join, stream-compatible unchanged."""

    _state = ("_logratio", "_num_buckets")

    _defaults = dict(inputCol="text", idCol="doc_id")

    def __init__(self, logratio=None, num_buckets: int | None = None):
        super().__init__()
        self._logratio = logratio        # list[float], len == num_buckets
        self._num_buckets = num_buckets

    def transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd

        bc = df.sparkSession.sparkContext.broadcast(
            list(self._logratio))
        nb = self._num_buckets
        tok_pat = TOKEN_SPLIT

        # no type hints: see RepetitionScorer
        @F.pandas_udf("double")
        def weight(texts):
            import hashlib
            import re

            rx = re.compile(tok_pat)
            lr = bc.value
            out = []
            for t in texts:
                toks = ([w for w in rx.split(t.lower()) if w]
                        if t is not None else [])
                if len(toks) < 2:
                    out.append(None)
                    continue
                s = 0.0
                for a, b in zip(toks, toks[1:]):
                    h = int(hashlib.md5(
                        f"{a} {b}".encode("utf-8")).hexdigest()[:15], 16)
                    s += lr[h % nb]
                out.append(s)
            return pd.Series(out, dtype="float64")

        return df.withColumn("dsir_logweight",
                             weight(F.col(self.getInputCol())))


class DSIRSelector(AlgoOperator, HasInputCol, HasIdColMixin):
    """Data Selection via Importance Resampling (Xie, Santurkar, Ma &
    Liang, "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023): score raw documents by how much their
    hashed-bigram distribution looks like a TARGET corpus.

    ``fit(target, raw)`` hashes word bigrams into ``numBuckets``
    buckets (the paper's hashed n-gram features), estimates
    add-``smoothing`` bucket distributions for both corpora, and keeps
    the per-bucket log-ratio. The model is O(numBuckets) — two hash
    aggregations over the corpora, two O(numBuckets) driver pulls,
    nothing data-sized. Downstream selection composes with
    :class:`PerplexityBucketer`-style thresholds or
    :class:`DomainBalancer`; the paper's Gumbel top-k draw is one
    seeded ``_hash_bucket16`` away.
    """

    numBuckets = Param(Params._dummy(), "numBuckets",
                       "hashed feature buckets", TypeConverters.toInt)
    smoothing = Param(Params._dummy(), "smoothing",
                      "additive smoothing per bucket",
                      TypeConverters.toFloat)

    _defaults = dict(inputCol="text", idCol="doc_id", numBuckets=1024,
                     smoothing=1.0)

    def _bucket_counts(self, df: DataFrame) -> dict[int, int]:
        """O(numBuckets) bucket histogram of bigram features — one
        Arrow pass + one hash aggregation."""
        import pandas as pd

        nb = self.getOrDefault(self.numBuckets)
        tok_pat = TOKEN_SPLIT

        # no type hints: see RepetitionScorer
        @F.pandas_udf("array<int>")
        def buckets(texts):
            import hashlib
            import re

            rx = re.compile(tok_pat)
            out = []
            for t in texts:
                toks = ([w for w in rx.split(t.lower()) if w]
                        if t is not None else [])
                out.append([
                    int(hashlib.md5(
                        f"{a} {b}".encode("utf-8")).hexdigest()[:15], 16)
                    % nb
                    for a, b in zip(toks, toks[1:])])
            return pd.Series(out)

        # NOTE: explode DIRECTLY over the UDF call is the fast shape —
        # ExtractGenerator emits one ArrowEvalPython and no size()
        # filter. Only exploding a PROJECTED UDF column grows the
        # duplicate-eval filter (see BoilerplateFractionScorer._sized);
        # rewriting this site to explode_outer measured 2.3× SLOWER.
        rows = (df.select(F.explode(buckets(
                    F.col(self.getInputCol()))).alias("__bk"))
                .groupBy("__bk").agg(F.count(F.lit(1)).alias("__c"))
                .collect())
        return {r["__bk"]: r["__c"] for r in rows}

    def fit(self, target: DataFrame, raw: DataFrame) -> DSIRModel:
        import math

        nb = self.getOrDefault(self.numBuckets)
        a = self.getOrDefault(self.smoothing)
        ct = self._bucket_counts(target)
        cr = self._bucket_counts(raw)
        tt = sum(ct.values()) + a * nb
        tr = sum(cr.values()) + a * nb
        logratio = [
            math.log((ct.get(b, 0) + a) / tt)
            - math.log((cr.get(b, 0) + a) / tr)
            for b in range(nb)]
        model = DSIRModel(logratio, nb)
        model._set(inputCol=self.getInputCol(), idCol=self.getIdCol())
        return model


class PerplexityBucketer(AlgoOperator, HasRelativeError):
    """CCNet-style corpus partitioning by LM fluency (Wenzek et al.,
    LREC 2020, §4.3): split documents into ``head`` / ``middle`` /
    ``tail`` buckets by their language-model score — head = most
    fluent. Consumes the score column :class:`UnigramLMModel` appends
    (``mean_logprob``: HIGHER = lower perplexity = more fluent).

    Thresholds are corpus-level exact percentiles of the (6-dp rounded)
    score: ``head`` is ``score ≥ P(1 − headFrac)``, ``tail`` is
    ``score ≤ P(tailFrac)``, the rest ``middle``; documents with a NULL
    score (no tokens) get a NULL bucket. Rounding before the percentile
    makes the cut deterministic across engines — the DuckDB oracle
    replays it bit-for-bit. ``setRelativeError(>0)`` swaps the exact
    percentile for the bounded-memory ``approx_percentile`` sketch at
    100 TB (``HasRelativeError``).

    Scale shape: the AHP/TOPSIS two-pass pattern — one distributed
    percentile aggregation collapses to two scalar literals, then the
    bucket label is a map-side CASE folded into the scan projection.
    No sort, no window, no shuffle of the data.
    """

    scoreCol = Param(Params._dummy(), "scoreCol",
                     "fluency score column (higher = better)",
                     TypeConverters.toString)
    headFrac = Param(Params._dummy(), "headFrac",
                     "fraction of the corpus in the head bucket",
                     TypeConverters.toFloat)
    tailFrac = Param(Params._dummy(), "tailFrac",
                     "fraction of the corpus in the tail bucket",
                     TypeConverters.toFloat)

    _defaults = dict(scoreCol="mean_logprob", headFrac=1 / 3,
                     tailFrac=1 / 3)

    def transform(self, df: DataFrame) -> DataFrame:
        hf = self.getOrDefault(self.headFrac)
        tf = self.getOrDefault(self.tailFrac)
        if hf + tf >= 1.0 or hf <= 0 or tf <= 0:
            raise ValueError("need 0 < headFrac, tailFrac and "
                             "headFrac + tailFrac < 1")
        # Thresholds and comparisons must use the SAME fixed-point
        # quantizer: floor(x*1e6 + 0.5)/1e6 on both the SQL percentile
        # input and the column expression. round() disagrees with the
        # floor form at negative half-boundaries (mean_logprob < 0),
        # which would shift thresholds off the bucket comparison grid.
        sc = (F.floor((F.col(self.getOrDefault(self.scoreCol))) * 1e6 + 0.5) / 1e6)
        rounded = (f"floor(({self.getOrDefault(self.scoreCol)}) "
                   f"* 1e6 + 0.5) / 1e6")
        t1, t2 = (df
                  .agg(F.expr(self._percentile_sql(rounded, 1.0 - hf)),
                       F.expr(self._percentile_sql(rounded, tf))).collect()[0])
        bucket = (F.when(sc.isNull(), F.lit(None).cast("string"))
                  .when(sc >= F.lit(t1), F.lit("head"))
                  .when(sc <= F.lit(t2), F.lit("tail"))
                  .otherwise(F.lit("middle")))
        return df.withColumn("ppl_bucket", bucket)


class ZipfProfiler(AlgoOperator, HasInputCol):
    """Rank-frequency (Zipf) fit over the corpus token distribution —
    the one-row corpus health check: natural text follows
    ``freq ∝ rank^(-s)`` with s ≈ 1; machine-generated spam, template
    boilerplate and broken extractions bend the curve (|slope| far
    from 1, low r²).

    Output (one row)::

        n_tokens     total token occurrences
        n_types      distinct tokens
        top_rank     ranks fitted (min(maxRank, n_types))
        zipf_slope   OLS slope of ln(freq) on ln(rank) over the top
                     ranks (≈ −s)
        zipf_r2      fit r²

    Token counts are one hash aggregation; the rank cut is
    ``TakeOrderedAndProject`` (per-partition top-k, O(maxRank) to the
    final fit — never a global sort of the vocabulary), and the
    regression is one tiny aggregate over maxRank rows. Ranking ties
    break token-ascending on both engines."""

    maxRank = Param(Params._dummy(), "maxRank",
                    "top frequency ranks fitted", TypeConverters.toInt)

    _defaults = dict(inputCol="text", maxRank=256)

    def setMaxRank(self, v):
        v = int(v)
        if v < 8:
            raise ValueError(f"maxRank must be >= 8, got {v}")
        return self._set(maxRank=v)

    def transform(self, df: DataFrame) -> DataFrame:
        m = self.getOrDefault(self.maxRank)
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(self.getInputCol()),
                                       F.lit(""))), TOKEN_SPLIT),
            lambda t: t != "")
        counts = (df.select(F.explode(toks).alias("__t"))
                  .groupBy("__t")
                  .agg(F.count(F.lit(1)).alias("__c")))
        totals = counts.agg(
            F.sum("__c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"))
        top = (counts.orderBy(F.desc("__c"), F.asc("__t")).limit(m)
               .select("__c"))
        w = Window.orderBy(F.desc("__c"))
        ranked = top.withColumn("__r", F.row_number().over(w))
        fit = ranked.agg(
            F.count(F.lit(1)).alias("top_rank"),
            F.regr_slope(F.log("__c"), F.log("__r"))
            .alias("zipf_slope"),
            F.regr_r2(F.log("__c"), F.log("__r")).alias("zipf_r2"))
        return totals.crossJoin(fit).select(
            "n_tokens", "n_types", "top_rank",
            (F.floor((F.col("zipf_slope")) * 1e6 + 0.5) / 1e6).alias("zipf_slope"),
            (F.floor((F.col("zipf_r2")) * 1e6 + 0.5) / 1e6).alias("zipf_r2"))


class CorpusProfiler(AlgoOperator):
    """Per-group corpus statistics: document count, total/mean size, and
    exact p50/p90/p99 of a numeric column, grouped by arbitrary columns
    (language, source domain, split, ...).

    One ``groupBy`` aggregation — partial+final merge, output is
    O(groups) rows. ``percentile`` is the exact (interpolating) SQL
    aggregate rather than ``approx_percentile``: the t-digest sketch is
    engine-specific and would never match a SQL oracle, while the exact
    form sorts only within each (tiny) group's aggregation buffer. For
    genuinely huge per-group cardinalities swap in
    ``approx_percentile`` via ``setExact(False)`` (then the result is
    approximate and not oracle-comparable).
    """

    groupCols = Param(Params._dummy(), "groupCols",
                      "columns to group the profile by",
                      TypeConverters.toListString)
    valueCol = Param(Params._dummy(), "valueCol",
                     "numeric column to profile",
                     TypeConverters.toString)
    exact = Param(Params._dummy(), "exact",
                  "exact percentiles (matchable) vs approx_percentile",
                  TypeConverters.toBoolean)

    _defaults = dict(groupCols=["lang"], valueCol="n_chars", exact=True)

    def setGroupCols(self, *v):
        return self._set(groupCols=list(v))

    def setExact(self, v):
        return self._set(exact=bool(v))

    def transform(self, df: DataFrame) -> DataFrame:
        v = F.col(self.getOrDefault(self.valueCol))
        fn = "percentile" if self.getOrDefault(self.exact) \
            else "approx_percentile"
        pcts = F.expr(
            f"{fn}({self.getOrDefault(self.valueCol)}, "
            "array(0.5D, 0.9D, 0.99D))")
        return (df.groupBy(*self.getOrDefault(self.groupCols))
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(v).alias("total_value"),
                     F.avg(v).alias("mean_value"),
                     pcts[0].alias("p50"),
                     pcts[1].alias("p90"),
                     pcts[2].alias("p99")))

    def rank_error_report(self, df: DataFrame,
                          accuracy: int = 10000) -> DataFrame:
        """Pin the sketch path: per group and percentile p ∈ {.5, .9,
        .99}, locate the value ``approx_percentile`` (t-digest-style
        GK sketch, rank error ≤ 1/accuracy) returned inside the
        group's empirical CDF and flag it if its feasible rank
        interval ``[count(<v)/n, count(≤v)/n]`` misses
        ``p ± (1/accuracy + 1/n)`` (the 1/n term absorbs the
        discreteness of small groups). Output:
        ``(groups..., p, lo_frac, hi_frac, is_violation)`` — the basis
        of the violations-only correctness gate, the same contract as
        ``DistinctCounter.error_report``.

        Scale shape: one aggregation to O(groups·3) quantile rows,
        broadcast back onto the data, one counting aggregation."""
        gs = self.getOrDefault(self.groupCols)
        vc = self.getOrDefault(self.valueCol)
        data = df.filter(F.col(vc).isNotNull())
        pcts = F.expr(f"approx_percentile({vc}, "
                      f"array(0.5D, 0.9D, 0.99D), {accuracy})")
        ap = data.groupBy(*gs).agg(pcts.alias("__ap"))
        melted = ap.selectExpr(
            *gs,
            "stack(3, 0.5D, __ap[0], 0.9D, __ap[1], 0.99D, __ap[2]) "
            "AS (p, qv)")
        j = data.join(F.broadcast(melted), gs)
        v = F.col(vc)
        rep = (j.groupBy(*gs, "p")
               .agg(F.count(F.lit(1)).alias("__n"),
                    F.sum((v < F.col("qv")).cast("long")).alias("__lt"),
                    F.sum((v <= F.col("qv")).cast("long")).alias("__le")))
        lo = F.col("__lt") / F.col("__n")
        hi = F.col("__le") / F.col("__n")
        slack = F.lit(1.0 / accuracy) + 1.0 / F.col("__n")
        viol = (hi < F.col("p") - slack) | (lo > F.col("p") + slack)
        return (rep
                .withColumn("lo_frac", lo)
                .withColumn("hi_frac", hi)
                .withColumn("is_violation", viol)
                .drop("__n", "__lt", "__le"))


class LineFilter(AlgoOperator, HasInputCol):
    """C4-style line-level boilerplate removal (Raffel et al., JMLR
    2020, §2.2): a line survives iff it has at least ``minWords``
    words, (optionally) ends in terminal punctuation, and contains no
    blocklisted phrase (case-insensitive). Appends
    ``<inputCol>_filtered`` (survivors re-joined with ``lineSep``'s
    literal form), ``n_lines_kept`` and ``n_lines_total``.

    Pure higher-order-function expressions — map-only, linear per line
    (unlike the quadratic top-k signals that pushed RepetitionScorer to
    Arrow), and deliberately replayable in the DuckDB oracle.
    """

    lineSep = Param(Params._dummy(), "lineSep",
                    "line separator (literal string, used to split AND "
                    "re-join)", TypeConverters.toString)
    minWords = Param(Params._dummy(), "minWords",
                     "minimum words for a line to survive",
                     TypeConverters.toInt)
    requireTerminalPunct = Param(Params._dummy(), "requireTerminalPunct",
                                 "drop lines not ending in . ! ? or \"",
                                 TypeConverters.toBoolean)
    blocklist = Param(Params._dummy(), "blocklist",
                      "case-insensitive phrases that disqualify a line",
                      TypeConverters.toListString)

    _defaults = dict(inputCol="text", lineSep="\n", minWords=3,
                     requireTerminalPunct=True,
                     blocklist=["javascript", "cookie policy",
                                "terms of use", "privacy policy"])

    def setRequireTerminalPunct(self, v):
        return self._set(requireTerminalPunct=bool(v))

    def setBlocklist(self, *v):
        return self._set(blocklist=list(v))

    def transform(self, df: DataFrame) -> DataFrame:
        import re as _re

        col = self.getInputCol()
        sep = self.getOrDefault(self.lineSep)
        min_words = self.getOrDefault(self.minWords)
        need_punct = self.getOrDefault(self.requireTerminalPunct)
        block = [b.lower() for b in self.getOrDefault(self.blocklist)]

        def keep(x):
            t = F.trim(x)
            ok = F.size(F.filter(F.split(t, r"\s+"),
                                 lambda w: w != "")) >= min_words
            if need_punct:
                ok = ok & t.rlike('[.!?"]$')
            low = F.lower(t)
            for b in block:
                ok = ok & ~low.contains(b)
            return ok

        # NULL text ≡ empty document (coalesce): without it
        # size(split(NULL)) yields -1 counts and a NULL rewrite — the
        # same -1 class guarded in TokenCounter/PiiRedactor
        lines = F.split(F.coalesce(F.col(col), F.lit("")), _re.escape(sep))
        kept = F.filter(lines, keep)
        non_empty = F.filter(lines, lambda x: F.trim(x) != "")
        return (df
                .withColumn(f"{col}_filtered", F.array_join(kept, sep))
                .withColumn("n_lines_kept", F.size(kept))
                .withColumn("n_lines_total", F.size(non_empty)))


class UnigramLMModel(AlgoOperator, HasInputCol, HasIdColMixin):
    """Scores documents by mean token log-probability under a fitted
    unigram LM (see :class:`UnigramLM`). Appends ``mean_logprob`` (the
    CCNet-style fluency signal — higher = closer to the training
    corpus) and ``oov_frac``.

    Plan: the vocab is O(maxVocab) by construction, so apply is a
    single Arrow map pass over a broadcast ``{token: logp}`` dict —
    zero shuffles (the earlier explode → broadcast-join →
    ``groupBy(id)`` → join-back shape cost two full-data exchanges) and
    therefore stream-compatible unchanged: a streaming DataFrame flows
    through as a pure projection, the batch/stream parity the other
    map-only text operators share. Documents with no tokens (including
    NULL text) score NULL for both outputs, matching the left-join
    semantics of the SQL oracle.
    """

    _state = ("_vocab", "_oov_logp")

    _defaults = dict(inputCol="text", idCol="doc_id")

    def __init__(self, vocab: DataFrame | None = None,
                 oov_logp: float | None = None):
        super().__init__()
        self._vocab = vocab          # (token string, logp double)
        self._oov_logp = oov_logp

    def transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd

        # O(maxVocab) driver pull, bounded by the fit-time cap — the
        # CCNet shape (a model artifact small enough to ship to every
        # task) rather than a data-sized table
        vmap = {r["token"]: r["logp"] for r in self._vocab.collect()}
        bc = df.sparkSession.sparkContext.broadcast(vmap)
        oov = self._oov_logp
        tok_pat = TOKEN_SPLIT

        # no type hints: see RepetitionScorer
        @F.pandas_udf("struct<mean_logprob:double,oov_frac:double>")
        def score(texts):
            import re

            rx = re.compile(tok_pat)
            vm = bc.value
            out = []
            for t in texts:
                toks = ([w for w in rx.split(t.lower()) if w]
                        if t is not None else [])
                if not toks:
                    out.append((None, None))
                    continue
                s = 0.0
                n_oov = 0
                for w in toks:
                    lp = vm.get(w)
                    if lp is None:
                        n_oov += 1
                        s += oov
                    else:
                        s += lp
                out.append((s / len(toks), n_oov / len(toks)))
            return pd.DataFrame(out, columns=["mean_logprob", "oov_frac"])

        s = score(F.col(self.getInputCol()))
        return (df.withColumn("mean_logprob", s["mean_logprob"])
                .withColumn("oov_frac", s["oov_frac"]))


class UnigramLM(AlgoOperator, HasInputCol, HasIdColMixin):
    """Unigram language-model quality scorer (the language-model
    filtering idea of CCNet — Wenzek et al., "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data", LREC 2020 — with
    a unigram model standing in for the Kneser-Ney 5-gram, which needs
    no external artifacts and stays SQL-replayable).

    ``fit(corpus)`` counts tokens (one hash aggregation over the
    exploded token stream — zipf-shaped, partial+final merged), keeps
    the ``maxVocab`` most frequent (deterministic tie-break on token),
    and assigns ``logp = ln(count / total)``; out-of-vocabulary tokens
    score ``ln(1 / total)``. The vocab table is O(maxVocab) — broadcast
    at apply time.
    """

    maxVocab = Param(Params._dummy(), "maxVocab",
                     "most-frequent tokens kept in the model",
                     TypeConverters.toInt)

    _defaults = dict(inputCol="text", idCol="doc_id", maxVocab=65536)

    def _vocab_frame(self, df: DataFrame, total: int) -> DataFrame:
        """The capped vocab plan (pre-materialization). orderBy+limit
        compiles to TakeOrderedAndProject: per-partition top-K then a
        driver merge of K-sized heaps — unlike a global row_number
        window, which would funnel every distinct token through one
        task."""
        toks = F.filter(F.split(F.lower(F.col(self.getInputCol())),
                                TOKEN_SPLIT), lambda t: t != "")
        counts = (df.select(F.explode(toks).alias("token"))
                  .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
        return (counts
                .orderBy(F.desc("cnt"), F.asc("token"))
                .limit(self.getOrDefault(self.maxVocab))
                .select("token",
                        F.log(F.col("cnt") / F.lit(float(total)))
                        .alias("logp")))

    def fit(self, df: DataFrame) -> UnigramLMModel:
        from pyspark.sql import Observation

        toks = F.filter(F.split(F.lower(F.col(self.getInputCol())),
                                TOKEN_SPLIT), lambda t: t != "")
        # ONE tokenize pass: the corpus-total count rides the vocab
        # aggregation as an observe() metric (the old shape ran a
        # separate full explode+count action first); logp becomes a
        # lazy O(maxVocab) projection over the checkpointed counts
        obs = Observation()
        counts = (df.select(F.explode(toks).alias("token"))
                  .observe(obs, F.count(F.lit(1)).alias("total"))
                  .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
        capped = (counts.orderBy(F.desc("cnt"), F.asc("token"))
                  .limit(self.getOrDefault(self.maxVocab))
                  .localCheckpoint(eager=True))
        # empty vocab <=> zero tokens; guard it BEFORE obs.get — AQE's
        # empty-relation propagation can eliminate the CollectMetrics
        # node outright, in which case the observation never fires
        total = 1 if capped.isEmpty() else (int(obs.get["total"]) or 1)
        vocab = capped.select(
            "token",
            F.log(F.col("cnt") / F.lit(float(total))).alias("logp"))
        import math as _math

        model = UnigramLMModel(vocab, _math.log(1.0 / total))
        model._set(inputCol=self.getInputCol(), idCol=self.getIdCol())
        return model


class BigramLMModel(AlgoOperator, HasInputCol, HasIdColMixin):
    """Scores documents under a fitted interpolated bigram LM (see
    :class:`BigramLM`). Appends::

        mean_logprob  mean per-token log-probability: position 1 under
                      the unigram distribution, positions i >= 2 under
                      ``λ·p_ML(w_i|w_{i-1}) + (1−λ)·p_uni(w_i)``
                      (Jelinek-Mercer interpolation — p_ML falls to 0
                      when the bigram or its history is unmodeled, so
                      the unigram term is the backoff)
        bigram_frac   fraction of positions i >= 2 whose bigram is in
                      the model (NULL when the document has < 2 tokens)

    Documents with no tokens (including NULL text) score NULL for both.

    Plan: both count tables are capped at fit time, so apply is a
    single Arrow map pass over broadcast dicts — zero shuffles, hence
    stream-compatible unchanged (the same batch/stream parity contract
    as :class:`UnigramLMModel`).
    """

    _state = ("_unigrams", "_bigrams", "_total", "_lam")

    _defaults = dict(inputCol="text", idCol="doc_id")

    def __init__(self, unigrams: DataFrame | None = None,
                 bigrams: DataFrame | None = None,
                 total: int | None = None, lam: float = 0.7):
        super().__init__()
        self._unigrams = unigrams    # (token string, cnt long)
        self._bigrams = bigrams      # (w1 string, w2 string, cnt long)
        self._total = total
        self._lam = lam

    def transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd

        # O(maxVocab + maxBigrams) driver pull — the shippable-artifact
        # contract of the LM family (UnigramLMModel note applies)
        uni = {r["token"]: r["cnt"] for r in self._unigrams.collect()}
        big = {(r["w1"], r["w2"]): r["cnt"]
               for r in self._bigrams.collect()}
        bc_u = df.sparkSession.sparkContext.broadcast(uni)
        bc_b = df.sparkSession.sparkContext.broadcast(big)
        total = float(self._total)
        lam = self._lam
        tok_pat = TOKEN_SPLIT

        @F.pandas_udf("struct<mean_logprob:double,bigram_frac:double>")
        def score(texts):
            import math
            import re

            rx = re.compile(tok_pat)
            um, bm = bc_u.value, bc_b.value
            out = []
            for t in texts:
                toks = ([w for w in rx.split(t.lower()) if w]
                        if t is not None else [])
                if not toks:
                    out.append((None, None))
                    continue

                def puni(w):
                    return um.get(w, 1) / total if w in um else 1.0 / total

                s = math.log(puni(toks[0]))
                hits = 0
                for i in range(1, len(toks)):
                    w1, w2 = toks[i - 1], toks[i]
                    c1 = um.get(w1)
                    cb = bm.get((w1, w2))
                    pml = (cb / c1) if (cb is not None and c1) else 0.0
                    if cb is not None:
                        hits += 1
                    s += math.log(lam * pml + (1.0 - lam) * puni(w2))
                n = len(toks)
                out.append((s / n, hits / (n - 1) if n > 1 else None))
            return pd.DataFrame(out,
                                columns=["mean_logprob", "bigram_frac"])

        s = score(F.col(self.getInputCol()))
        return (df.withColumn("mean_logprob", s["mean_logprob"])
                .withColumn("bigram_frac", s["bigram_frac"]))


class BigramLM(AlgoOperator, HasInputCol, HasIdColMixin):
    """Interpolated bigram language model for fluency scoring — one
    rung up from :class:`UnigramLM` toward CCNet's Kneser-Ney 5-gram
    (Wenzek et al., LREC 2020), still fully SQL-replayable: exact
    counts, Jelinek-Mercer interpolation (Jelinek & Mercer 1980) with
    a fixed weight, deterministic vocabulary cuts.

    ``fit(corpus)``: one hash aggregation over the exploded token
    stream for unigram counts (top ``maxVocab``, ties on token) and
    one over adjacent pairs for bigram counts (top ``maxBigrams``,
    ties on the pair) — both cuts are ``TakeOrderedAndProject``
    (per-partition heaps, no global sort). The pair stream comes from
    a map-side ``explode`` of each document's zipped token array — no
    self-join. Model size is O(maxVocab + maxBigrams) by construction.
    """

    maxVocab = Param(Params._dummy(), "maxVocab",
                     "most-frequent tokens kept", TypeConverters.toInt)
    maxBigrams = Param(Params._dummy(), "maxBigrams",
                       "most-frequent bigrams kept", TypeConverters.toInt)
    interpWeight = Param(Params._dummy(), "interpWeight",
                         "λ on the bigram ML term", TypeConverters.toFloat)

    _defaults = dict(inputCol="text", idCol="doc_id", maxVocab=65536,
                     maxBigrams=1 << 18, interpWeight=0.7)

    def _toks(self) -> Column:
        return F.filter(F.split(F.lower(F.col(self.getInputCol())),
                                TOKEN_SPLIT), lambda t: t != "")

    def fit(self, df: DataFrame) -> BigramLMModel:
        from pyspark.sql import Observation

        toks = self._toks()
        # the corpus-total count rides the unigram aggregation as an
        # observe() metric — one tokenize pass, not two (cf. UnigramLM)
        obs = Observation()
        tok_stream = (df.select(F.explode(toks).alias("token"))
                      .observe(obs, F.count(F.lit(1)).alias("total")))
        unigrams = (tok_stream.groupBy("token")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .orderBy(F.desc("cnt"), F.asc("token"))
                    .limit(self.getOrDefault(self.maxVocab)))
        # adjacent pairs: zip the token array against its own tail
        # map-side (arrays_zip + slice), then ONE explode + groupBy
        pairs = F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))))
        bigrams = (df.select(F.explode(pairs).alias("p"))
                   .select(F.col("p")["0"].alias("w1"),
                           F.col("p")["1"].alias("w2"))
                   .groupBy("w1", "w2")
                   .agg(F.count(F.lit(1)).alias("cnt"))
                   .orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
                   .limit(self.getOrDefault(self.maxBigrams)))
        uni_ckpt = unigrams.localCheckpoint(eager=True)
        # empty vocab <=> zero tokens (see UnigramLM.fit on why the
        # guard must come before obs.get)
        total = (1 if uni_ckpt.isEmpty()
                 else (int(obs.get["total"]) or 1))
        model = BigramLMModel(uni_ckpt,
                              bigrams.localCheckpoint(eager=True),
                              total,
                              self.getOrDefault(self.interpWeight))
        model._set(inputCol=self.getInputCol(), idCol=self.getIdCol())
        return model


class FrequentNgrams(AlgoOperator, HasInputCol, HasIdColMixin):
    """Corpus-level frequent word-n-gram mining — the boilerplate
    detector a curation run uses to FIND the repeated phrases
    ("all rights reserved", cookie banners, navigation chrome) that
    :class:`LineFilter` / :class:`~..dedup.SubstringDeduplicator` then
    remove. ``transform(df)`` returns the global top-``topK`` n-grams
    as ``(ngram, doc_freq, total_count)``, ordered by document
    frequency (a phrase in 10k documents once each is boilerplate; a
    phrase 10k times in one document is repetition — RepetitionScorer's
    job), total count, then text, so the cut is a deterministic total
    order.

    100 TB design: tokenize + n-gram counting run as ONE Arrow map
    pass emitting each document's distinct grams with their in-doc
    counts (a Catalyst ``transform(sequence, i -> slice)`` formulation
    is CodegenFallback AND re-evaluates the token split per element
    under CollapseProject — O(tokens²) interpreted work per document,
    measured 8× slower at sf0.1; same rationale as
    :func:`..dedup.shingle_hash_udf`). The per-doc pre-aggregation
    means the single ``groupBy(ngram)`` shuffle carries distinct
    (doc, gram) pairs, not the raw occurrence stream; the top-k is
    ``TakeOrderedAndProject`` — per-partition heaps of k rows to the
    driver, never a global sort. The output is O(topK), so downstream
    use (a blocklist join) broadcasts.
    """

    n = Param(Params._dummy(), "n", "words per n-gram",
              TypeConverters.toInt)
    topK = Param(Params._dummy(), "topK", "n-grams returned",
                 TypeConverters.toInt)
    minDocFreq = Param(Params._dummy(), "minDocFreq",
                       "drop n-grams seen in fewer documents",
                       TypeConverters.toInt)

    _defaults = dict(inputCol="text", idCol="doc_id", n=3, topK=50,
                     minDocFreq=2)

    def transform(self, df: DataFrame) -> DataFrame:
        import re
        from collections import Counter

        import pandas as pd

        n = self.getN()
        tok_pat = TOKEN_SPLIT

        # no type hints: see RepetitionScorer.signals
        @F.pandas_udf("array<struct<g:string,c:int>>")
        def gram_counts(texts):
            rx = re.compile(tok_pat)
            out = []
            for t in texts:
                if t is None:
                    out.append([])
                    continue
                ws = [w for w in rx.split(t.lower()) if w]
                cnt = Counter(" ".join(ws[i:i + n])
                              for i in range(len(ws) - n + 1))
                out.append(list(cnt.items()))
            return pd.Series(out)

        # explode directly over the UDF call: the fast shape (one
        # ArrowEvalPython, no size filter) — see DSIR._bucket_counts
        exploded = df.select(
            F.explode(gram_counts(F.col(self.getInputCol())))
            .alias("__gc"))
        counts = (exploded
                  .groupBy(F.col("__gc.g").alias("ngram"))
                  .agg(F.sum("__gc.c").alias("total_count"),
                       F.count(F.lit(1)).alias("doc_freq"))
                  .filter(F.col("doc_freq") >= self.getMinDocFreq()))
        return (counts
                .orderBy(F.desc("doc_freq"), F.desc("total_count"),
                         F.asc("ngram"))
                .limit(self.getTopK())
                .select("ngram", "doc_freq", "total_count"))


class StratifiedSampler(AlgoOperator, HasIdColMixin):
    """Deterministic EXACT-k-per-stratum sampling — the eval/holdout
    set builder: "give me exactly 1000 documents per language,
    reproducibly, regardless of partition layout".

    Each stratum (``groupCol`` value; NULL is its own stratum) keeps
    the ``k`` rows with the smallest salted-md5 hex of their id (ties
    by id), with ``sample_rank`` (1-based) appended; strata smaller
    than ``k`` keep everything. Changing ``salt`` draws an
    independent sample; the assignment is layout-invariant.

    With ``scoreCol`` set, the draw becomes per-stratum quality
    CAPPING — "keep the best ``k`` documents per domain" (the
    FineWeb-style per-domain quota): rows rank by score DESCENDING,
    NULL scores last, equal scores split by the same salted hash so
    the cut inside a score plateau is still unbiased and
    reproducible.

    Complements :class:`DomainBalancer`, which deliberately avoids
    rank-within-group for corpus-scale REbalancing (binomial
    hash-threshold, zero shuffle): here k is small (an eval set, not
    a corpus), and the keyed top-k plans as WindowGroupLimit — each
    task pre-prunes to its local top k BEFORE the exchange, so the
    shuffle carries O(k · tasks) rows per stratum, never the stratum.
    Use the balancer for composition control, this for exact small
    samples.
    """

    groupCol = Param(Params._dummy(), "groupCol", "stratum column",
                     TypeConverters.toString)
    k = Param(Params._dummy(), "k", "exact rows kept per stratum",
              TypeConverters.toInt)
    salt = Param(Params._dummy(), "salt",
                 "hash salt; change to draw an independent sample",
                 TypeConverters.toString)
    scoreCol = Param(Params._dummy(), "scoreCol",
                     "when set, keep the k HIGHEST-score rows per "
                     "stratum instead of a random draw ('' disables)",
                     TypeConverters.toString)

    _defaults = dict(idCol="doc_id", groupCol="lang", k=100,
                     salt="sample", scoreCol="")

    def setK(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"k must be >= 1, got {v}")
        return self._set(k=v)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        idc = F.col(self.getIdCol())
        hx = F.md5(F.concat(F.lit(self.getOrDefault(self.salt) + ":"),
                            idc.cast("string")))
        # score mode = per-stratum quality capping ("the best k docs
        # per domain"); NULL scores lose to every real score, the
        # salted hash stays as the deterministic tie-splitter
        sc = self.getOrDefault(self.scoreCol)
        order = ([F.col(sc).desc_nulls_last()] if sc else []) + [
            hx.asc(), idc.asc()]
        w = (Window.partitionBy(self.getOrDefault(self.groupCol))
             .orderBy(*order))
        return (df.withColumn("sample_rank", F.row_number().over(w))
                .filter(F.col("sample_rank")
                        <= self.getOrDefault(self.k)))


class EpochShuffler(AlgoOperator, HasIdColMixin):
    """Deterministic epoch-shuffle layout: assigns every row a
    ``(shard, position)`` training order for a given epoch from a
    salted md5 of its id — reproducible across runs, engines, cluster
    sizes and partition layouts, which ``orderBy(rand())`` is not, and
    re-drawable per epoch by bumping ``epoch`` (each epoch is an
    independent permutation). The consumer writes shard files in
    ``position`` order and a data loader replays the exact global
    order; restarts and retries see the same bytes.

    Appends ``shard`` (``bucket16(salt+epoch, id) % numShards``) and
    ``position`` (0-based rank of the full md5 hex within the shard,
    ties broken by id).

    100 TB design: one hash exchange on ``shard`` plus a per-shard
    sort (a total order inside each shard is the point — the sort is
    irreducible). Size ``numShards`` so a shard fits an executor's
    spill budget (corpus_bytes / numShards ≲ a few GB); shards are
    equal-sized by construction because the hash is uniform.
    """

    numShards = Param(Params._dummy(), "numShards",
                      "number of output shards", TypeConverters.toInt)
    epoch = Param(Params._dummy(), "epoch",
                  "epoch number; changes the permutation",
                  TypeConverters.toInt)
    salt = Param(Params._dummy(), "salt", "hash salt",
                 TypeConverters.toString)

    _defaults = dict(idCol="doc_id", numShards=8, epoch=0,
                     salt="epoch")

    def transform(self, df: DataFrame) -> DataFrame:
        tag = f"{self.getSalt()}{self.getEpoch()}"
        idcol = F.col(self.getIdCol())
        hx = F.md5(F.concat(F.lit(tag + ":"), idcol.cast("string")))
        shard = _hash_bucket16(idcol, tag) % self.getNumShards()
        w = (Window.partitionBy("shard")
             .orderBy(F.col("__hx").asc(), idcol.asc()))
        return (df
                .withColumn("__hx", hx)
                .withColumn("shard", shard)
                .withColumn("position",
                            F.row_number().over(w) - F.lit(1))
                .drop("__hx"))


class DomainDivergence(AlgoOperator, HasInputCol):
    """Per-group token-distribution drift monitor: the KL divergence of
    each group's (language / source / time-slice) unigram distribution
    from the whole-corpus distribution, over the global top-
    ``vocabSize`` tokens with add-one smoothing — the corpus-QA signal
    that catches a domain whose content shifted (crawler drift, a
    source gone spammy) even when volume and quality scores look
    normal. One row per group: ``n_vocab_tokens`` (the group's token
    occurrences inside the shared vocab) and ``kl_to_corpus`` (nats).

    100 TB design: the token stream collapses to (group, token) counts
    in one partial+final shuffle; everything after runs on that
    O(groups·vocab) table — the vocab cut is a
    ``TakeOrderedAndProject`` (count desc, token asc: a deterministic
    total order), the group×vocab grid is a broadcast cross join of
    two tiny frames, and the KL sum is an O(groups·vocab) aggregation.
    No second pass over the data.
    """

    groupCol = Param(Params._dummy(), "groupCol",
                     "column whose groups are compared",
                     TypeConverters.toString)
    vocabSize = Param(Params._dummy(), "vocabSize",
                      "global top-V tokens the distributions run over",
                      TypeConverters.toInt)

    _defaults = dict(inputCol="text", groupCol="lang", vocabSize=300)

    def transform(self, df: DataFrame) -> DataFrame:
        grp = self.getGroupCol()
        V = self.getVocabSize()
        toks = F.filter(
            F.split(F.lower(F.col(self.getInputCol())), TOKEN_SPLIT),
            lambda t: t != "")
        gt = (df.select(F.col(grp).alias("__g"), F.explode(toks)
                        .alias("__t"))
              .groupBy("__g", "__t")
              .agg(F.count(F.lit(1)).alias("__c_gt")))
        vocab = (gt.groupBy("__t")
                 .agg(F.sum("__c_gt").alias("__c_t"))
                 .orderBy(F.desc("__c_t"), F.asc("__t"))
                 .limit(V))
        in_vocab = gt.join(F.broadcast(vocab.select("__t")), "__t")
        c_g = in_vocab.groupBy("__g").agg(F.sum("__c_gt").alias("__c_g"))
        # the add-one constant must be the ACTUAL vocab size (the cap
        # may exceed the corpus's distinct tokens) or p stops summing
        # to 1 and the "KL" can go negative
        tot = vocab.agg(F.sum("__c_t").alias("__C"),
                        F.count(F.lit(1)).alias("__V"))
        groups = df.select(F.col(grp).alias("__g")).distinct()
        grid = (groups.crossJoin(F.broadcast(vocab))
                .join(in_vocab, ["__g", "__t"], "left")
                .join(F.broadcast(c_g), "__g", "left")
                .crossJoin(F.broadcast(tot)))
        c_gt = F.coalesce(F.col("__c_gt"), F.lit(0))
        cg = F.coalesce(F.col("__c_g"), F.lit(0))
        p = (c_gt + 1) / (cg + F.col("__V"))
        q = (F.col("__c_t") + 1) / (F.col("__C") + F.col("__V"))
        return (grid
                .groupBy("__g")
                .agg(F.max(cg).alias("n_vocab_tokens"),
                     F.sum(p * F.log(p / q)).alias("kl_to_corpus"))
                .select(F.col("__g").alias(grp),
                        "n_vocab_tokens", "kl_to_corpus"))


class LineDeduplicator(AlgoOperator, HasInputCol, HasIdColMixin):
    """ACROSS-document exact line deduplication — the corpus-wide
    boilerplate scrub of RefinedWeb (Penedo et al. 2023 §3.3) and
    MassiveText: a line (navigation chrome, cookie banner, license
    header) that appears in ``dupDocs``-or-more distinct documents is
    removed from every document — or from every document except its
    corpus-wide first occurrence with ``keepFirst`` (first = smallest
    doc id, then smallest line index). Complements :class:`LineFilter`
    (per-document rules, no corpus state) and RepetitionScorer
    (within-document repetition).

    Appends ``<inputCol>_line_deduped`` (kept lines re-joined with
    newlines; NULL text ≡ empty document), ``n_lines_kept`` and
    ``n_lines_total`` (non-empty trimmed lines only — blank lines are
    dropped on reassembly, matching :class:`LineFilter`).

    100 TB design: lines explode with their position; frequency runs
    as two explicit aggregations — ``groupBy(key, doc)`` (combines
    map-side) then ``groupBy(key)`` over distinct pairs, avoiding a
    count-distinct Expand of the line stream; the keep decision is one
    hash join of the line stream against the O(distinct lines)
    frequency table (md5 keys — uniform, skew-free; a pathological
    all-same-line corpus degrades to its distinct-line count, not a
    hot reducer); reassembly is a per-document ``collect_list`` +
    ``array_sort``, bounded by lines-per-document.
    """

    dupDocs = Param(Params._dummy(), "dupDocs",
                    "distinct-document count at/above which a line is "
                    "boilerplate", TypeConverters.toInt)
    keepFirst = Param(Params._dummy(), "keepFirst",
                      "keep the corpus-wide first occurrence instead "
                      "of removing every copy", TypeConverters.toBoolean)

    _defaults = dict(inputCol="text", idCol="doc_id", dupDocs=2,
                     keepFirst=False)

    def setKeepFirst(self, v):
        return self._set(keepFirst=bool(v))

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        inc = self.getInputCol()
        out = f"{inc}_line_deduped"
        text = F.coalesce(F.col(inc), F.lit(""))
        lines = (df.select(F.col(idc).alias("__id"),
                           F.posexplode(F.split(text, "\n"))
                           .alias("__idx", "__ln"))
                 .filter(F.trim(F.col("__ln")) != "")
                 .withColumn("__k", F.md5(F.trim(F.col("__ln")))))
        per_doc = (lines.groupBy("__k", "__id")
                   .agg(F.min("__idx").alias("__minidx")))
        freq = (per_doc.groupBy("__k")
                .agg(F.count(F.lit(1)).alias("__dfreq"),
                     F.min(F.struct("__id", "__minidx")).alias("__first")))
        keep = F.col("__dfreq") < self.getDupDocs()
        if self.getKeepFirst():
            keep = keep | ((F.col("__id") == F.col("__first.__id"))
                           & (F.col("__idx") == F.col("__first.__minidx")))
        kept = lines.join(freq, "__k").filter(keep)
        agg = (kept.groupBy("__id")
               .agg(F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("__idx", "__ln"))),
                            lambda s: s["__ln"])).alias(out),
                    F.count(F.lit(1)).alias("n_lines_kept")))
        totals = (lines.groupBy("__id")
                  .agg(F.count(F.lit(1)).alias("n_lines_total")))
        stats = (totals.join(agg, "__id", "left")
                 .withColumnRenamed("__id", idc))
        return (df.join(stats, idc, "left")
                .withColumn(out, F.coalesce(F.col(out), F.lit("")))
                .withColumn("n_lines_kept",
                            F.coalesce("n_lines_kept", F.lit(0)))
                .withColumn("n_lines_total",
                            F.coalesce("n_lines_total", F.lit(0))))


class TokenBudgetSampler(AlgoOperator, HasIdColMixin):
    """Fill per-group TOKEN budgets — training mixtures are specified
    in tokens ("40 B tokens of web, 5 B of code"), not document
    counts, which is what :class:`DomainBalancer` rations. Documents
    are taken in salted-md5 hash order (unbiased, reproducible,
    layout-independent) until the group's budget is crossed; the
    document that crosses the boundary is included; groups absent
    from ``budgets`` are dropped.

    100 TB design: a naive per-group running sum would funnel each
    group through ONE window task. Instead the prefix runs in two
    phases: (1) per-(group, 16-bit hash bucket) token sums — one
    partial+final aggregation to an O(groups·65536) table on which
    the bucket-level running sum is computed (tiny window); (2) whole
    buckets strictly inside the budget are kept by a broadcast-join
    flag (map-only for ~65535/65536 of the kept data), and only the
    single boundary bucket per group (~1/65536 of the group) runs an
    exact within-bucket window. The result is IDENTICAL to the naive
    global rule — the oracle asserts exactly that, computing the
    global running sum directly. Integer token arithmetic end-to-end:
    bit-exact across engines.
    """

    groupCol = Param(Params._dummy(), "groupCol",
                     "column whose groups have budgets",
                     TypeConverters.toString)
    tokenCol = Param(Params._dummy(), "tokenCol",
                     "per-document token (or char) count column",
                     TypeConverters.toString)
    salt = Param(Params._dummy(), "salt",
                 "hash salt; change to draw an independent sample",
                 TypeConverters.toString)
    budgets = Param(Params._dummy(), "budgets",
                    "JSON {group: token budget}", TypeConverters.toString)

    _defaults = dict(groupCol="lang", tokenCol="n_tokens",
                     salt="budget", idCol="doc_id", budgets="")

    def getBudgets(self) -> dict:
        import json

        raw = self.getOrDefault(self.budgets)
        return json.loads(raw) if raw else {}

    def setBudgets(self, v: dict):
        import json

        if not v or any(b <= 0 for b in v.values()):
            raise ValueError("budgets must be positive")
        return self._set(budgets=json.dumps(
            {str(k): int(b) for k, b in v.items()}, sort_keys=True))

    def transform(self, df: DataFrame) -> DataFrame:
        grp, tok, idc = self.getGroupCol(), self.getTokenCol(), \
            self.getIdCol()
        tgt = self.getBudgets()
        if not tgt:
            raise ValueError("setBudgets first")
        tdf = df.sparkSession.createDataFrame(
            [(k, int(b)) for k, b in tgt.items()],
            "__g string, __budget long")
        rows = df.withColumn(
            "__b", _hash_bucket16(F.col(idc), self.getSalt()))
        bsums = (rows.groupBy(F.col(grp).cast("string").alias("__g"),
                              "__b")
                 .agg(F.sum(tok).alias("__bs")))
        wb = (Window.partitionBy("__g").orderBy("__b")
              .rowsBetween(Window.unboundedPreceding, -1))
        bstat = (bsums.join(F.broadcast(tdf), "__g")
                 .withColumn("__cumb",
                             F.coalesce(F.sum("__bs").over(wb), F.lit(0)))
                 .withColumn("__keep_all",
                             F.col("__cumb") + F.col("__bs")
                             <= F.col("__budget"))
                 .withColumn("__partial",
                             (F.col("__cumb") < F.col("__budget"))
                             & ~F.col("__keep_all"))
                 .filter(F.col("__keep_all") | F.col("__partial"))
                 # __b is renamed on this side: bstat descends from
                 # rows, so joining rows["__b"] == bstat["__b"] is a
                 # same-lineage attribute Spark must guess apart (it
                 # warns "trivially true equals predicate" and falls
                 # back to dataset-id disambiguation)
                 .select("__g", F.col("__b").alias("__bb"), "__keep_all",
                         (F.col("__budget") - F.col("__cumb"))
                         .alias("__rem")))
        joined = rows.join(
            F.broadcast(bstat),
            (F.col(grp).cast("string") == F.col("__g"))
            & (F.col("__b") == F.col("__bb"))).drop("__bb")
        whole = joined.filter("__keep_all")
        hx = F.md5(F.concat(F.lit(self.getSalt() + ":"),
                            F.col(idc).cast("string")))
        wr = (Window.partitionBy("__g", "__b")
              .orderBy(hx.asc(), F.col(idc).asc())
              .rowsBetween(Window.unboundedPreceding, -1))
        part = (joined.filter(~F.col("__keep_all"))
                .withColumn("__cumr",
                            F.coalesce(F.sum(tok).over(wr), F.lit(0)))
                .filter(F.col("__cumr") < F.col("__rem"))
                .drop("__cumr"))
        helpers = ["__b", "__g", "__keep_all", "__rem"]
        return whole.drop(*helpers).unionByName(part.drop(*helpers))


class QualityClassifierModel(AlgoOperator, HasInputCol):
    """Fitted fastText-style quality classifier: appends
    ``quality_prob`` — P(document comes from the curated reference
    corpus). Feature extraction (tokens + word bigrams → HashingTF)
    and the logistic scoring both run JVM-side; the apply pass is
    map-only."""

    _state = ("_num_features",)

    _defaults = dict(inputCol="text")

    def __init__(self, lr_model=None, num_features: int = 1 << 18):
        super().__init__()
        self._lr = lr_model
        self._num_features = num_features

    @staticmethod
    def _features_col(input_col: str):
        toks = F.filter(
            F.split(F.lower(F.coalesce(F.col(input_col), F.lit(""))),
                    TOKEN_SPLIT),
            lambda t: t != "")
        bigrams = F.zip_with(
            toks, F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b))
        return F.concat(toks, F.filter(bigrams, lambda g: g.contains(" ")))

    def _featurize(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.feature import HashingTF

        tf = HashingTF(inputCol="__toks", outputCol="__features",
                       numFeatures=self._num_features)
        return tf.transform(
            df.withColumn("__toks",
                          self._features_col(self.getInputCol())))

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.functions import vector_to_array

        if self._lr is None:
            raise ValueError("fit (or load) before transform")
        lr = self._lr.copy()
        lr.setFeaturesCol("__features")
        lr.setPredictionCol("__pred").setRawPredictionCol("__raw")
        lr.setProbabilityCol("__prob")
        scored = lr.transform(self._featurize(df))
        return (scored
                .withColumn("quality_prob",
                            F.element_at(vector_to_array("__prob"), 2))
                .drop("__toks", "__features", "__pred", "__raw", "__prob"))

    # -- persistence: delegate the LR coefficients to pyspark.ml ------

    def _save_model_data(self, path: str) -> None:
        import os

        if self._lr is not None:
            self._lr.write().overwrite().save(os.path.join(path, "lr"))

    def _load_model_data(self, spark, path: str) -> None:
        import os

        from pyspark.ml.classification import LogisticRegressionModel

        self._lr = LogisticRegressionModel.load(os.path.join(path, "lr"))


class QualityClassifier(Estimator, HasInputCol, HasMaxIter):
    """Model-based quality filtering, the third pillar of curation
    beside rule filters and dedup (the fastText classifier of GPT-3 /
    LLaMA / DataComp, Gadre et al. 2023 §3.4; FineWeb-Edu's educational
    scorer): ``fit(positives, negatives)`` trains a logistic regression
    over hashed token + word-bigram counts distinguishing a curated
    reference corpus from raw crawl; the model appends
    ``quality_prob`` for ranking or thresholding.

    Built by composing native pyspark.ml (``HashingTF`` +
    ``LogisticRegression``): tokenization and feature hashing are
    Catalyst/JVM expressions, training is Spark's distributed L-BFGS
    (treeAggregate gradients — no custom driver loop to maintain), and
    scoring is a map-only JVM pass. numFeatures bounds model size
    (2^18 floats ≈ 1 MB broadcast).
    """

    numFeatures = Param(Params._dummy(), "numFeatures",
                        "hashed feature space size",
                        TypeConverters.toInt)
    regParam = Param(Params._dummy(), "regParam", "L2 regularization",
                     TypeConverters.toFloat)

    _defaults = dict(inputCol="text", numFeatures=1 << 18,
                     maxIter=50, regParam=0.01)

    def fit(self, positives: DataFrame,
            negatives: DataFrame) -> QualityClassifierModel:
        from pyspark.ml.classification import LogisticRegression

        inc = self.getInputCol()
        data = (positives.select(F.col(inc).alias(inc))
                .withColumn("label", F.lit(1.0))
                .unionByName(negatives.select(F.col(inc).alias(inc))
                             .withColumn("label", F.lit(0.0))))
        model = QualityClassifierModel(
            num_features=self.getNumFeatures())
        model._set(inputCol=inc)
        feats = model._featurize(data)
        lr = LogisticRegression(
            featuresCol="__features", labelCol="label",
            maxIter=self.getOrDefault(self.maxIter),
            regParam=self.getRegParam(), standardization=False)
        # cache the featurized frame for the duration of the fit:
        # MLlib's blockified L-BFGS makes TWO full passes over the
        # input before its own block cache exists (the summary
        # treeAggregate and the first loss pass), so an uncached input
        # pays tokenization + hashing twice (measured ~1 s each at
        # sf0.1). Bounded like MLlib's own block cache; released
        # before returning.
        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            model._lr = lr.fit(feats)
        finally:
            feats.unpersist()
        # Drop the training summary: it pins the predictions DataFrame
        # (and through it the SparkSession) inside the model object
        # that scoring serializes into every task. Besides the driver
        # memory, the session reference is a serialization landmine —
        # SparkSession.observationManager is a lazy val, so the model
        # stays Java-serializable only until ANYTHING in the session
        # touches observe(); after that every transform() task would
        # die with NotSerializableException(ObservationManager).
        # setSummary is private[ml], which the JVM compiles to a
        # public method, so the py4j call is legal bytecode access.
        model._lr._java_obj.setSummary(
            positives.sparkSession._jvm.scala.Option.apply(None))
        return model


class WeightedSampler(AlgoOperator, HasIdColMixin):
    """Weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis & Spirakis, "Weighted random sampling with a
    reservoir", IPL 2006): each row draws ``u ∈ (0, 1]`` from a
    salted md5 of its id and ranks by ``ln(u)/w`` — the top ``n``
    rows are a weighted sample without replacement (inclusion odds
    proportional to weight at each draw). Deterministic,
    layout-independent and engine-portable: change ``salt`` to draw
    an independent sample. Rows with NULL or non-positive weight are
    excluded. Appends ``sample_key`` (the ranking key).

    The quality-weighted corpus draw ("sample 1 M documents
    proportional to quality score") this family's other samplers
    don't cover: :class:`DomainBalancer` rations by group,
    :class:`TokenBudgetSampler` fills budgets — this one biases BY a
    per-row weight.

    100 TB design: one map-side key projection, then ``orderBy +
    limit`` compiles to ``TakeOrderedAndProject`` — per-partition
    heaps of n rows merged on the driver, no global sort. Ranking
    compares keys rounded to 12 decimals (id tiebreak) so the cut is
    reproducible across engines' last-ulp ``ln`` differences.
    """

    weightCol = Param(Params._dummy(), "weightCol",
                      "positive sampling weight column",
                      TypeConverters.toString)
    n = Param(Params._dummy(), "n", "sample size", TypeConverters.toInt)
    salt = Param(Params._dummy(), "salt",
                 "hash salt; change for an independent draw",
                 TypeConverters.toString)

    U_DENOM = float(1 << 60)

    _defaults = dict(weightCol="n_chars", n=100, salt="wsample",
                     idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        w = F.col(self.getWeightCol()).cast("double")
        h = portable_hash60(F.concat(F.lit(self.getSalt() + ":"),
                                     F.col(idc).cast("string")))
        u = (h + 1) / F.lit(self.U_DENOM)
        key = F.log(u) / w
        # rank on the key clamped at -9e6: floor(key*1e12) must stay
        # inside int64 (Spark floor(double) SATURATES silently at
        # +/-2^63 while DuckDB's ::BIGINT raises — a clamp-free key
        # overflows once w < |ln u|/9e6 ~ 5e-6). Keys below -9e6 are
        # the least-selectable tail; they collapse to the id tiebreak
        # identically on both engines. The emitted sample_key column
        # keeps the true unclamped value.
        rank_key = F.floor(F.greatest(key, F.lit(-9e6)) * 1e12 + 0.5)
        return (df.filter(w.isNotNull() & (w > 0))
                .withColumn("sample_key", key)
                .orderBy(rank_key.desc(), F.col(idc).asc())
                .limit(self.getN()))


class CompressionScorer(AlgoOperator, HasInputCol):
    """zlib compression ratio as a redundancy signal — the
    cheap-but-effective quality heuristic of Gopher-line pipelines
    (highly compressible text is boilerplate/repetition; text that
    INFLATES under compression is usually noise or already-encoded
    payload). Appends::

        raw_bytes       bigint  UTF-8 byte length (0 for NULL)
        compress_ratio  double  compressed / raw bytes
                                (NULL for NULL/empty text)

    ``level`` pins the zlib effort (default 6) so the score is
    deterministic across runs and machines — zlib output for a given
    (input, level) is stable, which is what makes the invariant gate
    (`compression_invariants_documents`) hashable.

    100 TB design: one Arrow-batched pandas pass (zlib is not
    expressible in Catalyst) — map-only, no shuffle, same cost class
    as the fingerprint operators; streaming-compatible unchanged.
    """

    level = Param(Params._dummy(), "level",
                  "zlib compression level 1-9", TypeConverters.toInt)

    _defaults = dict(inputCol="text", level=6)

    def setLevel(self, v):
        v = int(v)
        if not 1 <= v <= 9:
            raise ValueError(f"level must be in [1, 9], got {v}")
        return self._set(level=v)

    def transform(self, df: DataFrame) -> DataFrame:
        import zlib

        lvl = self.getOrDefault(self.level)

        # no type hints: see RepetitionScorer
        @F.pandas_udf("struct<raw_bytes:bigint,compress_ratio:double>")
        def score(texts):
            out = []
            for t in texts:
                if t is None or t == "":
                    out.append((0, None))
                    continue
                b = t.encode("utf-8")
                out.append((len(b), len(zlib.compress(b, lvl)) / len(b)))
            import pandas as pd
            return pd.DataFrame(out, columns=["raw_bytes",
                                              "compress_ratio"])

        col = self.getInputCol()
        return (df.withColumn("__cmp", score(F.col(col)))
                  .withColumn("raw_bytes", F.col("__cmp.raw_bytes"))
                  .withColumn("compress_ratio",
                              F.col("__cmp.compress_ratio"))
                  .drop("__cmp"))


class NegativeSampler(AlgoOperator, HasIdColMixin):
    """Deterministic uniform negative sampling for contrastive /
    metric-learning training pairs (the random-negative baseline of
    e.g. Mikolov et al. 2013 negative sampling; DPR, Karpukhin et al.
    2020 in-batch-plus-random negatives): for every anchor row, draw
    ``k`` corpus rows that are neither the anchor itself nor a known
    positive.

    Draws are a pure LCG over (anchor id, draw index) mapped onto the
    corpus's dense id rank — NO RNG state, so the sample is
    reproducible run-to-run, layout-independent, and exactly
    replayable in SQL (the oracle recomputes every draw). Change
    ``salt`` for an independent draw.

    100 TB shape: the dense rank comes from ``repartitionByRange`` +
    per-partition ``row_number`` + broadcast cumulative offsets — a
    range shuffle, never a single-partition global window (the rank
    is boundary-independent: disjoint ranges with cumulative offsets
    yield the global order-by-id rank whatever boundaries the range
    partitioner samples). Draws join the indexed corpus on the dense
    rank (equi shuffle), positives/self drop via one anti-join /
    filter, and a keyed ``row_number`` keeps the first ``k``
    surviving draws per anchor. ``oversample`` extra draws absorb the
    excluded ones; anchors with fewer than ``k`` survivors keep what
    they got (raise ``oversample`` for dense positive sets).
    """

    k = Param(Params._dummy(), "k", "negatives per anchor",
              TypeConverters.toInt)
    oversample = Param(Params._dummy(), "oversample",
                       "extra draws per anchor to absorb exclusions",
                       TypeConverters.toInt)
    salt = Param(Params._dummy(), "salt",
                 "draw salt; change for an independent sample",
                 TypeConverters.toInt)

    # Knuth/Numerical-Recipes LCG multipliers; modulus 2^31-1 keeps
    # every product within int64 for ids up to ~4.3e9
    _A = 2654435761
    _C = 1013904223
    _M = 2147483647

    _defaults = dict(k=4, oversample=4, salt=0, idCol="doc_id")

    @staticmethod
    def _dense_index(df: DataFrame, idc: str) -> DataFrame:
        """(id, __idx) with __idx the 0-based rank of ``idc`` — a
        range shuffle + per-partition row numbers + broadcast offsets,
        never one global-window partition."""
        from pyspark.sql import Window

        part = (df.select(F.col(idc).alias("__nid"))
                .repartitionByRange(F.col("__nid"))
                .withColumn("__p", F.spark_partition_id()))
        w = Window.partitionBy("__p").orderBy("__nid")
        within = part.withColumn("__r", F.row_number().over(w) - 1)
        counts = {r["__p"]: r["cnt"] for r in
                  part.groupBy("__p").agg(
                      F.count(F.lit(1)).alias("cnt")).collect()}
        offsets, acc = {}, 0
        for p in sorted(counts):
            offsets[p] = acc
            acc += counts[p]
        # map literal keyed by partition id (tiny: O(partitions))
        mapping = F.create_map(*[
            F.lit(v) for p in sorted(offsets)
            for v in (p, offsets[p])])
        return (within.withColumn(
            "__idx", F.col("__r") + mapping[F.col("__p")])
            .select("__nid", "__idx"))

    def sample(self, anchors: DataFrame, corpus: DataFrame,
               positives: DataFrame | None = None) -> DataFrame:
        """(anchor_id, neg_id, draw) — ``draw`` is the surviving draw
        rank (1..k). ``positives``: optional (anchor_id, pos_id)
        pairs to exclude."""
        idc = self.getIdCol()
        k = self.getOrDefault(self.k)
        extra = self.getOrDefault(self.oversample)
        salt = self.getOrDefault(self.salt)
        n = corpus.count()
        if n == 0:
            raise ValueError("empty corpus")
        idx = self._dense_index(corpus, idc)

        # every term forced to long: int32 draw indices times the LCG
        # increment would silently wrap at 2^31 in non-ANSI Spark
        # while a 64-bit SQL engine does not
        draws = (anchors.select(F.col(idc).cast("long")
                                .alias("anchor_id"))
                 .withColumn("__i", F.explode(F.array(
                     *[F.lit(i) for i in range(1, k + extra + 1)])))
                 .withColumn("__t", F.pmod(
                     F.pmod(F.col("anchor_id") * F.lit(self._A)
                            + (F.col("__i") + F.lit(salt))
                            .cast("long") * F.lit(self._C),
                            F.lit(self._M)),
                     F.lit(n))))
        hit = (draws.join(idx, draws["__t"] == idx["__idx"])
               .select("anchor_id", "__i",
                       F.col("__nid").alias("neg_id"))
               .filter(F.col("neg_id") != F.col("anchor_id"))
               # LCG collisions can re-draw the same negative — keep
               # the earliest draw index (deterministic, replayable)
               .groupBy("anchor_id", "neg_id")
               .agg(F.min("__i").alias("__i")))
        if positives is not None:
            hit = hit.join(
                positives.select(
                    F.col(positives.columns[0]).alias("anchor_id"),
                    F.col(positives.columns[1]).alias("neg_id")),
                ["anchor_id", "neg_id"], "left_anti")
        from pyspark.sql import Window

        w = Window.partitionBy("anchor_id").orderBy("__i")
        return (hit.withColumn("draw", F.row_number().over(w))
                .filter(F.col("draw") <= k)
                .select("anchor_id", "neg_id", "draw"))

    def transform(self, df: DataFrame) -> DataFrame:
        """Self-corpus sampling: every row is an anchor."""
        return self.sample(df, df)


class ContentDefinedChunker(AlgoOperator, HasInputCol, HasIdColMixin):
    """Content-defined chunking (CDC): split documents at positions
    where a 32-character Gear rolling hash of the trailing text hits a
    mask — so chunk boundaries move WITH the content, and an insertion
    near the front of a document shifts only the chunks it touches
    (fixed-size chunking would re-cut everything downstream). Chunk
    hashes then support insertion-robust chunk-level dedup / delta
    storage (Manber, "Finding similar files in a large file system",
    USENIX 1994; FastCDC, Xia et al., USENIX ATC 2016).

    One output row per chunk::

        chunk_index  int     1-based within the document
        chunk_start  int     1-based character offset
        chunk_len    int     characters
        chunk_text   string
        chunk_hash   string  md5 of the chunk text

    Boundary rule (engine-portable, oracle-replayable): after
    character ``i`` iff ``h_i % 2^maskBits == 0``, where ``h_i`` is
    the Gear hash ``h_i = (2·h_{i-1} + g(c_i)) mod 2^32`` with
    per-codepoint gear values ``g(c) = md5-60bit(str(codepoint)) mod
    2^31``. The recursion has a closed form — the 32-term shifted sum
    ``Σ_j g(c_{i-j})·2^j mod 2^32`` — which is what the DuckDB oracle
    replays; expected chunk length is ``2^maskBits`` characters.

    ``minChunk``/``maxChunk`` add the FastCDC size clamps (skip
    boundaries closer than ``minChunk`` to the previous cut; force a
    cut at ``maxChunk``). The clamp decision is inherently sequential
    per document, which is why the whole operator is one Arrow
    ``mapInPandas`` pass — per-document state never crosses rows, so
    it partitions perfectly. With the default ``minChunk=1`` and no
    ``maxChunk`` the cut set is a pure position predicate (the
    SQL-oracle mode).

    100 TB design: map-only (no shuffle); output size = input size +
    O(1) per chunk. Gear values are memoized per distinct codepoint
    inside each Python worker. NULL/empty documents emit no rows.
    """

    maskBits = Param(Params._dummy(), "maskBits",
                     "boundary mask width; expected chunk = 2^maskBits"
                     " chars", TypeConverters.toInt)
    minChunk = Param(Params._dummy(), "minChunk",
                     "suppress boundaries closer than this to the "
                     "previous cut", TypeConverters.toInt)
    maxChunk = Param(Params._dummy(), "maxChunk",
                     "force a cut at this length (0 = no cap)",
                     TypeConverters.toInt)

    GEAR_MOD = 1 << 32
    GEAR_VAL_MOD = 1 << 31

    _defaults = dict(inputCol="text", idCol="doc_id", maskBits=6,
                     minChunk=1, maxChunk=0)

    def setMaskBits(self, v):
        v = int(v)
        if not 1 <= v <= 31:
            raise ValueError(f"maskBits must be in [1, 31], got {v}")
        return self._set(maskBits=v)

    def setMinChunk(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"minChunk must be >= 1, got {v}")
        return self._set(minChunk=v)

    def setMaxChunk(self, v):
        v = int(v)
        if v < 0:
            raise ValueError(f"maxChunk must be >= 0, got {v}")
        return self._set(maxChunk=v)

    def transform(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        c = self.getInputCol()
        mask = (1 << self.getOrDefault(self.maskBits)) - 1
        mn = self.getOrDefault(self.minChunk)
        mx = self.getOrDefault(self.maxChunk)
        if mx and mx < mn:
            raise ValueError("maxChunk must be >= minChunk")
        id_type = df.schema[idc].dataType.simpleString()
        sch = (f"{idc} {id_type}, chunk_index int, chunk_start int,"
               " chunk_len int, chunk_text string, chunk_hash string")
        # plain ints, NOT self.<attr>: capturing `self` would pickle
        # the operator (class by reference), forcing every fresh
        # Python worker to import the package chain before its first
        # batch (guide §4.5; see operators/fcm._make_np_math)
        gear_mod, gear_val_mod = self.GEAR_MOD, self.GEAR_VAL_MOD

        def chunks(batches):
            import hashlib

            import pandas as pd

            gear: dict[int, int] = {}

            def g(cp: int) -> int:
                v = gear.get(cp)
                if v is None:
                    v = int(hashlib.md5(str(cp).encode("ascii"))
                            .hexdigest()[:15], 16) % gear_val_mod
                    gear[cp] = v
                return v

            def cut_points(text: str) -> list[int]:
                h, last, out = 0, 0, []
                for i, ch in enumerate(text, start=1):
                    h = (2 * h + g(ord(ch))) % gear_mod
                    if i == len(text):
                        break
                    if mx and i - last >= mx:
                        out.append(i)
                        last = i
                        continue
                    if (h & mask) == 0 and i - last >= mn:
                        out.append(i)
                        last = i
                return out

            for pdf in batches:
                rows = []
                for did, text in zip(pdf[idc], pdf[c]):
                    if text is None or not len(text):
                        continue
                    bounds = [0] + cut_points(text) + [len(text)]
                    for k in range(len(bounds) - 1):
                        lo, hi = bounds[k], bounds[k + 1]
                        piece = text[lo:hi]
                        rows.append((
                            did, k + 1, lo + 1, hi - lo, piece,
                            hashlib.md5(piece.encode("utf-8"))
                            .hexdigest()))
                yield pd.DataFrame(
                    rows, columns=[idc, "chunk_index", "chunk_start",
                                   "chunk_len", "chunk_text",
                                   "chunk_hash"])

        return (ensure_min_parallelism(df.select(idc, c))
                .mapInPandas(chunks, sch))

    def duplicate_chunks(self, chunked: DataFrame) -> DataFrame:
        """(chunk_hash, n_docs, n_occurrences) for chunks seen more
        than once — the chunk-level dedup ledger. One aggregation on
        the already-content-keyed hash."""
        idc = self.getIdCol()
        return (chunked.groupBy("chunk_hash")
                .agg(F.countDistinct(idc).alias("n_docs"),
                     F.count(F.lit(1)).alias("n_occurrences"))
                .filter(F.col("n_occurrences") > 1))


class ChunkOverlapDetector(AlgoOperator, HasIdColMixin):
    """Document near-dup pairs from shared content-defined chunks:
    two documents are related when they share at least
    ``minFraction`` of the smaller one's chunks — the CDC-native
    alternative to MinHash when :class:`ContentDefinedChunker` output
    already exists (storage dedup ledgers, incremental crawls).

    ``pairs(chunked)`` takes chunker output and returns::

        id_a, id_b        doc ids (id_a < id_b)
        n_shared          distinct shared chunk hashes
        overlap_frac      n_shared / min(chunks_a, chunks_b)

    100 TB design: candidates come from an equi-join on
    ``chunk_hash`` (content-keyed, ~uniform) — never all pairs. The
    one data-dependent hazard is a boilerplate chunk shared by k
    documents contributing k² join rows, so chunks with document
    frequency above ``maxDf`` are dropped FIRST (they carry no
    discriminative signal — the exact trick prefix-filter joins use);
    the pair aggregation then bounds output by true overlap.
    """

    minFraction = Param(Params._dummy(), "minFraction",
                        "min shared fraction of the smaller doc's "
                        "chunks", TypeConverters.toFloat)
    maxDf = Param(Params._dummy(), "maxDf",
                  "drop chunks appearing in more than this many docs",
                  TypeConverters.toInt)

    _defaults = dict(idCol="doc_id", minFraction=0.5, maxDf=1000)

    def setMinFraction(self, v):
        v = float(v)
        if not 0.0 < v <= 1.0:
            raise ValueError(f"minFraction must be in (0, 1], got {v}")
        return self._set(minFraction=v)

    def setMaxDf(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"maxDf must be >= 2, got {v}")
        return self._set(maxDf=v)

    def pairs(self, chunked: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        mf = self.getOrDefault(self.minFraction)
        # distinct (doc, hash): repeated chunks within one doc count once
        dh = chunked.select(idc, "chunk_hash").distinct()
        sizes = dh.groupBy(idc).agg(F.count(F.lit(1)).alias("__sz"))
        df_ok = (dh.groupBy("chunk_hash")
                 .agg(F.count(F.lit(1)).alias("__df"))
                 .filter(F.col("__df") <= self.getOrDefault(self.maxDf))
                 .filter(F.col("__df") > 1)
                 .select("chunk_hash"))
        keyed = dh.join(df_ok, "chunk_hash")
        shared = (keyed.alias("l")
                  .join(keyed.alias("r"), "chunk_hash")
                  .filter(F.col(f"l.{idc}") < F.col(f"r.{idc}"))
                  .groupBy(F.col(f"l.{idc}").alias("id_a"),
                           F.col(f"r.{idc}").alias("id_b"))
                  .agg(F.count(F.lit(1)).alias("n_shared")))
        sa = sizes.select(F.col(idc).alias("id_a"),
                          F.col("__sz").alias("__sza"))
        sb = sizes.select(F.col(idc).alias("id_b"),
                          F.col("__sz").alias("__szb"))
        return (shared.join(sa, "id_a").join(sb, "id_b")
                .withColumn("overlap_frac",
                            F.col("n_shared")
                            / F.least("__sza", "__szb"))
                .filter(F.col("overlap_frac") >= mf)
                .select("id_a", "id_b", "n_shared", "overlap_frac"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.pairs(df)


class TemporalSplitter(AlgoOperator):
    """Time-ordered train/test split with an embargo gap — the
    leakage-safe protocol for forecasting / time-series ML (cf. the
    purged split of de Prado 2018 ch. 7): everything before
    ``trainEnd`` trains, the ``embargoSec`` seconds after it are
    DISCARDED from both sides (quarantined — features computed with
    lookback windows straddle the boundary there), and the rest
    tests.

    Appends ``outputCol`` ∈ {'train', 'embargo', 'test'}; NULL
    timestamps get NULL. Pure projection — deterministic on every
    engine/partitioning, composes with
    :class:`SplitLeakageAuditor` downstream.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    trainEnd = Param(Params._dummy(), "trainEnd",
                     "first instant NOT in train "
                     "('yyyy-MM-dd[ HH:mm:ss]')",
                     TypeConverters.toString)
    embargoSec = Param(Params._dummy(), "embargoSec",
                       "quarantined seconds after trainEnd",
                       TypeConverters.toFloat)
    outputCol = Param(Params._dummy(), "outputCol", "split column",
                      TypeConverters.toString)

    _defaults = dict(timeCol="ts", embargoSec=0.0,
                     outputCol="split")

    def setEmbargoSec(self, v):
        v = float(v)
        if v < 0:
            raise ValueError(f"embargoSec must be >= 0, got {v}")
        return self._set(embargoSec=v)

    def transform(self, df: DataFrame) -> DataFrame:
        if not self.isDefined(self.trainEnd):
            raise ValueError("setTrainEnd is required")
        t = F.col(self.getOrDefault(self.timeCol))
        end = F.lit(self.getOrDefault(self.trainEnd)).cast("timestamp")
        emb_us = int(self.getOrDefault(self.embargoSec) * 1_000_000)
        emb_end = F.timestamp_micros(F.unix_micros(end) + emb_us)
        split = (F.when(t.isNull(), F.lit(None).cast("string"))
                 .when(t < end, F.lit("train"))
                 .when(t < emb_end, F.lit("embargo"))
                 .otherwise(F.lit("test")))
        return df.withColumn(self.getOrDefault(self.outputCol), split)


class HeapsLawProfiler(AlgoOperator, HasInputCol):
    """Heaps'-law vocabulary-growth fit, ``V(n) = K·n^β`` (Heaps 1978;
    β ≈ 0.4–0.6 for natural language): the companion corpus-health
    check to :class:`ZipfProfiler` — template/spam corpora saturate
    (β → 0, new text adds no vocabulary), OCR noise and mojibake
    inflate it (β → 1, every page mints new "words").

    The corpus is cut into ``numPoints`` ID-RANGE buckets of the
    ``orderCol`` (deterministic, windowless over the data — requires a
    roughly uniform id column, which ingestion ids are); per bucket
    the profiler accumulates total token occurrences n and NEW types
    (tokens whose first bucket it is), then fits ln V on ln n by OLS
    over the ≤ numPoints cumulative points.

    Output (one row)::

        n_docs, n_tokens, n_types   corpus totals
        n_points                    non-empty buckets fitted
        heaps_k                     exp(intercept)
        heaps_beta                  OLS slope (the growth exponent)
        heaps_r2                    fit r²

    Scale shape: tokenize+explode (map-only) → one (token → min
    bucket) aggregation sized by the VOCABULARY → O(numPoints)
    cumulative window + a 1-row fit. No data-sized window, no global
    sort; the only shuffles are the two hash aggregations.
    """

    orderCol = Param(Params._dummy(), "orderCol",
                     "uniform-ish id column defining corpus order",
                     TypeConverters.toString)
    numPoints = Param(Params._dummy(), "numPoints",
                      "ID-range buckets (fit points)",
                      TypeConverters.toInt)

    _defaults = dict(inputCol="text", orderCol="doc_id",
                     numPoints=16)

    def setNumPoints(self, v):
        v = int(v)
        if v < 4:
            raise ValueError(f"numPoints must be >= 4, got {v}")
        # the fixed-point moments are exact int64: with lx <= 3.5e7
        # (ln of a 100 TB corpus in millionths), n_points * sum(lx*lx)
        # <= P^2 * 1.2e15, which wraps silently past 2^63 under
        # non-ANSI Spark once P exceeds ~86 — cap at 64 to keep the
        # documented headroom
        if v > 64:
            raise ValueError(
                f"numPoints must be <= 64 (int64 headroom of the exact "
                f"fixed-point log moments), got {v}")
        return self._set(numPoints=v)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql.functions import broadcast

        from flink_ml__spark.functions.text import TOKEN_SPLIT

        oc = F.col(self.getOrDefault(self.orderCol))
        P = self.getOrDefault(self.numPoints)
        base = df.filter(oc.isNotNull()
                         & F.col(self.getInputCol()).isNotNull())
        bounds = base.agg(F.max(oc).alias("__mx"),
                          F.count(F.lit(1)).alias("n_docs"))
        toks = F.filter(
            F.split(F.lower(F.col(self.getInputCol())), TOKEN_SPLIT),
            lambda t: t != "")
        b = F.least(F.lit(P - 1),
                    F.floor(oc * P / (F.col("__mx") + 1))).cast("int")
        exploded = (base.crossJoin(broadcast(bounds))
                    .select(b.alias("__b"), "n_docs",
                            F.explode(toks).alias("__t")))
        per_tok = exploded.groupBy("__t").agg(
            F.min("__b").alias("__first"),
            F.count(F.lit(1)).alias("__cnt"))
        occ = (exploded.groupBy("__b")
               .agg(F.count(F.lit(1)).alias("__occ"),
                    F.first("n_docs").alias("n_docs")))
        news = per_tok.groupBy(F.col("__first").alias("__b")).agg(
            F.count(F.lit(1)).alias("__new"),
            F.sum("__cnt").alias("__ignore"))
        w = (Window.orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        pts = (occ.join(news.select("__b", "__new"), "__b", "left")
               .withColumn("__new", F.coalesce("__new", F.lit(0)))
               .withColumn("__cn", F.sum("__occ").over(w))
               .withColumn("__cv", F.sum("__new").over(w))
               .filter(F.col("__cn") > 0))
        # FIXED-POINT log moments: ln(cn)/ln(cv) quantized to int64
        # millionths BEFORE the sums, so every moment is an exact
        # integer — order-independent and engine-exact. The raw-double
        # formulation flaked: with near-constant ln(cv) the n·sxx − sx²
        # cancellation amplifies summation-order ulp noise to ~1e-7,
        # which crossed the output quantization boundary run-to-run
        # (observed on heaps_beta ≈ 0). Magnitudes: ln ≤ ~35 even at
        # 100 TB → lx ≤ 3.5e7, n·sxx ≤ ~2e16 ≪ 2^63.
        lx = F.floor(F.log(F.col("__cn").cast("double")) * 1e6
                     + 0.5).cast("long")
        ly = F.floor(F.log(F.col("__cv").cast("double")) * 1e6
                     + 0.5).cast("long")
        fit = pts.agg(
            F.count(F.lit(1)).alias("n_points"),
            F.first("n_docs").alias("n_docs"),
            F.max("__cn").alias("n_tokens"),
            F.max("__cv").alias("n_types"),
            F.sum(lx).alias("__sx"), F.sum(ly).alias("__sy"),
            F.sum(lx * lx).alias("__sxx"), F.sum(lx * ly).alias("__sxy"),
            F.sum(ly * ly).alias("__syy"))
        n = F.col("n_points").cast("double")
        # exact int64 second moments; convert to double only at the
        # divisions (scale cancels in beta and r2; intercept descales)
        vx = (F.col("n_points") * F.col("__sxx")
              - F.col("__sx") * F.col("__sx")).cast("double")
        vy = (F.col("n_points") * F.col("__syy")
              - F.col("__sy") * F.col("__sy")).cast("double")
        cov = (F.col("n_points") * F.col("__sxy")
               - F.col("__sx") * F.col("__sy")).cast("double")
        beta = F.when(vx > 0, cov / vx)
        intercept = ((F.col("__sy") - beta * F.col("__sx"))
                     / (n * 1e6))
        r2 = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
        return fit.select("n_docs", "n_tokens", "n_types", "n_points",
                          F.exp(intercept).alias("heaps_k"),
                          beta.alias("heaps_beta"),
                          r2.alias("heaps_r2"))


class KneserNeyBigramLMModel(BigramLMModel):
    """Scores documents under a fitted absolute-discount Kneser-Ney
    bigram LM (see :class:`KneserNeyBigramLM`). Appends::

        mean_logprob  mean per-token log-probability: position 1 under
                      the CONTINUATION distribution
                      p_cont(w) = coalesce(N1+(·w), 1) / N1+(··);
                      positions i ≥ 2 under
                      max(c(w1w2)−D, 0)/c(w1)
                        + D·N1+(w1·)/c(w1) · p_cont(w2)
                      falling back to p_cont(w2) when the history has
                      no kept bigrams or is out of vocabulary (the
                      backoff mass is then 1 by construction)
        bigram_frac   as in :class:`BigramLMModel`

    The continuation/backoff tables derive deterministically from the
    KEPT bigram table (post-cut), so the model artifact stays
    O(maxVocab + maxBigrams) and the SQL oracle replays every count.
    """

    _state = BigramLMModel._state + ("_discount",)

    def __init__(self, unigrams: DataFrame | None = None,
                 bigrams: DataFrame | None = None,
                 total: int | None = None, discount: float = 0.75):
        super().__init__(unigrams, bigrams, total, lam=0.0)
        self._discount = discount

    def transform(self, df: DataFrame) -> DataFrame:
        import pandas as pd

        uni = {r["token"]: r["cnt"] for r in self._unigrams.collect()}
        big = {(r["w1"], r["w2"]): r["cnt"]
               for r in self._bigrams.collect()}
        if not big:
            raise ValueError("model has no bigrams — KN needs at "
                             "least one kept bigram")
        pre: dict = {}
        post: dict = {}
        for (w1, w2) in big:
            pre[w2] = pre.get(w2, 0) + 1
            post[w1] = post.get(w1, 0) + 1
        nbb = float(len(big))
        sc = df.sparkSession.sparkContext
        bc_u, bc_b = sc.broadcast(uni), sc.broadcast(big)
        bc_pre, bc_post = sc.broadcast(pre), sc.broadcast(post)
        dd = self._discount
        tok_pat = TOKEN_SPLIT

        @F.pandas_udf("struct<mean_logprob:double,bigram_frac:double>")
        def score(texts):
            import math
            import re

            rx = re.compile(tok_pat)
            um, bm = bc_u.value, bc_b.value
            prm, pom = bc_pre.value, bc_post.value
            out = []
            for t in texts:
                toks = ([w for w in rx.split(t.lower()) if w]
                        if t is not None else [])
                if not toks:
                    out.append((None, None))
                    continue

                def pcont(w):
                    return prm.get(w, 1) / nbb if w in prm \
                        else 1.0 / nbb

                s = math.log(pcont(toks[0]))
                hits = 0
                for i in range(1, len(toks)):
                    w1, w2 = toks[i - 1], toks[i]
                    c1 = um.get(w1)
                    cb = bm.get((w1, w2))
                    po = pom.get(w1)
                    if cb is not None:
                        hits += 1
                    if c1 and po:
                        p = (max((cb or 0) - dd, 0.0) / c1
                             + dd * po / c1 * pcont(w2))
                    else:
                        p = pcont(w2)
                    s += math.log(p)
                n = len(toks)
                out.append((s / n, hits / (n - 1) if n > 1 else None))
            return pd.DataFrame(out,
                                columns=["mean_logprob", "bigram_frac"])

        s = score(F.col(self.getInputCol()))
        return (df.withColumn("mean_logprob", s["mean_logprob"])
                .withColumn("bigram_frac", s["bigram_frac"]))


class KneserNeyBigramLM(BigramLM):
    """Absolute-discount Kneser-Ney bigram LM (Kneser & Ney 1995;
    Chen & Goodman 1999 found it the best-performing n-gram smoother)
    — the quality rung above :class:`BigramLM`'s Jelinek-Mercer
    interpolation, and the smoothing CCNet's 5-gram fluency filter
    uses. The lower-order distribution is the CONTINUATION count
    N1+(·w) ("how many contexts has w followed?"), which is what stops
    "Francisco" (frequent but only after "San") from looking fluent
    everywhere.

    Fit reuses :class:`BigramLM`'s two capped hash aggregations; the
    continuation/backoff tables derive from the kept bigram table at
    apply time (no third pass). ``setDiscount`` sets the absolute
    discount D (default 0.75, the Chen-Goodman workhorse value).
    """

    discount = Param(Params._dummy(), "discount",
                     "absolute discount D", TypeConverters.toFloat)

    _defaults = dict(discount=0.75)

    def setDiscount(self, v):
        v = float(v)
        if not 0 < v < 1:
            raise ValueError(f"discount must be in (0, 1), got {v}")
        return self._set(discount=v)

    def fit(self, df: DataFrame) -> KneserNeyBigramLMModel:
        base = super().fit(df)
        model = KneserNeyBigramLMModel(
            base._unigrams, base._bigrams, base._total,
            self.getOrDefault(self.discount))
        model._set(inputCol=self.getInputCol(), idCol=self.getIdCol())
        return model


class EffectiveSampleSize(AlgoOperator):
    """Kish effective sample size of a weighted corpus (Kish 1965):
    ``ESS = (Σw)² / Σw²`` — the number every importance-weighted
    training run (DSIR weights, domain mixtures, dedup survivorship
    weights) should report, because a 10M-document corpus whose
    weights concentrate on 50k documents trains like 50k documents.

    ``evaluate(df)`` returns ONE row::

        n          rows with a usable (non-null, > 0) weight
        sum_w      total weight
        ess        (Σw)²/Σw²
        ess_ratio  ess / n (1 = uniform weights, → 0 = concentrated)

    Scale shape: ONE two-accumulator aggregation.
    """

    weightCol = Param(Params._dummy(), "weightCol",
                      "positive weight column", TypeConverters.toString)

    _defaults = dict(weightCol="weight")

    def evaluate(self, df: DataFrame) -> DataFrame:
        w = F.col(self.getOrDefault(self.weightCol)).cast("double")
        m = df.filter(w.isNotNull() & (w > 0)).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(w).alias("sum_w"),
            F.sum(w * w).alias("__ww"))
        ess = F.when(F.col("__ww") > 0,
                     F.col("sum_w") * F.col("sum_w") / F.col("__ww"))
        return m.select("n", "sum_w", ess.alias("ess"),
                        F.when(F.col("n") > 0, ess / F.col("n"))
                        .alias("ess_ratio"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class Chao1VocabularyEstimator(AlgoOperator, HasInputCol):
    """Chao1 richness estimate of the UNSEEN vocabulary (Chao 1984):
    from the observed type counts, ``V̂ = V + F1²/(2·F2)`` where F1/F2
    are the singleton/doubleton counts — "how many word types would we
    see with infinite data", the coverage question Heaps' law answers
    by extrapolation and Chao1 answers nonparametrically.

    ``evaluate(df)`` returns ONE row::

        n_tokens     token occurrences
        n_types      observed vocabulary
        f1, f2       singletons / doubletons
        chao1        V + F1²/(2F2); the bias-corrected
                     V + F1(F1−1)/2 when F2 = 0
        coverage     Good-Turing corpus coverage 1 − F1/n_tokens

    Scale shape: token counts in one hash aggregation (vocabulary-
    sized), then a 1-row fold over the count-of-counts.
    """

    _defaults = dict(inputCol="text")

    def evaluate(self, df: DataFrame) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.col(self.getInputCol())), TOKEN_SPLIT),
            lambda t: t != "")
        counts = (df.filter(F.col(self.getInputCol()).isNotNull())
                  .select(F.explode(toks).alias("__t"))
                  .groupBy("__t")
                  .agg(F.count(F.lit(1)).alias("__c")))
        m = counts.agg(
            F.sum("__c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum((F.col("__c") == 1).cast("int")).alias("f1"),
            F.sum((F.col("__c") == 2).cast("int")).alias("f2"))
        f1 = F.col("f1").cast("double")
        f2 = F.col("f2").cast("double")
        chao = F.when(f2 > 0, F.col("n_types") + f1 * f1 / (2 * f2)) \
            .otherwise(F.col("n_types") + f1 * (f1 - 1) / 2)
        cov = F.when(F.col("n_tokens") > 0,
                     1 - f1 / F.col("n_tokens"))
        return m.select("n_tokens", "n_types", "f1", "f2",
                        chao.alias("chao1"), cov.alias("coverage"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class MixtureDiversityProfiler(AlgoOperator):
    """Diversity of a categorical mixture (the domain/source blend of
    a training corpus): Shannon entropy, its exponential ("effective
    number of domains", Hill number q=1) and the inverse-Simpson
    effective count (q=2, tail-insensitive) — the two numbers that
    summarize "is this corpus really a 20-source blend or 3 sources
    wearing 20 hats" (MacArthur 1965; Jost 2006).

    ``evaluate(df)`` returns ONE row::

        n_rows, n_groups
        entropy          Σ −p ln p (nats)
        eff_shannon      exp(entropy)
        eff_simpson      1 / Σ p²
        top_share        the largest group's share

    Scale shape: one group-count aggregation (O(groups) output) and a
    1-row fold — nothing row-sized beyond the first aggregation.
    """

    groupCol = Param(Params._dummy(), "groupCol",
                     "mixture component column", TypeConverters.toString)

    _defaults = dict(groupCol="source")

    def evaluate(self, df: DataFrame) -> DataFrame:
        g = F.col(self.getOrDefault(self.groupCol))
        per = (df.filter(g.isNotNull())
               .groupBy(g.alias("__g"))
               .agg(F.count(F.lit(1)).alias("__n")))
        tot = per.agg(F.sum("__n").alias("n_rows"),
                      F.count(F.lit(1)).alias("n_groups"),
                      F.max("__n").alias("__mx"),
                      F.sum(F.col("__n") * F.col("__n")).alias("__nn"),
                      F.sum(F.col("__n")
                            * F.log(F.col("__n").cast("double")))
                      .alias("__nlogn"))
        n = F.col("n_rows").cast("double")
        # Σ −p ln p = ln N − (Σ n ln n)/N
        ent = F.when(n > 0, F.log(n) - F.col("__nlogn") / n)
        return tot.select(
            "n_rows", "n_groups", ent.alias("entropy"),
            F.exp(ent).alias("eff_shannon"),
            F.when(F.col("__nn") > 0, n * n / F.col("__nn"))
            .alias("eff_simpson"),
            (F.col("__mx") / n).alias("top_share"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class PaddingWasteProfiler(AlgoOperator, HasRelativeError):
    """Length-bucketed padding-waste audit for batch building: sort
    documents into ``numBuckets`` token-length bands (quantile
    boundaries) and report, per band, how much compute padding to the
    band maximum would waste — the readout that sizes dynamic-batching
    buckets for training and decides whether length-sorting is worth
    it (total waste at k=1 is the unsorted baseline).

    Output: one row per non-empty bucket —
    ``bucket`` (1..k), ``n_docs``, ``min_len``/``max_len``,
    ``sum_tokens``, and ``padding_frac`` = (n·max − Σlen)/(n·max)
    (0.0 for an all-empty band).

    100 TB shape: boundary fit is ONE array-percentile aggregation
    (exact by default — the oracle pins it; ``setRelativeError(>0)``
    swaps in the mergeable bounded-memory ``approx_percentile`` sketch,
    same contract as ``RankGaussTransformer``), then assignment is a
    map-side comparison chain folded into the scan and the profile is
    one k-key hash aggregation — no sort, no window, no per-row state.
    Boundaries are fixed-point-quantized (floor 1e6) so bucket
    assignment replays bit-identically cross-engine on integer counts.
    """

    tokenCol = Param(Params._dummy(), "tokenCol",
                     "token count column", TypeConverters.toString)
    numBuckets = Param(Params._dummy(), "numBuckets",
                       "length bands", TypeConverters.toInt)

    _defaults = dict(tokenCol="n_tokens", numBuckets=8)

    def setNumBuckets(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"numBuckets must be >= 1, got {v}")
        return self._set(numBuckets=v)

    def transform(self, df: DataFrame) -> DataFrame:
        from flink_ml__spark.functions.quantiles import quantile_edges

        k = self.getOrDefault(self.numBuckets)
        nt = F.col(self.getOrDefault(self.tokenCol)).cast("double")
        base = df.filter(nt.isNotNull()).select(nt.alias("__nt"))
        if k > 1:
            bs = quantile_edges(base, "__nt", k, self.getRelativeError())
        else:
            bs = []
            if base.first() is None:
                raise ValueError("no non-null token counts to profile")
        if k > 1 and not bs:
            raise ValueError("no non-null token counts to profile")
        bucket = sum(((F.col("__nt") > F.lit(b)).cast("int")
                      for b in bs), F.lit(1))
        per = (base.withColumn("__b", bucket).groupBy("__b").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("__nt").cast("long").alias("min_len"),
            F.max("__nt").cast("long").alias("max_len"),
            F.sum("__nt").cast("long").alias("sum_tokens")))
        cap = F.col("n_docs").cast("double") * F.col("max_len")
        waste = F.when(F.col("max_len") > 0,
                       (cap - F.col("sum_tokens")) / cap).otherwise(0.0)
        return per.select(F.col("__b").alias("bucket"), "n_docs",
                          "min_len", "max_len", "sum_tokens",
                          waste.alias("padding_frac"))


class BoilerplateFractionScorer(AlgoOperator, _MaterializeMixin,
                                HasInputCol, HasIdColMixin):
    """Inter-document redundancy score: the fraction of a document's
    distinct word shingles that are corpus-COMMON (appear in at least
    ``minDf`` distinct documents). High values flag template/
    boilerplate mass — navigation chrome, legal footers, mirrored
    articles — that survives exact dedup (the documents differ) and is
    invisible to within-document signals (:class:`RepetitionScorer`
    sees a doc's self-repetition, not what it shares with the rest of
    the corpus). The standard curation use: filter or downweight docs
    whose training signal is mostly already owned by other docs.

    Appends ``n_shingles`` (distinct shingles; 0 for NULL text),
    ``n_common`` (of those, how many are corpus-common) and
    ``boilerplate_frac`` = n_common / n_shingles (NULL when 0).

    100 TB shape: shingle hashing is the dedup family's Arrow pass
    (`shingle_hash_udf` — same tokens, same md5[:15] as the string
    oracle); ``n_shingles`` folds map-side from the array size; the
    doc-frequency table groups on the int64 hash and is FILTERED to
    the >= minDf survivors before the semi-join back, so the join's
    build side shrinks with minDf (the common set is the Zipf head —
    tiny next to the shingle universe). Two hash shuffles total, both
    on the 8-byte key, never on text.
    """

    shingleSize = Param(Params._dummy(), "shingleSize",
                        "words per shingle", TypeConverters.toInt)
    minDf = Param(Params._dummy(), "minDf",
                  "distinct-document frequency at/above which a "
                  "shingle counts as corpus-common",
                  TypeConverters.toInt)

    _defaults = dict(inputCol="text", idCol="doc_id",
                     shingleSize=5, minDf=2)

    def setShingleSize(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"shingleSize must be >= 1, got {v}")
        return self._set(shingleSize=v)

    def setMinDf(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"minDf must be >= 2, got {v}")
        return self._set(minDf=v)

    def _sized(self, df: DataFrame,
               materialize: bool = False) -> DataFrame:
        """(__id, n_shingles, __shs). Catalyst does not CSE Python
        UDFs across plan branches, so a multi-referenced frame re-runs
        the Arrow hash pass per branch — pass ``materialize=True``
        at multi-reference sites (``transform_against`` references it
        from both join sides; measured 1.2× isolated) to collapse the
        branches onto one cached pass via the dedup family's bounded
        persist registry. Single-use sites (``common_table``) stay
        plain: the eager cache write costs more than it saves there
        (measured 1.4× slower when materialized). CacheManager matches
        by canonicalized plan, so when ``transform`` fits and scores
        the SAME frame, the plain ``common_table`` plan reads the
        already-cached InMemoryRelation anyway — one Arrow pass total.
        Raw text is repartitioned before the hash so the heavy pass
        parallelizes off few-split sources (the ``hashed_table``
        idiom)."""
        n = self.getOrDefault(self.shingleSize)
        hashed = (df.select(F.col(self.getIdCol()).alias("__id"),
                            F.col(self.getInputCol()).alias("__txt"))
                  .repartition(F.col("__id"))
                  .select("__id", shingle_hash_udf(n)(F.col("__txt"))
                          .alias("__shs")))
        sized = hashed.select("__id",
                              F.size("__shs").cast("long")
                              .alias("n_shingles"), "__shs")
        return self._materialize(sized) if materialize else sized

    def common_table(self, corpus_df: DataFrame) -> DataFrame:
        """The corpus statistic: distinct shingle hashes appearing in
        >= minDf distinct documents — one int64 column, the Zipf head
        of the shingle universe, small enough to persist to parquet
        and reuse for incremental scoring (`transform_against`) or
        the streaming twin."""
        min_df = self.getOrDefault(self.minDf)
        # explode DIRECTLY over the UDF call — the one-ArrowEvalPython
        # shape (ExtractGenerator adds no size filter there; exploding
        # a PROJECTED UDF column does, re-evaluating the Arrow pass —
        # see _sized). Single-use, so no materialization.
        n = self.getOrDefault(self.shingleSize)
        ex = (corpus_df.select(
            F.col(self.getIdCol()).alias("__id"),
            F.col(self.getInputCol()).alias("__txt"))
            .repartition(F.col("__id"))
            .select("__id", F.explode(
                shingle_hash_udf(n)(F.col("__txt"))).alias("__sh")))
        return self._common_from_exploded(ex)

    def _common_from_exploded(self, ex: DataFrame) -> DataFrame:
        # shingles are distinct per doc, so count(*) per hash is the
        # distinct-document frequency; keep only the common survivors
        min_df = self.getOrDefault(self.minDf)
        return (ex.groupBy("__sh")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") >= min_df)
                .select("__sh"))

    def transform_against(self, df: DataFrame,
                          common: DataFrame) -> DataFrame:
        """Score ``df`` against a precomputed common-shingle table
        (from :meth:`common_table` on a reference corpus) — the
        production "score the incoming crawl against the curated
        corpus" shape: one Arrow shingle pass over ``df`` plus one
        semi-join against the O(Zipf-head) statistic; the reference
        corpus is never rescanned."""
        idc = self.getIdCol()
        sized = self._sized(df, materialize=True)
        # plain explode is safe here: __shs is read from the cache, so
        # the size filter it generates rescans memory, not the UDF
        ex = sized.select("__id", F.explode("__shs").alias("__sh"))
        n_common = (ex.join(common, "__sh", "left_semi")
                    .groupBy("__id")
                    .agg(F.count(F.lit(1)).cast("long")
                         .alias("n_common")))
        per = (sized.select("__id", "n_shingles")
               .join(n_common, "__id", "left")
               .select(
                   "__id", "n_shingles",
                   F.coalesce("n_common", F.lit(0)).cast("long")
                   .alias("n_common")))
        frac = F.when(F.col("n_shingles") > 0,
                      F.col("n_common")
                      / F.col("n_shingles").cast("double"))
        return df.join(
            per.select(F.col("__id").alias(idc), "n_shingles",
                       "n_common", frac.alias("boilerplate_frac")),
            idc, "left")

    def transform(self, df: DataFrame) -> DataFrame:
        # derive the statistic from the SAME materialized frame the
        # scoring pass reads (CacheManager plan-matching) — one Arrow
        # shingle pass total; the direct-shape common_table would
        # rescan and rehash the corpus a second time here
        sized = self._sized(df, materialize=True)
        common = self._common_from_exploded(
            sized.select("__id", F.explode("__shs").alias("__sh")))
        return self.transform_against(df, common)


class GreedyCoverageSelector(AlgoOperator, HasInputCol, HasIdColMixin):
    """Budgeted max-coverage data selection: greedily pick ``numDocs``
    documents, each maximizing the count of distinct word shingles not
    yet covered by the picks before it — the classic (1−1/e)-optimal
    greedy for submodular coverage (Nemhauser/Wolsey/Fisher 1978; the
    facility-location/CRAIG shape used for training-subset selection).
    The lexical complement of :class:`~flink_ml__spark.functions.
    similarity.KCenterCoreset`: k-center spreads picks in embedding
    space, this spreads them over the token universe.

    ``select_docs(df)`` returns one row per selected document:
    ``step`` (1..k), the id column, and ``gain`` — the number of
    newly covered distinct shingles (integer, so the greedy
    trajectory replays exactly cross-engine with no float tolerance).
    Ties break to the smaller id. Selection stops early once every
    remaining document's shingles are fully covered (zero marginal
    gain buys nothing); NULL-text documents have no shingles and are
    never selected.

    100 TB shape: the (doc, shingle-hash) pair table is one Arrow
    pass (the dedup family's ``shingle_hash_udf``) materialized once;
    each of the k steps is one keyed count aggregation over the
    REMAINING pairs plus a broadcast anti-join against the just-picked
    document's own shingle set (document-sized — always broadcastable)
    — so per-step cost shrinks as coverage grows, k is a budget never
    O(rows), and driver memory is O(k). The int64 pair table, not the
    text, is what shuffles.
    """

    shingleSize = Param(Params._dummy(), "shingleSize",
                        "words per shingle", TypeConverters.toInt)
    numDocs = Param(Params._dummy(), "numDocs",
                    "documents to select", TypeConverters.toInt)

    _defaults = dict(inputCol="text", idCol="doc_id",
                     shingleSize=3, numDocs=8)

    def setShingleSize(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"shingleSize must be >= 1, got {v}")
        return self._set(shingleSize=v)

    def setNumDocs(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"numDocs must be >= 1, got {v}")
        return self._set(numDocs=v)

    def pair_table(self, df: DataFrame) -> DataFrame:
        """(__id, __sh) — one row per (document, distinct shingle
        hash); the working set every greedy step aggregates over.

        ``explode`` is applied DIRECTLY to the UDF call: that is the
        one-ArrowEvalPython shape (ExtractGenerator adds no filter).
        Exploding a PROJECTED UDF column instead compiles to a
        size()>0 Filter plus the Generate, both referencing the UDF —
        Catalyst does not CSE Python UDFs across a Filter (and pushes
        the filter back through any exchange placed between), so the
        shingle pass would run twice per row. Raw text is
        repartitioned BEFORE the hash so the heavy pass parallelizes
        even off a single-split source (the dedup family's
        ``hashed_table`` idiom)."""
        n = self.getOrDefault(self.shingleSize)
        return (df.select(F.col(self.getIdCol()).alias("__id"),
                          F.col(self.getInputCol()).alias("__txt"))
                .repartition(F.col("__id"))
                .select("__id", F.explode(
                    shingle_hash_udf(n)(F.col("__txt"))).alias("__sh")))

    def novelty_against(self, df: DataFrame,
                        corpus: DataFrame) -> DataFrame:
        """Per-document novelty vs a reference corpus: appends
        ``n_shingles`` (distinct shingles; 0 for NULL text),
        ``n_novel`` (of those, how many appear NOWHERE in the corpus)
        and ``novelty_frac`` = n_novel / n_shingles (NULL when 0) —
        the dual of :class:`BoilerplateFractionScorer` (which counts
        corpus-COMMON mass): rank an incoming crawl by the marginal
        token-space coverage each document would add, the greedy
        gain of :meth:`select_docs` computed for every candidate at
        once instead of k at a time.

        100 TB shape: both sides are the dedup family's Arrow shingle
        pass; the corpus universe is one distinct int64 column and
        the novelty count is a single anti-join + keyed count on the
        8-byte hash — linear, skew-free (uniform keys), text never
        shuffles. If the exact universe is too large to join, the
        Bloom-filter corpus membership pattern
        (``BloomCorpusDeduplicator``) is the approximate drop-in.
        """
        idc = self.getIdCol()
        universe = self.pair_table(corpus).select("__sh").distinct()
        pairs = self.pair_table(df)
        tot = (pairs.groupBy("__id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_shingles")))
        nov = (pairs.join(universe, "__sh", "left_anti")
               .groupBy("__id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_novel")))
        per = (tot.join(nov, "__id", "left")
               .select("__id", "n_shingles",
                       F.coalesce("n_novel", F.lit(0)).cast("long")
                       .alias("n_novel")))
        frac = F.when(F.col("n_shingles") > 0,
                      F.col("n_novel")
                      / F.col("n_shingles").cast("double"))
        return df.join(
            per.select(F.col("__id").alias(idc), "n_shingles",
                       "n_novel", frac.alias("novelty_frac")),
            idc, "left").withColumn(
            "n_shingles", F.coalesce("n_shingles", F.lit(0))
        ).withColumn("n_novel", F.coalesce("n_novel", F.lit(0)))

    def select_docs(self, df: DataFrame) -> DataFrame:
        idc = self.getIdCol()
        k = self.getOrDefault(self.numDocs)
        spark = df.sparkSession
        id_type = df.schema[idc].dataType.simpleString()

        remaining = self.pair_table(df).persist()
        chosen: list[tuple] = []
        prev = None
        for step in range(1, k + 1):
            # This argmax is the step's ONE materializing action: it
            # builds `remaining`'s cache as a side effect, so the
            # parent generation (whose cache fed that build) can be
            # dropped right after — no separate count() job per step
            # (2 jobs/step fewer; guide §1.2 order-of-operations,
            # §5 persist lifecycle).
            top = (remaining.groupBy("__id")
                   .agg(F.count(F.lit(1)).alias("__gain"))
                   .orderBy(F.desc("__gain"), F.asc("__id")).first())
            if prev is not None:
                prev.unpersist()
                prev = None
            if top is None or top["__gain"] <= 0:
                break  # every remaining doc is fully covered
            chosen.append((step, top["__id"], int(top["__gain"])))
            if step == k:
                break
            cov = remaining.filter(F.col("__id") == F.lit(top["__id"])
                                   ).select("__sh")
            prev = remaining
            remaining = (remaining
                         .join(F.broadcast(cov), "__sh", "left_anti")
                         .persist())
        if prev is not None:
            prev.unpersist()
        remaining.unpersist()

        return spark.createDataFrame(
            chosen, f"step int, __id {id_type}, gain long").select(
            "step", F.col("__id").alias(idc), "gain")

    def transform(self, df: DataFrame) -> DataFrame:
        return self.select_docs(df)
