"""Tests for the corpus-curation operators (functions/curation.py):
hand-computable goldens on tiny frames, plus invariants (determinism,
partition-layout independence, convergence)."""

import math

import pytest
from pyspark.sql import functions as F

from flink_ml__spark.functions.curation import (
    ContaminationChecker,
    DeterministicSplitter,
    DomainBalancer,
    DuplicateClusterer,
    RepetitionScorer,
    SequencePacker,
    TfIdfKeywords,
)


def test_repetition_scorer_goldens(spark):
    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),          # 3 lines, 'a b' repeated
            (2, "x y z"),                  # no repetition
            (3, "go go go go"),            # one word dominates
            (4, None),                     # null text
        ],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           RepetitionScorer().transform(df).collect()}
    # doc 1: 3 lines, 2 distinct -> dup_line_frac 1/3; chars 3+3+3=9,
    # distinct chars 6 -> char frac 3/9
    assert got[1]["dup_line_frac"] == pytest.approx(1 / 3)
    assert got[1]["dup_line_char_frac"] == pytest.approx(3 / 9)
    # doc 1 tokens: a b a b c d -> top word 'a'(2)/6; bigrams:
    # 'a b','b a','a b','b c','c d' -> top 'a b'(2)/5
    assert got[1]["top_word_frac"] == pytest.approx(2 / 6)
    assert got[1]["top_bigram_frac"] == pytest.approx(2 / 5)
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["top_word_frac"] == pytest.approx(1 / 3)
    assert got[3]["top_word_frac"] == pytest.approx(1.0)
    assert got[3]["top_bigram_frac"] == pytest.approx(1.0)
    # null text -> all zeros, no null propagation
    assert got[4]["dup_line_frac"] == 0.0
    assert got[4]["top_bigram_frac"] == 0.0


def test_repetition_scorer_line_sep(spark):
    df = spark.createDataFrame(
        [(1, "same sentence. same sentence. other one.")], ["doc_id", "text"])
    r = RepetitionScorer().setLineSep(r"\.").transform(df).first()
    assert r["dup_line_frac"] == pytest.approx(1 / 3)


def test_deterministic_splitter_stable_and_partition_independent(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    op = DeterministicSplitter().setTrainFrac(0.8).setValFrac(0.1) \
        .setIdCol("doc_id")
    a = {r["doc_id"]: r["split"] for r in op.transform(df).collect()}
    b = {r["doc_id"]: r["split"]
         for r in op.transform(df.repartition(13)).collect()}
    assert a == b  # layout-independent, unlike randomSplit
    frac_train = sum(v == "train" for v in a.values()) / len(a)
    assert 0.77 <= frac_train <= 0.83  # binomial around 0.8
    # fractions must partition the id space
    assert set(a.values()) == {"train", "val", "test"}
    with pytest.raises(ValueError):
        DeterministicSplitter().setTrainFrac(0.9).setValFrac(0.2) \
            .transform(df)


def test_deterministic_splitter_salt_draws_new_split(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = DeterministicSplitter().transform(df)
    b = DeterministicSplitter().setSalt("other").transform(df)
    diff = (a.select("doc_id", "split")
            .join(b.select("doc_id", F.col("split").alias("s2")), "doc_id")
            .filter(F.col("split") != F.col("s2")).count())
    assert diff > 0


def test_contamination_checker_goldens(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # fully inside benchmark
            (2, "alpha beta gamma zeta"),          # partial overlap
            (3, "one two three four"),             # disjoint
        ],
        ["doc_id", "text"])
    benchmark = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"])
    out = (ContaminationChecker().setShingleSize(3).setThreshold(0.5)
           .transform_against(corpus, benchmark))
    got = {r["doc_id"]: r for r in out.collect()}
    # doc1 3-gram shingles: {abg, bgd} both in benchmark -> 1.0
    assert got[1]["contaminated_frac"] == pytest.approx(1.0)
    assert got[1]["is_contaminated"]
    # doc2: {abg, bgz} -> 1/2
    assert got[2]["contaminated_frac"] == pytest.approx(0.5)
    assert got[3]["contaminated_frac"] == 0.0
    assert not got[3]["is_contaminated"]


def test_tfidf_keywords_goldens(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry date date date"),
        ],
        ["doc_id", "text"])
    out = TfIdfKeywords().setK(2).transform(df)
    rows = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    # doc1: apple tf=2 idf=ln(3/1); banana tf=1 idf=ln(3/2)
    assert rows[(1, 1)]["term"] == "apple"
    assert rows[(1, 1)]["tfidf"] == pytest.approx(2 * math.log(3))
    assert rows[(1, 2)]["term"] == "banana"
    assert rows[(1, 2)]["tfidf"] == pytest.approx(math.log(1.5))
    # doc3: date tf=3 dominates
    assert rows[(3, 1)]["term"] == "date"
    # k bound respected
    assert out.groupBy("doc_id").count().agg(
        F.max("count")).first()[0] <= 2


def test_duplicate_clusterer_components(spark):
    # chain 1-2-3, pair 10-11, singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_keep", "id_dup"])
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20]], ["doc_id"])
    out = DuplicateClusterer().cluster(pairs, nodes=nodes)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_duplicate_clusterer_filtered_nodes_still_connect(spark):
    # regression: nodes omitting an edge endpoint (2) must not split the
    # 1-2-3 component — endpoints seed the label table regardless, so
    # the convergence check sees every propagating id
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], ["id_keep", "id_dup"])
    nodes = spark.createDataFrame([(1,), (3,)], ["doc_id"])
    out = DuplicateClusterer().cluster(pairs, nodes=nodes)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_duplicate_clusterer_long_chain_converges(spark):
    # a path graph needs label propagation across the full diameter
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_keep", "id_dup"])
    out = DuplicateClusterer().setMaxIter(30).cluster(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_sequence_packer_positions(spark):
    df = spark.createDataFrame(
        [(i, 100) for i in range(10)], ["doc_id", "n_tokens"])
    out = (SequencePacker().setWindowSize(256).setNumShards(1)
           .transform(df))
    rows = sorted(out.collect(), key=lambda r: r["doc_id"])
    # single shard, id order: doc k starts at 100k
    for k, r in enumerate(rows):
        assert r["shard"] == 0
        assert r["pack_id"] == (100 * k) // 256
        assert r["offset"] == (100 * k) % 256
    # cumulative begin positions tile the stream with no gaps
    total = sum(r["n_tokens"] for r in rows)
    assert rows[-1]["pack_id"] * 256 + rows[-1]["offset"] == total - 100


def test_sequence_packer_sharding_bounds_parallel_state(spark):
    df = spark.createDataFrame(
        [(i, 10) for i in range(1000)], ["doc_id", "n_tokens"])
    out = SequencePacker().setNumShards(8).setWindowSize(64).transform(df)
    shards = out.select("shard").distinct().count()
    assert shards == 8
    # within each shard, offsets restart below windowSize
    assert out.agg(F.max("offset")).first()[0] < 64


def test_domain_balancer_balances(spark):
    rows = ([(i, "en") for i in range(900)]
            + [(i + 1000, "de") for i in range(100)])
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = DomainBalancer().setGroupCol("lang").transform(df)
    counts = {r["lang"]: r["count"]
              for r in out.groupBy("lang").count().collect()}
    # each group lands near the min group size (binomial tolerance)
    assert counts["de"] >= 85
    assert 70 <= counts["en"] <= 130
    # deterministic: same salt, same survivors
    again = DomainBalancer().setGroupCol("lang").transform(df)
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in again.collect())


def test_domain_balancer_target_composition(spark):
    rows = ([(i, "en") for i in range(800)]
            + [(i + 1000, "de") for i in range(150)]
            + [(i + 2000, "fr") for i in range(50)])
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    # weights (not fractions) — setTargets normalizes; 'de' omitted
    out = (DomainBalancer().setGroupCol("lang")
           .setTargets({"en": 3, "fr": 1}).transform(df))
    counts = {r["lang"]: r["count"]
              for r in out.groupBy("lang").count().collect()}
    assert "de" not in counts          # unlisted groups are dropped
    # feasibility: N = min(800/0.75, 50/0.25) = 200 → en≈150, fr≈50
    assert 120 <= counts["en"] <= 180
    assert counts["fr"] >= 40          # fr is the limiting group
    # composition ratio ≈ 3:1 (binomial tolerance)
    assert 2.0 <= counts["en"] / counts["fr"] <= 4.5


def test_corpus_profiler_exact_percentiles(spark):
    from flink_ml__spark.functions.curation import CorpusProfiler

    rows = ([("en", "web", float(i)) for i in range(1, 11)]
            + [("de", "web", 5.0)])
    df = spark.createDataFrame(rows, ["lang", "source", "n_chars"])
    got = {(r["lang"], r["source"]): r
           for r in (CorpusProfiler().setGroupCols("lang", "source")
                     .transform(df).collect())}
    en = got[("en", "web")]
    assert en["n_docs"] == 10
    assert en["total_value"] == 55.0
    assert en["mean_value"] == 5.5
    assert en["p50"] == 5.5          # interpolated median of 1..10
    assert en["p90"] == 9.1
    de = got[("de", "web")]
    assert de["n_docs"] == 1 and de["p50"] == 5.0 == de["p99"]


def test_line_filter_c4_rules(spark):
    from flink_ml__spark.functions.curation import LineFilter

    text = "\n".join([
        "This is a perfectly good sentence that survives.",
        "too short",                                   # < 3 words
        "No terminal punctuation on this line here",   # no punct
        "Read our privacy policy before continuing.",  # blocklisted
        "   ",                                         # blank: not counted
        'He said "stop".',                             # quote-terminal? no - ends with .
    ])
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r = LineFilter().transform(df).first()
    kept = r["text_filtered"].split("\n")
    assert kept == ["This is a perfectly good sentence that survives.",
                    'He said "stop".']
    assert r["n_lines_kept"] == 2
    assert r["n_lines_total"] == 5

    # relaxed rules: no punct requirement, min 2 words, empty blocklist
    # -> every non-blank line survives
    r2 = (LineFilter().setMinWords(2).setRequireTerminalPunct(False)
          .setBlocklist().transform(df).first())
    assert r2["n_lines_kept"] == 5


def test_unigram_lm_scoring(spark, tmp_path):
    import math

    from flink_ml__spark.functions.curation import UnigramLM, UnigramLMModel

    corpus = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat"), (3, "the cat ran")],
        ["doc_id", "text"])
    model = UnigramLM().setMaxVocab(3).fit(corpus)
    # counts: the=3, cat=2, sat=2, dog=1, ran=1; total=9
    # vocab top-3 (cnt desc, token asc): the, cat, sat
    out = {r["doc_id"]: r for r in model.transform(corpus).collect()}
    lp = lambda c: math.log(c / 9.0)
    oov = math.log(1.0 / 9.0)
    assert out[1]["mean_logprob"] == pytest.approx(
        (lp(3) + lp(2) + lp(2)) / 3, abs=1e-12)
    assert out[1]["oov_frac"] == 0.0
    assert out[2]["mean_logprob"] == pytest.approx(
        (lp(3) + oov + lp(2)) / 3, abs=1e-12)   # dog is OOV
    assert out[2]["oov_frac"] == pytest.approx(1 / 3)

    # save/load round-trip preserves vocab + oov penalty
    model.save(str(tmp_path / "ulm"))
    back = UnigramLMModel.load(spark, str(tmp_path / "ulm"))
    got = {r["doc_id"]: r["mean_logprob"]
           for r in back.transform(corpus).collect()}
    assert got[2] == pytest.approx(out[2]["mean_logprob"], abs=1e-12)


def test_new_operator_save_load_roundtrip(spark, tmp_path):
    """Reference testSaveLoad pattern for the newest operators: params
    (including the JSON targets map) survive save → load → transform."""
    from flink_ml__spark.functions.curation import CorpusProfiler
    from flink_ml__spark.functions.text import PiiRedactor

    bal = (DomainBalancer().setGroupCol("lang")
           .setTargets({"en": 3, "fr": 1}).setSalt("s2"))
    bal.save(str(tmp_path / "bal"))
    bal2 = DomainBalancer.load(spark, str(tmp_path / "bal"))
    assert bal2.getTargets() == bal.getTargets()
    assert bal2.getSalt() == "s2"

    prof = CorpusProfiler().setGroupCols("lang", "source").setValueCol("n_chars")
    prof.save(str(tmp_path / "prof"))
    prof2 = CorpusProfiler.load(spark, str(tmp_path / "prof"))
    assert prof2.getOrDefault(prof2.groupCols) == ["lang", "source"]

    red = PiiRedactor().setInputCol("body").setOutputCol("clean")
    red.save(str(tmp_path / "red"))
    red2 = PiiRedactor.load(spark, str(tmp_path / "red"))
    df = spark.createDataFrame([("x@y.io",)], ["body"])
    assert red2.transform(df).first()["clean"] == "<EMAIL>"


def test_domain_balancer_target_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        DomainBalancer().setTargets({"en": -0.5, "de": 0.5})


def test_line_filter_null_text(spark):
    """NULL text ≡ empty document: zero counts (not size(NULL) = -1)
    and an empty rewrite (not NULL)."""
    from flink_ml__spark.functions.curation import LineFilter

    df = spark.createDataFrame([(1, None), (2, "This line survives fine.")],
                               ["doc_id", "text"])
    out = {r["doc_id"]: r for r in LineFilter().transform(df).collect()}
    assert out[1]["n_lines_kept"] == 0
    assert out[1]["n_lines_total"] == 0
    assert out[1]["text_filtered"] == ""
    assert out[2]["n_lines_kept"] == 1


def test_repetition_scorer_sql_trim_semantics(spark):
    """Line emptiness uses SQL trim() semantics (ASCII space only): a
    tab-only line counts as a line, exactly as the DuckDB oracle sees
    it — Python str.strip() would silently drop it."""
    from flink_ml__spark.functions.curation import RepetitionScorer

    df = spark.createDataFrame([(1, "\t\nfoo bar\n\t")], ["doc_id", "text"])
    r = RepetitionScorer().transform(df).collect()[0]
    # lines after space-only strip: ["\t", "foo bar", "\t"] → 1 dup of 3
    assert abs(r["dup_line_frac"] - 1 / 3) < 1e-9


def test_perplexity_bucketer(spark):
    from flink_ml__spark.functions.curation import PerplexityBucketer

    df = spark.createDataFrame(
        [(i, float(-i)) for i in range(1, 10)] + [(10, None)],
        "doc_id long, mean_logprob double")
    out = {r["doc_id"]: r["ppl_bucket"]
           for r in PerplexityBucketer().transform(df).collect()}
    # scores -1..-9: head = top third (>= P(2/3)), tail = bottom third
    assert out[1] == "head" and out[2] == "head"
    assert out[5] == "middle"
    assert out[8] == "tail" and out[9] == "tail"
    assert out[10] is None  # NULL score → NULL bucket

    import pytest as _pytest
    with _pytest.raises(ValueError):
        PerplexityBucketer().setHeadFrac(0.7).setTailFrac(0.5).transform(df)


def test_dsir_selector_prefers_target_like_docs(spark):
    """Documents sharing the target corpus's bigrams must score higher
    than documents full of out-of-target bigrams; < 2 tokens → NULL."""
    from flink_ml__spark.functions.curation import DSIRSelector

    target = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "the quick brown fox sleeps under the warm sun")],
        ["doc_id", "text"])
    raw = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"),
         (2, "matrix eigenvalue decomposition converges quadratically"),
         (3, "solo")],
        ["doc_id", "text"])
    model = DSIRSelector().setNumBuckets(64).fit(target, raw)
    out = {r["doc_id"]: r["dsir_logweight"]
           for r in model.transform(raw).collect()}
    assert out[1] > out[2]
    assert out[3] is None


def test_representative_selector_keeps_best_scoring(spark):
    from flink_ml__spark.functions.curation import RepresentativeSelector

    df = spark.createDataFrame(
        [(1, 10, 50), (2, 10, 90), (3, 10, 90),   # cluster 10: 2 wins (tie→min id)
         (4, 20, 30),                             # singleton
         (5, 30, 70), (6, 30, 10)],               # cluster 30: 5 wins
        ["doc_id", "cluster_id", "score"])
    out = sorted(r["doc_id"] for r in RepresentativeSelector()
                 .setScoreCol("score").transform(df).collect())
    assert out == [2, 4, 5]


def test_document_chunker_overlap_and_tail(spark):
    from flink_ml__spark.functions.curation import DocumentChunker

    words = " ".join(f"w{i}" for i in range(1, 11))   # 10 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, None)], ["doc_id", "text"])
    op = DocumentChunker().setChunkTokens(4).setOverlapTokens(1)
    out = [r for r in op.transform(df).orderBy("doc_id", "chunk_index")
           .collect()]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1,4,7 cover 1-4,4-7,7-10 — 3 chunks, stride 3
    assert [r["chunk_start"] for r in by_doc[1]] == [1, 4, 7]
    assert by_doc[1][0]["chunk_text"] == "w1 w2 w3 w4"
    assert by_doc[1][2]["chunk_text"] == "w7 w8 w9 w10"
    assert all(r["n_chunks"] == 3 for r in by_doc[1])
    # doc 2: shorter than a chunk → single short chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "short doc"
    # NULL text → no rows
    assert 3 not in by_doc

    import pytest as _pytest
    with _pytest.raises(ValueError):
        DocumentChunker().setChunkTokens(4).setOverlapTokens(4).transform(df)


def test_dsir_model_save_load_roundtrip(spark, tmp_path):
    from flink_ml__spark.functions.curation import DSIRModel, DSIRSelector

    target = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], ["doc_id", "text"])
    raw = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "matrix eigenvalue decomposition converges")],
        ["doc_id", "text"])
    model = DSIRSelector().setNumBuckets(64).fit(target, raw)
    p = str(tmp_path / "dsir_model")
    model.save(p)
    loaded = DSIRModel.load(spark, p)
    orig = {r["doc_id"]: r["dsir_logweight"]
            for r in model.transform(raw).collect()}
    back = {r["doc_id"]: r["dsir_logweight"]
            for r in loaded.transform(raw).collect()}
    assert orig == back


def test_frequent_ngrams_golden(spark):
    from flink_ml__spark.functions.curation import FrequentNgrams

    df = spark.createDataFrame(
        [(1, "all rights reserved on this page"),
         (2, "content here; All Rights Reserved."),
         (3, "all rights reserved"),
         (4, "too short"),          # < n tokens: no grams, no [1,0] bug
         (5, None)],
        ["doc_id", "text"])
    out = FrequentNgrams().setN(3).setTopK(5).setMinDocFreq(2) \
        .transform(df).collect()
    assert out[0]["ngram"] == "all rights reserved"
    assert out[0]["doc_freq"] == 3 and out[0]["total_count"] == 3
    # nothing else clears minDocFreq=2
    assert len(out) == 1

    # doc frequency counts documents, not occurrences
    rep = spark.createDataFrame(
        [(1, "spam phrase spam phrase spam phrase spam phrase"),
         (2, "unique a b"), (3, "unique a b")],
        ["doc_id", "text"])
    top = FrequentNgrams().setN(2).setTopK(3).setMinDocFreq(1) \
        .transform(rep).collect()
    # 2-doc bigrams ("a b", "unique a") outrank 4 repeats in 1 doc
    assert [r["ngram"] for r in top] == ["a b", "unique a", "spam phrase"]
    assert top[0]["doc_freq"] == 2
    assert top[2]["doc_freq"] == 1 and top[2]["total_count"] == 4


def test_epoch_shuffler_properties(spark):
    from flink_ml__spark.functions.curation import EpochShuffler

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    op = EpochShuffler().setNumShards(4).setEpoch(0)
    a = {r["doc_id"]: (r["shard"], r["position"])
         for r in op.transform(df).collect()}
    # layout-independent: identical on a repartitioned frame
    b = {r["doc_id"]: (r["shard"], r["position"])
         for r in op.transform(df.repartition(17)).collect()}
    assert a == b
    # positions tile 0..n_s-1 within every shard, no gaps or dups
    from collections import defaultdict
    by_shard = defaultdict(list)
    for s, p in a.values():
        by_shard[s].append(p)
    assert set(by_shard) == {0, 1, 2, 3}
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))
    # shards are balanced (uniform hash): no shard 2x another
    sizes = [len(ps) for ps in by_shard.values()]
    assert max(sizes) < 2 * min(sizes)
    # a different epoch is a different permutation of the same rows
    e1 = {r["doc_id"]: (r["shard"], r["position"])
          for r in EpochShuffler().setNumShards(4).setEpoch(1)
          .transform(df).collect()}
    assert set(e1) == set(a)
    assert sum(e1[k] != a[k] for k in a) > 500


def test_domain_balancer_temperature(spark):
    import pytest as _pytest

    # 800 'en', 160 'de', 40 'fr' — a skewed mix
    rows = ([(i, "en") for i in range(800)]
            + [(800 + i, "de") for i in range(160)]
            + [(960 + i, "fr") for i in range(40)])
    df = spark.createDataFrame(rows, ["doc_id", "lang"])

    # T=1 keeps the natural composition: nothing must be dropped
    # beyond binomial noise of the threshold arithmetic
    t1 = DomainBalancer().with_temperature(df, 1.0).transform(df)
    by = {r["lang"]: r["n"] for r in
          t1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by["en"] > 700 and by["de"] > 130 and by["fr"] > 30

    # higher temperature flattens: en's share shrinks toward uniform
    t4 = DomainBalancer().with_temperature(df, 4.0).transform(df)
    b4 = {r["lang"]: r["n"] for r in
          t4.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    nat_share = 800 / 1000
    t4_share = b4["en"] / sum(b4.values())
    assert t4_share < nat_share
    # fr (smallest) keeps everything it can: its fraction rises
    assert b4["fr"] / sum(b4.values()) > 40 / 1000
    # expected composition ~ c^(1/4) normalized
    w = {g: c ** 0.25 for g, c in {"en": 800, "de": 160, "fr": 40}.items()}
    s = sum(w.values())
    for g in w:
        assert b4[g] / sum(b4.values()) == _pytest.approx(w[g] / s, abs=0.06)

    # determinism
    again = {r["lang"]: r["n"] for r in
             DomainBalancer().with_temperature(df, 4.0).transform(df)
             .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert again == b4

    with _pytest.raises(ValueError):
        DomainBalancer().with_temperature(df, 0.0)
    with _pytest.raises(ValueError):
        DomainBalancer().with_temperature(df.filter("doc_id < 0"), 2.0)


def test_domain_divergence_goldens(spark):
    import math

    import pytest as _pytest

    from flink_ml__spark.functions.curation import DomainDivergence

    df = spark.createDataFrame(
        [(1, "a", "x x y"), (2, "a", "x y y"),
         (3, "b", "x x y y"),            # same mix as corpus -> low KL
         (4, "c", "z z z z z z")],       # disjoint tokens -> high KL
        ["doc_id", "grp", "text"])
    out = {r["grp"]: r for r in
           (DomainDivergence().setGroupCol("grp").setVocabSize(3)
            .transform(df)).collect()}
    # vocab (top-3 by count): x(5), y(5), z(6) -> all three
    assert out["a"]["n_vocab_tokens"] == 6
    assert out["b"]["n_vocab_tokens"] == 4
    assert out["c"]["n_vocab_tokens"] == 6

    # hand-computed KL for group c: counts (x,y,z)=(0,0,6), V=3
    # p = (1/9, 1/9, 7/9); q = ((6+1)/19, (6+1)/19, (5+2)/19)... wait
    # global: x=5, y=5, z=6, C=16; q=(6/19, 6/19, 7/19)
    p = [1 / 9, 1 / 9, 7 / 9]
    q = [6 / 19, 6 / 19, 7 / 19]
    kl_c = sum(pi * math.log(pi / qi) for pi, qi in zip(p, q))
    assert out["c"]["kl_to_corpus"] == _pytest.approx(kl_c, rel=1e-9)
    # similar-to-corpus group diverges less than the disjoint one
    assert out["b"]["kl_to_corpus"] < out["c"]["kl_to_corpus"]
    assert all(r["kl_to_corpus"] >= -1e-12 for r in out.values())


def test_domain_divergence_nonnegative_when_cap_exceeds_vocab(spark):
    # regression: with vocabSize far above the distinct-token count the
    # smoothing constant must shrink to the actual vocab, or p stops
    # summing to 1 and KL goes negative
    from flink_ml__spark.functions.curation import DomainDivergence

    df = spark.createDataFrame(
        [(1, "a", "x x y"), (2, "b", "z z z")], ["doc_id", "grp", "text"])
    out = (DomainDivergence().setGroupCol("grp").setVocabSize(1000)
           .transform(df)).collect()
    assert all(r["kl_to_corpus"] >= -1e-12 for r in out)
    assert any(r["kl_to_corpus"] > 0.01 for r in out)


def test_line_deduplicator_goldens(spark):
    from flink_ml__spark.functions.curation import LineDeduplicator

    df = spark.createDataFrame(
        [(1, "unique alpha\nSHARED BANNER\nunique beta"),
         (2, "SHARED BANNER\nunique gamma"),
         (3, "  shared banner\t\nunique delta"),   # trim matters, case not
         (4, None),
         (5, "only\n\n\nme")],
        ["doc_id", "text"])

    # default: boilerplate removed EVERYWHERE
    out = {r["doc_id"]: r for r in
           LineDeduplicator().setDupDocs(2).transform(df).collect()}
    assert out[1]["text_line_deduped"] == "unique alpha\nunique beta"
    assert out[2]["text_line_deduped"] == "unique gamma"
    # trim('  shared banner\t') != 'SHARED BANNER' (case-sensitive) —
    # doc 3 shares with nobody
    assert "shared banner" in out[3]["text_line_deduped"]
    assert out[4]["text_line_deduped"] == ""
    assert out[4]["n_lines_total"] == 0
    assert out[5]["text_line_deduped"] == "only\nme"   # blanks dropped
    assert out[5]["n_lines_kept"] == 2

    # keepFirst: smallest (doc, line-index) occurrence survives
    kf = {r["doc_id"]: r for r in
          LineDeduplicator().setDupDocs(2).setKeepFirst(True)
          .transform(df).collect()}
    assert kf[1]["text_line_deduped"] == \
        "unique alpha\nSHARED BANNER\nunique beta"
    assert kf[2]["text_line_deduped"] == "unique gamma"


def test_token_budget_sampler_goldens(spark):
    import pytest as _pytest

    from flink_ml__spark.functions.curation import TokenBudgetSampler

    rows = ([(i, "a", 100) for i in range(50)]        # 5000 tokens of a
            + [(100 + i, "b", 100) for i in range(5)]  # 500 tokens of b
            + [(200, "c", 100)])                       # group not budgeted
    df = spark.createDataFrame(rows, ["doc_id", "grp", "n_tok"])
    op = (TokenBudgetSampler().setGroupCol("grp").setTokenCol("n_tok")
          .setBudgets({"a": 1000, "b": 10000}))
    out = op.transform(df)
    by = {r["grp"]: [x["n_tok"] for x in out.filter(out["grp"] == r["grp"]).collect()]
          for r in out.select("grp").distinct().collect()}
    # a: 10 docs fill the 1000 budget exactly; b: budget exceeds supply
    assert sum(by["a"]) == 1000
    assert sum(by["b"]) == 500
    # unbudgeted group dropped entirely
    assert "c" not in by

    # crossing doc included: budget 150 with 100-token docs -> 2 docs
    cross = op.setBudgets({"a": 150}).transform(
        df.filter("grp = 'a'"))
    assert cross.count() == 2

    # deterministic + layout-independent
    op2 = (TokenBudgetSampler().setGroupCol("grp").setTokenCol("n_tok")
           .setBudgets({"a": 1000}))
    k1 = {r["doc_id"] for r in op2.transform(df).collect()}
    k2 = {r["doc_id"] for r in op2.transform(df.repartition(7)).collect()}
    assert k1 == k2 and len(k1) == 10

    with _pytest.raises(ValueError):
        TokenBudgetSampler().setBudgets({})
    with _pytest.raises(ValueError):
        TokenBudgetSampler().transform(df)


def test_quality_classifier_separation_and_roundtrip(spark, tmp_path):
    import pytest as _pytest

    from flink_ml__spark.functions.curation import (
        QualityClassifier,
        QualityClassifierModel,
    )

    pos = spark.createDataFrame(
        [(i, f"the curated encyclopedia article {i} explains the "
             f"method with cited sources") for i in range(30)],
        ["doc_id", "text"])
    neg = spark.createDataFrame(
        [(i, f"click here buy now {i} cheap casino deals win prizes")
         for i in range(30)],
        ["doc_id", "text"])
    model = (QualityClassifier().setMaxIter(20).setNumFeatures(1 << 14)
             .fit(pos, neg))
    sp = model.transform(pos).agg(F.avg("quality_prob")).first()[0]
    sn = model.transform(neg).agg(F.avg("quality_prob")).first()[0]
    assert sp > 0.9 and sn < 0.1

    # generalizes to held-out wording of each side
    held = spark.createDataFrame(
        [(1, "an encyclopedia article with cited sources"),
         (2, "buy cheap casino prizes click now")], ["doc_id", "text"])
    got = {r["doc_id"]: r["quality_prob"]
           for r in model.transform(held).collect()}
    assert got[1] > 0.5 > got[2]

    # NULL and empty text score the empty-features prior, no crash
    edge = model.transform(spark.createDataFrame(
        [(1, ""), (2, None)], ["doc_id", "text"])).collect()
    assert all(0.0 <= r["quality_prob"] <= 1.0 for r in edge)

    # save/load round-trips the LR coefficients
    p = str(tmp_path / "qc_model")
    model.save(p)
    back = QualityClassifierModel.load(spark, p)
    again = {r["doc_id"]: r["quality_prob"]
             for r in back.transform(held).collect()}
    assert again == _pytest.approx(got)

    with _pytest.raises(ValueError):
        QualityClassifierModel().transform(held)


def test_quality_classifier_model_survives_observe_in_session(spark):
    """The fitted LR model must stay task-serializable after the
    session's first observe() call.

    SparkSession.observationManager is a lazy val: null (and thus
    Java-serializable as a field) until anything in the session calls
    observe(), non-serializable forever after. MLlib's training
    summary holds the session via its predictions frame, so a model
    that kept its summary would make every later transform() task die
    with NotSerializableException(ObservationManager). fit() strips
    the summary; this pins that contract against regressions (several
    operators — UnigramLM/BigramLM.fit, DuplicateClusterer — now use
    observe() and may legitimately run first in a shared session)."""
    from pyspark.sql import Observation

    from flink_ml__spark.functions.curation import QualityClassifier

    # force-initialize the session's ObservationManager first
    obs = Observation()
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert int(obs.get["n"]) == 5

    pos = spark.createDataFrame(
        [(i, f"curated encyclopedia article {i} cited") for i in range(20)],
        ["doc_id", "text"])
    neg = spark.createDataFrame(
        [(i, f"click buy now {i} cheap casino win") for i in range(20)],
        ["doc_id", "text"])
    model = (QualityClassifier().setMaxIter(5).setNumFeatures(1 << 12)
             .fit(pos, neg))
    assert not model._lr.hasSummary
    got = model.transform(pos).agg(F.avg("quality_prob")).first()[0]
    assert 0.0 <= got <= 1.0


def _bigram_reference(corpus, doc, lam=0.7, max_vocab=10**6, max_bigrams=10**6):
    import math
    import re

    tok = lambda s: [w for w in re.split(r"[^a-zA-Z0-9']+", (s or "").lower()) if w]
    uni, big, total = {}, {}, 0
    for t in corpus:
        ws = tok(t)
        total += len(ws)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    uni = dict(sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:max_vocab])
    big = dict(sorted(big.items(),
                      key=lambda kv: (-kv[1], kv[0]))[:max_bigrams])
    ws = tok(doc)
    if not ws:
        return None, None
    puni = lambda w: (uni[w] if w in uni else 1.0) / total
    s = math.log(puni(ws[0]))
    hits = 0
    for a, b in zip(ws, ws[1:]):
        cb = big.get((a, b))
        pml = cb / uni[a] if (cb is not None and uni.get(a)) else 0.0
        if cb is not None:
            hits += 1
        s += math.log(lam * pml + (1 - lam) * puni(b))
    return s / len(ws), (hits / (len(ws) - 1) if len(ws) > 1 else None)


def test_bigram_lm_matches_reference(spark):
    from flink_ml__spark.functions.curation import BigramLM

    corpus_texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown cat naps under the warm sun",
        "a slow green turtle walks past the quick brown fox",
    ]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)],
        "doc_id long, text string")
    probes = ["the quick brown fox", "purple elephants sing opera",
              "fox", None, ""]
    probe_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(probes)], "doc_id long, text string")
    model = BigramLM().fit(corpus)
    got = {r["doc_id"]: r for r in model.transform(probe_df).collect()}
    import pytest as _pytest
    for i, t in enumerate(probes):
        mlp, bf = _bigram_reference(corpus_texts, t)
        if mlp is None:
            assert got[i]["mean_logprob"] is None
            assert got[i]["bigram_frac"] is None
        else:
            assert got[i]["mean_logprob"] == _pytest.approx(mlp, rel=1e-12)
            if bf is None:
                assert got[i]["bigram_frac"] is None
            else:
                assert got[i]["bigram_frac"] == _pytest.approx(bf)
    # in-corpus text outscores gibberish, and its bigrams all hit
    assert got[0]["mean_logprob"] > got[1]["mean_logprob"]
    assert got[0]["bigram_frac"] == 1.0
    assert got[1]["bigram_frac"] == 0.0


def test_bigram_lm_caps_and_save_load(spark, tmp_path):
    from flink_ml__spark.functions.curation import BigramLM, BigramLMModel

    corpus = spark.createDataFrame(
        [(0, "a b a b a c"), (1, "a b d")], "doc_id long, text string")
    model = (BigramLM().setMaxVocab(2).setMaxBigrams(2)
             .fit(corpus))
    # vocab cap keeps the 2 most frequent tokens (a:4, b:3)
    assert {r["token"] for r in model._unigrams.collect()} == {"a", "b"}
    assert model._bigrams.count() == 2

    probe = spark.createDataFrame([(0, "a b a")], "doc_id long, text string")
    before = model.transform(probe).first()["mean_logprob"]
    path = str(tmp_path / "bigram_lm")
    model.save(path)
    loaded = BigramLMModel.load(spark, path)
    assert loaded.transform(probe).first()["mean_logprob"] == before


def test_weighted_sampler_reference_and_bias(spark):
    import hashlib
    import math

    from flink_ml__spark.functions.curation import WeightedSampler

    rows = [(i, float(10 if i < 50 else 1)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    op = (WeightedSampler().setWeightCol("w").setN(100)
          .setSalt("t1"))
    got = [r["doc_id"] for r in op.transform(df).collect()]
    assert len(got) == 100

    # exact reference: same salted hash -> same keys -> same cut
    def key(i, w):
        h = int(hashlib.md5(f"t1:{i}".encode()).hexdigest()[:15], 16)
        return math.log((h + 1) / float(1 << 60)) / w
    want = sorted(rows, key=lambda r: (-round(key(*r), 12), r[0]))[:100]
    assert got == [i for i, _ in want]

    # bias: the 10x-weighted decile is ~an order denser in the sample
    heavy = sum(1 for i in got if i < 50)
    assert heavy >= 25            # 50 of 500 rows, weight 10 vs 1

    # determinism + independence across salts
    again = [r["doc_id"] for r in op.transform(df).collect()]
    assert again == got
    other = [r["doc_id"] for r in
             op.setSalt("t2").transform(df).collect()]
    assert other != got

    # NULL / non-positive weights excluded
    bad = spark.createDataFrame([(1, None), (2, 0.0), (3, -1.0),
                                 (4, 2.0)], "doc_id long, w double")
    kept = (WeightedSampler().setWeightCol("w").setN(10)
            .transform(bad).collect())
    assert [r["doc_id"] for r in kept] == [4]


def test_split_leakage_auditor_reports_cross_split_pairs_only(spark):
    from flink_ml__spark.functions.curation import SplitLeakageAuditor

    labeled = spark.createDataFrame(
        [(1, "train"), (2, "val"), (3, "train"), (4, "train"), (5, "test")],
        "doc_id long, split string")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9),    # train-val: leak
         (3, 4, 0.95),   # train-train: fine
         (4, 5, 0.8),    # train-test: leak
         (6, 1, 0.99)],  # 6 unlabeled: dropped from the audit
        "id_keep long, id_dup long, jaccard double")
    got = sorted(
        tuple(r) for r in
        SplitLeakageAuditor().audit(pairs, labeled).collect())
    assert got == [(1, 2, 0.9, "train", "val"),
                   (4, 5, 0.8, "train", "test")]
    # extras pass through, labels keyed by the pair-column suffixes
    cols = SplitLeakageAuditor().audit(pairs, labeled).columns
    assert cols == ["id_keep", "id_dup", "jaccard",
                    "split_keep", "split_dup"]


def test_split_leakage_auditor_custom_columns(spark):
    from flink_ml__spark.functions.curation import SplitLeakageAuditor

    labeled = spark.createDataFrame(
        [(10, "a"), (20, "b")], "vid long, fold string")
    pairs = spark.createDataFrame(
        [(10, 20, 0.97)], "id_l long, id_r long, cosine double")
    op = (SplitLeakageAuditor().setIdCol("vid").setSplitCol("fold"))
    got = op.audit(pairs, labeled, id_a="id_l", id_b="id_r").collect()
    assert [tuple(r) for r in got] == [(10, 20, 0.97, "a", "b")]
    assert got[0].__fields__ == ["id_l", "id_r", "cosine",
                                 "fold_l", "fold_r"]


def test_corpus_profiler_rank_error_report(spark):
    from flink_ml__spark.functions.curation import CorpusProfiler

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)]
        + [("b", 5.0)] * 10 + [("b", None)],
        "g string, x double")
    rep = (CorpusProfiler().setGroupCols("g").setValueCol("x")
           .rank_error_report(df, accuracy=10000)
           .orderBy("g", "p").collect())
    assert len(rep) == 6  # 2 groups x 3 percentiles
    assert not any(r["is_violation"] for r in rep)
    # group a: 100 distinct values — the p50 element's rank interval
    # must bracket 0.5 within 1/accuracy + 1/n
    a50 = [r for r in rep if r["g"] == "a" and r["p"] == 0.5][0]
    assert a50["lo_frac"] <= 0.5 + 0.0101
    assert a50["hi_frac"] >= 0.5 - 0.0101
    # group b: constant values (NULL excluded) — interval is [0, 1]
    b50 = [r for r in rep if r["g"] == "b" and r["p"] == 0.5][0]
    assert b50["lo_frac"] == 0.0 and b50["hi_frac"] == 1.0


def test_compression_scorer_goldens(spark):
    import zlib

    from flink_ml__spark.functions.curation import CompressionScorer

    rep = ("spam " * 50).strip()
    txt = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, rep), (2, txt), (3, None), (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["raw_bytes"], r["compress_ratio"])
           for r in CompressionScorer().transform(df).collect()}
    # exact replay: zlib output for (input, level) is deterministic
    for i, t in [(1, rep), (2, txt)]:
        b = t.encode()
        assert got[i] == (len(b), len(zlib.compress(b, 6)) / len(b))
    assert got[1][1] < 0.2 < 0.5 < got[2][1]   # repetition compresses
    assert got[3] == (0, None) and got[4] == (0, None)


def test_compression_scorer_level_validation(spark):
    import pytest

    from flink_ml__spark.functions.curation import CompressionScorer

    with pytest.raises(ValueError, match="level"):
        CompressionScorer().setLevel(0)
    with pytest.raises(ValueError, match="level"):
        CompressionScorer().setLevel(10)


def test_compression_scorer_arrow_only(spark):
    from flink_ml__spark.functions.curation import CompressionScorer

    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    plan = (CompressionScorer().transform(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in plan       # batched, not row-at-a-time
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_stratified_sampler_exact_k_and_determinism(spark):
    from flink_ml__spark.functions.curation import StratifiedSampler

    rows = ([(i, "en") for i in range(20)]
            + [(100 + i, "fr") for i in range(3)]
            + [(200, None)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    samp = StratifiedSampler().setGroupCol("lang").setK(5)
    out = samp.transform(df).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["lang"], []).append(r)
    assert len(by_g["en"]) == 5           # exact k
    assert len(by_g["fr"]) == 3           # small stratum keeps all
    assert len(by_g[None]) == 1           # NULL is its own stratum
    assert sorted(r["sample_rank"] for r in by_g["en"]) == [1, 2, 3,
                                                            4, 5]
    # layout-invariant: repartitioned input draws the SAME sample
    again = {r["doc_id"] for r in
             samp.transform(df.repartition(7)).collect()}
    assert again == {r["doc_id"] for r in out}
    # a different salt draws a different sample (20 choose 5 — equal
    # samples would be a broken hash)
    other = {r["doc_id"] for r in
             samp.setSalt("other").transform(df).collect()
             if r["lang"] == "en"}
    assert other != {r["doc_id"] for r in by_g["en"]}
    import pytest as _pt
    with _pt.raises(ValueError, match="k must"):
        StratifiedSampler().setK(0)


def test_stratified_sampler_score_mode_keeps_best_k(spark):
    """scoreCol mode = per-stratum quality capping: highest scores
    win, NULL scores lose to every real score, plateaus split by the
    salted hash deterministically."""
    from flink_ml__spark.functions.curation import StratifiedSampler

    rows = ([(i, "en", float(i)) for i in range(10)]        # 0..9
            + [(100 + i, "fr", 5.0) for i in range(6)]      # plateau
            + [(900, "en", None)])                          # null score
    df = spark.createDataFrame(rows,
                               "doc_id long, lang string, score double")
    samp = (StratifiedSampler().setGroupCol("lang").setK(3)
            .setScoreCol("score"))
    out = samp.transform(df).collect()
    en = sorted(r["doc_id"] for r in out if r["lang"] == "en")
    assert en == [7, 8, 9]                  # the 3 best, null never
    fr = {r["doc_id"] for r in out if r["lang"] == "fr"}
    assert len(fr) == 3                     # exact cut inside plateau
    # plateau cut is layout-invariant
    again = {r["doc_id"] for r in samp.transform(df.repartition(5))
             .collect() if r["lang"] == "fr"}
    assert again == fr
    # rank 1 is the top score
    top = [r for r in out if r["lang"] == "en" and r["sample_rank"] == 1]
    assert top[0]["doc_id"] == 9


def test_perplexity_bucketer_approx_percentile_path(spark):
    """relativeError > 0 (approx_percentile fit) reproduces the exact
    bucket assignment when the sketch's rank error is under one row."""
    from flink_ml__spark.functions.curation import PerplexityBucketer

    df = spark.createDataFrame(
        [(i, float(-i)) for i in range(1, 100)],
        "doc_id long, mean_logprob double")
    exact = {r["doc_id"]: r["ppl_bucket"]
             for r in PerplexityBucketer().transform(df).collect()}
    approx = {r["doc_id"]: r["ppl_bucket"]
              for r in (PerplexityBucketer().setRelativeError(0.0001)
                        .transform(df).collect())}
    diff = {k for k in exact if exact[k] != approx[k]}
    assert not diff, f"bucket mismatches at doc_ids {sorted(diff)[:5]}"


def test_negative_sampler_basics(spark):
    """k negatives per anchor, none equal to the anchor or a known
    positive, all drawn from the corpus, deterministic across runs."""
    from flink_ml__spark.functions.curation import NegativeSampler

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(50)],
                                 ["doc_id", "text"])
    anchors = docs.filter("doc_id % 10 = 0")
    positives = anchors.select(
        F.col("doc_id").alias("anchor_id"),
        (F.col("doc_id") + 1).alias("pos_id"))
    op = NegativeSampler().setK(3).setOversample(5)
    out = op.sample(anchors, docs, positives).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r["neg_id"])
        assert r["neg_id"] != r["anchor_id"]
        assert r["neg_id"] != r["anchor_id"] + 1       # positive excluded
        assert 0 <= r["neg_id"] < 50
    assert all(len(v) == 3 for v in by_anchor.values())
    assert all(len(set(v)) == 3 for v in by_anchor.values())  # deduped
    again = op.sample(anchors, docs, positives).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_negative_sampler_salt_gives_independent_draw(spark):
    from flink_ml__spark.functions.curation import NegativeSampler

    docs = spark.createDataFrame([(i, "x") for i in range(200)],
                                 ["doc_id", "text"])
    anchors = docs.filter("doc_id % 20 = 0")
    a = (NegativeSampler().setK(4).setSalt(0)
         .sample(anchors, docs).collect())
    b = (NegativeSampler().setK(4).setSalt(99)
         .sample(anchors, docs).collect())
    assert sorted(map(tuple, a)) != sorted(map(tuple, b))


def test_negative_sampler_dense_index_is_rank(spark):
    """The scalable two-level index equals the global rank by id for
    non-contiguous, shuffled ids."""
    import random

    from flink_ml__spark.functions.curation import NegativeSampler

    ids = random.Random(5).sample(range(10000), 300)
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = {r["__nid"]: r["__idx"] for r in
           NegativeSampler._dense_index(df, "doc_id").collect()}
    for rank, i in enumerate(sorted(ids)):
        assert got[i] == rank


def test_negative_sampler_empty_corpus_raises(spark):
    from flink_ml__spark.functions.curation import NegativeSampler

    df = spark.createDataFrame([], "doc_id long, text string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty corpus"):
        NegativeSampler().sample(df, df)


# ------------------------------------------------ content-defined chunks

def test_cdc_chunker_reassembles_and_is_insertion_robust(spark):
    from flink_ml__spark.functions.curation import ContentDefinedChunker

    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the forest while birds sing ") * 4
    df = spark.createDataFrame(
        [(1, base), (2, "INSERTED PREFIX " + base), (3, None), (4, "")],
        "doc_id long, text string")
    out = ContentDefinedChunker().setMaskBits(5).transform(df).toPandas()
    assert set(out.doc_id) == {1, 2}    # NULL/empty emit nothing
    d1 = out[out.doc_id == 1].sort_values("chunk_index")
    assert "".join(d1.chunk_text) == base
    assert list(d1.chunk_index) == list(range(1, len(d1) + 1))
    assert (d1.chunk_len == d1.chunk_text.str.len()).all()
    # content-defined: an insertion at the front leaves most of the
    # downstream chunking untouched
    h1 = set(d1.chunk_hash)
    h2 = set(out[out.doc_id == 2].chunk_hash)
    assert len(h1 & h2) / len(h1) > 0.7


def test_cdc_chunker_min_max_clamps(spark):
    from flink_ml__spark.functions.curation import ContentDefinedChunker

    text = "abcdefgh " * 40
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    base = (ContentDefinedChunker().setMaskBits(3).transform(df)
            .toPandas())
    clamped = (ContentDefinedChunker().setMaskBits(3).setMinChunk(12)
               .setMaxChunk(24).transform(df).toPandas())
    assert (clamped.chunk_len >= 12).iloc[:-1].all()  # tail may be short
    assert (clamped.chunk_len <= 24).all()
    assert not (base.chunk_len <= 24).all() or (base.chunk_len < 12).any()
    # clamps never break reassembly
    assert "".join(clamped.sort_values("chunk_index").chunk_text) == text


def test_cdc_chunker_duplicate_chunks_ledger(spark):
    from flink_ml__spark.functions.curation import ContentDefinedChunker

    shared = ("common boilerplate that appears in both documents and "
              "is long enough to form several chunks of text here ") * 3
    df = spark.createDataFrame(
        [(1, shared + "unique tail one"),
         (2, shared + "completely different ending text")],
        "doc_id long, text string")
    op = ContentDefinedChunker().setMaskBits(4)
    dup = op.duplicate_chunks(op.transform(df)).toPandas()
    assert len(dup) > 0
    assert (dup.n_docs == 2).any()          # cross-doc shared chunks
    assert (dup.n_occurrences >= 2).all()


def test_cdc_chunker_validates_params(spark):
    import pytest as _pytest

    from flink_ml__spark.functions.curation import ContentDefinedChunker

    with _pytest.raises(ValueError):
        ContentDefinedChunker().setMaskBits(0)
    with _pytest.raises(ValueError):
        ContentDefinedChunker().setMinChunk(0)
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        (ContentDefinedChunker().setMinChunk(10).setMaxChunk(5)
         .transform(df))


def test_chunk_overlap_detector(spark):
    from flink_ml__spark.functions.curation import (
        ChunkOverlapDetector,
        ContentDefinedChunker,
    )

    base = ("shared passage of text that chunks into several pieces "
            "and keeps going with more and more words ") * 4
    rows = [(1, base + "tail one"),
            (2, base + "a different tail entirely"),
            (3, "no overlap with anything else in this corpus at all "
                "just its own words repeated " * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunked = ContentDefinedChunker().setMaskBits(4).transform(df)
    got = (ChunkOverlapDetector().setMinFraction(0.3)
           .pairs(chunked).collect())
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["overlap_frac"] > 0.5 and r["n_shared"] >= 3


def test_chunk_overlap_max_df_drops_boilerplate(spark):
    """A chunk shared by every document exceeds maxDf and generates
    no candidate pairs on its own."""
    from flink_ml__spark.functions.curation import ChunkOverlapDetector

    rows = [(i, "boiler", 1) for i in range(1, 6)]
    chunked = spark.createDataFrame(
        [(i, h, 1) for i, h, _ in rows],
        "doc_id long, chunk_hash string, chunk_index int")
    out = (ChunkOverlapDetector().setMaxDf(3).setMinFraction(0.1)
           .pairs(chunked).collect())
    assert out == []


def test_chunk_overlap_validates_params(spark):
    import pytest as _pytest

    from flink_ml__spark.functions.curation import ChunkOverlapDetector

    with _pytest.raises(ValueError):
        ChunkOverlapDetector().setMinFraction(0.0)
    with _pytest.raises(ValueError):
        ChunkOverlapDetector().setMaxDf(1)


# ------------------------------------------------------ temporal split

def test_temporal_splitter_embargo(spark):
    import datetime as dt

    from flink_ml__spark.functions.curation import TemporalSplitter

    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(hours=i)) for i in range(10)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = (TemporalSplitter().setTrainEnd("2024-06-01 04:00:00")
           .setEmbargoSec(2 * 3600).transform(df))
    got = {r["id"]: r["split"] for r in out.collect()}
    assert [got[i] for i in range(10)] == (
        ["train"] * 4 + ["embargo"] * 2 + ["test"] * 4)
    assert got[99] is None

    import pytest as _pt
    with _pt.raises(ValueError):
        TemporalSplitter().transform(df)
    with _pt.raises(ValueError):
        TemporalSplitter().setEmbargoSec(-1)


def test_zipf_profiler(spark):
    from flink_ml__spark.functions.curation import ZipfProfiler

    # perfect Zipf: token k appears round(64/k) times
    rows = []
    for k in range(1, 9):
        rows += [(f"tok{k}",)] * round(64 / k)
    df = spark.createDataFrame([(i, " ".join(t for t, in rows))
                                for i in range(1)],
                               "doc_id long, text string")
    out = ZipfProfiler().setMaxRank(8).transform(df).first()
    assert out["n_types"] == 8 and out["top_rank"] == 8
    assert out["zipf_slope"] == pytest.approx(-1.0, abs=0.05)
    assert out["zipf_r2"] > 0.99
    with pytest.raises(ValueError):
        ZipfProfiler().setMaxRank(4)


def test_leakage_safe_splitter(spark):
    """Every near-duplicate cluster lands wholly in one split, and
    singletons get exactly the DeterministicSplitter assignment."""
    from flink_ml__spark.functions.curation import (
        DeterministicSplitter,
        LeakageSafeSplitter,
    )

    docs = spark.createDataFrame(
        [(i, f"unique document number {i} about topic {i}")
         for i in range(20)] +
        [(100, "the exact same boilerplate text here"),
         (101, "the exact same boilerplate text here"),
         (102, "the exact same boilerplate text here")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(100, 101), (101, 102)], ["id_keep", "id_dup"])
    out = (LeakageSafeSplitter().setTrainFrac(0.6).setValFrac(0.2)
           .split(docs, pairs))
    rows = {r["doc_id"]: (r["cluster_id"], r["split"])
            for r in out.collect()}
    assert len(rows) == 23
    # the cluster shares one label and one cluster id (the min member)
    assert {rows[i][0] for i in (100, 101, 102)} == {100}
    assert len({rows[i][1] for i in (100, 101, 102)}) == 1
    # singletons match the plain splitter exactly
    plain = {r["doc_id"]: r["split"]
             for r in (DeterministicSplitter().setTrainFrac(0.6)
                       .setValFrac(0.2).transform(docs).collect())}
    for i in range(20):
        assert rows[i][1] == plain[i]
    import pytest as _pt
    with _pt.raises(ValueError):
        (LeakageSafeSplitter().setTrainFrac(0.9).setValFrac(0.2)
         .split(docs, pairs))


def test_temperature_mixer(spark):
    import math

    from flink_ml__spark.functions.curation import TemperatureMixer

    rows = [(i, "tok " * 90, "big") for i in range(10)]
    rows += [(100 + i, "tok " * 10, "small") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r["lang"]: r
           for r in (TemperatureMixer().setGroupCol("lang")
                     .setTemperature(0.5).setTokenBudget(1000)
                     .transform(df).collect())}
    big, small = got["big"], got["small"]
    assert big["n_tokens"] == 900 and small["n_tokens"] == 100
    assert big["p_raw"] == 0.9 and small["p_raw"] == 0.1
    z = math.sqrt(0.9) + math.sqrt(0.1)
    assert abs(big["weight"] - math.sqrt(0.9) / z) < 1e-6
    # weights sum to 1; the small domain is upsampled relative to raw
    assert abs(big["weight"] + small["weight"] - 1.0) < 1e-6
    assert small["weight"] > small["p_raw"]
    assert small["sample_factor"] > big["sample_factor"]
    # tau=1 keeps natural proportions
    nat = {r["lang"]: r for r in (TemperatureMixer().setGroupCol("lang")
                                  .setTemperature(1.0).transform(df)
                                  .collect())}
    assert abs(nat["big"]["weight"] - 0.9) < 1e-6
    assert abs(nat["big"]["sample_factor"] - 1.0) < 1e-6
    import pytest as _pt
    with _pt.raises(ValueError):
        TemperatureMixer().setTemperature(0.0)
    with _pt.raises(ValueError):
        TemperatureMixer().setTokenBudget(-1)


# ---------------------------------------------------------------------------
# HeapsLawProfiler
# ---------------------------------------------------------------------------

def test_heaps_power_law_exact_fit(spark):
    from flink_ml__spark.functions.curation import HeapsLawProfiler
    # construct a corpus whose cumulative (n, V) points sit EXACTLY on
    # V = n^0.5: buckets of ids 0..3 with doc i carrying 4 tokens of
    # which the right number are new
    # bucket cum_n: 4, 16, 36, 64 -> cum_V: 2, 4, 6, 8
    docs = []
    tok = 0

    def words(new, total, start):
        ws = [f"w{start + j}" for j in range(new)]
        while len(ws) < total:
            ws.append("w0")
        return " ".join(ws)

    docs.append((0, words(2, 4, 0)))      # n=4,  V=2
    docs.append((1, words(2, 12, 2)))     # n=16, V=4
    docs.append((2, words(2, 20, 4)))     # n=36, V=6
    docs.append((3, words(2, 28, 6)))     # n=64, V=8
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = (HeapsLawProfiler().setNumPoints(4).transform(df).first())
    assert r["n_docs"] == 4 and r["n_tokens"] == 64 and r["n_types"] == 8
    assert r["n_points"] == 4
    # tolerance reflects the fit's fixed-point log quantization
    # (int64 millionths, for order-independent cross-engine-exact
    # moments): inputs carry <= 0.5e-6 quantization error, so beta/k
    # land within ~1e-5 of the exact power law, not machine epsilon
    assert abs(r["heaps_beta"] - 0.5) < 1e-5
    assert abs(r["heaps_k"] - 1.0) < 1e-5
    assert abs(r["heaps_r2"] - 1.0) < 1e-9


def test_heaps_saturated_template_corpus(spark):
    import pytest as _pt
    from flink_ml__spark.functions.curation import HeapsLawProfiler
    # identical template docs: vocabulary saturates in bucket 0 ->
    # beta near 0
    df = spark.createDataFrame(
        [(i, "the same template text again") for i in range(64)],
        "doc_id long, text string")
    r = HeapsLawProfiler().setNumPoints(8).transform(df).first()
    assert r["n_types"] == 5
    assert abs(r["heaps_beta"]) < 0.05
    with _pt.raises(ValueError, match="numPoints"):
        HeapsLawProfiler().setNumPoints(2)


# ---------------------------------------------------------------------------
# KneserNeyBigramLM
# ---------------------------------------------------------------------------

def test_kneser_ney_golden(spark):
    import math
    from flink_ml__spark.functions.curation import KneserNeyBigramLM
    corpus = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c")],
        "doc_id long, text string")
    m = (KneserNeyBigramLM().setMaxVocab(100).setMaxBigrams(100)
         .setDiscount(0.75).fit(corpus))
    # model: uni a3 b2 c1; big (a,b)2 (a,c)1; pre b1 c1; post a2; nbb 2
    out = {r["doc_id"]: r for r in m.transform(spark.createDataFrame(
        [(0, "a b"), (1, "c a"), (2, "b b"), (3, None)],
        "doc_id long, text string")).collect()}
    # "a b": pcont(a)=1/2 (unseen continuation floor);
    # p(b|a) = max(2-.75,0)/3 + .75*2/3 * 1/2 = 2/3
    want = (math.log(0.5) + math.log(2 / 3)) / 2
    assert abs(out[0]["mean_logprob"] - want) < 1e-12
    assert abs(out[0]["bigram_frac"] - 1.0) < 1e-12
    # "c a": history c has no kept bigrams -> backoff to pcont(a)=1/2
    assert abs(out[1]["mean_logprob"] - math.log(0.5)) < 1e-12
    assert out[1]["bigram_frac"] == 0.0
    # "b b": same backoff through pcont(b)=1/2
    assert abs(out[2]["mean_logprob"] - math.log(0.5)) < 1e-12
    assert out[3]["mean_logprob"] is None


def test_kneser_ney_save_load_round_trip(spark, tmp_path):
    from flink_ml__spark.functions.curation import (
        KneserNeyBigramLM,
        KneserNeyBigramLMModel,
    )
    corpus = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c")],
        "doc_id long, text string")
    m = (KneserNeyBigramLM().setMaxVocab(100).setMaxBigrams(100)
         .setDiscount(0.5).fit(corpus))
    p = str(tmp_path / "kn")
    m.save(p)
    back = KneserNeyBigramLMModel.load(spark, p)
    assert back._discount == 0.5
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "c a"), (2, "b b"), (3, None)],
        "doc_id long, text string")
    assert (sorted(back.transform(docs).collect())
            == sorted(m.transform(docs).collect()))


def test_kneser_ney_sums_to_one_and_ranks_fluency(spark):
    import math
    import pytest as _pt
    from flink_ml__spark.functions.curation import KneserNeyBigramLM
    corpus = spark.createDataFrame(
        [(i, "the cat sat on the mat . the dog sat on the rug .")
         for i in range(4)] + [(9, "xyz qqq zzz")],
        "doc_id long, text string")
    m = KneserNeyBigramLM().setMaxVocab(64).setMaxBigrams(64).fit(corpus)
    out = {r["doc_id"]: r["mean_logprob"] for r in m.transform(
        spark.createDataFrame(
            [(0, "the cat sat on the mat"), (1, "mat the on zzz qqq")],
            "doc_id long, text string")).collect()}
    # in-domain word order scores strictly higher than scrambled text
    assert out[0] > out[1]
    # Σ_w p(w|history) over the model vocabulary+continuations == 1
    # for a history with kept bigrams (here: "the")
    uni = {r["token"]: r["cnt"] for r in m._unigrams.collect()}
    big = {(r["w1"], r["w2"]): r["cnt"] for r in m._bigrams.collect()}
    pre = {}
    post = {}
    for (w1, w2) in big:
        pre[w2] = pre.get(w2, 0) + 1
        post[w1] = post.get(w1, 0) + 1
    nbb = len(big)
    c1, po, dd = uni["the"], post["the"], 0.75
    # sum over the continuation vocabulary (pcont sums to 1 there)
    total = sum(max(big.get(("the", w), 0) - dd, 0) / c1
                + dd * po / c1 * (pre[w] / nbb) for w in pre)
    assert abs(total - 1.0) < 1e-9
    with _pt.raises(ValueError, match="discount"):
        KneserNeyBigramLM().setDiscount(1.0)


# ---------------------------------------------------------------------------
# EffectiveSampleSize / Chao1VocabularyEstimator
# ---------------------------------------------------------------------------

def test_ess_golden(spark):
    from flink_ml__spark.functions.curation import EffectiveSampleSize
    # uniform weights: ESS == n
    eq = spark.createDataFrame([(2.0,)] * 5, "w double")
    r = EffectiveSampleSize().setWeightCol("w").evaluate(eq).first()
    assert r["n"] == 5 and abs(r["ess"] - 5.0) < 1e-12
    assert abs(r["ess_ratio"] - 1.0) < 1e-12
    # one dominant weight: ESS -> 1; zero/null weights drop
    sk = spark.createDataFrame(
        [(100.0,), (1.0,), (1.0,), (0.0,), (None,)], "w double")
    r = EffectiveSampleSize().setWeightCol("w").evaluate(sk).first()
    assert r["n"] == 3
    want = (102.0 ** 2) / (100.0 ** 2 + 1 + 1)
    assert abs(r["ess"] - want) < 1e-12


def test_chao1_golden(spark):
    from flink_ml__spark.functions.curation import (
        Chao1VocabularyEstimator,
    )
    # counts: a:3, b:1, c:1, d:2  -> V=4, F1=2, F2=1
    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "c d d")], "doc_id long, text string")
    r = Chao1VocabularyEstimator().evaluate(df).first()
    assert r["n_tokens"] == 7 and r["n_types"] == 4
    assert r["f1"] == 2 and r["f2"] == 1
    assert abs(r["chao1"] - (4 + 4 / 2)) < 1e-12
    assert abs(r["coverage"] - (1 - 2 / 7)) < 1e-12
    # F2 = 0 -> bias-corrected form
    df2 = spark.createDataFrame([(0, "x y z z z")],
                                "doc_id long, text string")
    r = Chao1VocabularyEstimator().evaluate(df2).first()
    assert r["f2"] == 0
    assert abs(r["chao1"] - (3 + 2 * 1 / 2)) < 1e-12


def test_mixture_diversity_golden(spark):
    import math
    from flink_ml__spark.functions.curation import (
        MixtureDiversityProfiler,
    )
    # 4 equal groups: entropy ln4, both effective counts exactly 4
    eq = spark.createDataFrame(
        [(s,) for s in "aabbccdd"], "source string")
    r = (MixtureDiversityProfiler().setGroupCol("source")
         .evaluate(eq).first())
    assert r["n_rows"] == 8 and r["n_groups"] == 4
    assert abs(r["entropy"] - math.log(4)) < 1e-12
    assert abs(r["eff_shannon"] - 4.0) < 1e-9
    assert abs(r["eff_simpson"] - 4.0) < 1e-12
    assert abs(r["top_share"] - 0.25) < 1e-12
    # dominated mixture: effective counts collapse toward 1
    sk = spark.createDataFrame(
        [("a",)] * 98 + [("b",), ("c",)], "source string")
    r = (MixtureDiversityProfiler().setGroupCol("source")
         .evaluate(sk).first())
    assert r["n_groups"] == 3
    assert r["eff_simpson"] < 1.1
    assert abs(r["top_share"] - 0.98) < 1e-12


# ---------------------------------------------------------------------------
# PaddingWasteProfiler
# ---------------------------------------------------------------------------

def test_padding_waste_hand_checked(spark):
    """k=2 over lengths 1..8: boundary = median 4.5, bucket 1 holds
    1-4 (max 4, sum 10 -> waste 6/16), bucket 2 holds 5-8 (max 8,
    sum 26 -> waste 6/32)."""
    import pytest as _pt

    from flink_ml__spark.functions.curation import PaddingWasteProfiler

    df = spark.createDataFrame([(i,) for i in range(1, 9)],
                               "n_tokens int")
    out = {r["bucket"]: r for r in
           (PaddingWasteProfiler().setNumBuckets(2).transform(df)
            .collect())}
    assert set(out) == {1, 2}
    b1, b2 = out[1], out[2]
    assert (b1["n_docs"], b1["min_len"], b1["max_len"],
            b1["sum_tokens"]) == (4, 1, 4, 10)
    assert abs(b1["padding_frac"] - 6 / 16) < 1e-9
    assert (b2["n_docs"], b2["min_len"], b2["max_len"],
            b2["sum_tokens"]) == (4, 5, 8, 26)
    assert abs(b2["padding_frac"] - 6 / 32) < 1e-9
    with _pt.raises(ValueError, match="numBuckets"):
        PaddingWasteProfiler().setNumBuckets(0)
    with _pt.raises(ValueError, match="no non-null"):
        PaddingWasteProfiler().transform(df.filter("n_tokens < 0"))


def test_padding_waste_single_bucket_and_empty_docs(spark):
    """k=1 is the unsorted baseline (one band, waste vs global max);
    an all-zero band reports 0.0 waste, not a division error."""
    from flink_ml__spark.functions.curation import PaddingWasteProfiler

    df = spark.createDataFrame([(0,), (0,), (10,), (30,)],
                               "n_tokens int")
    rows = (PaddingWasteProfiler().setNumBuckets(1).transform(df)
            .collect())
    assert len(rows) == 1
    r = rows[0]
    assert (r["bucket"], r["n_docs"], r["max_len"],
            r["sum_tokens"]) == (1, 4, 30, 40)
    assert abs(r["padding_frac"] - (120 - 40) / 120) < 1e-9
    zeros = spark.createDataFrame([(0,), (0,)], "n_tokens int")
    z = (PaddingWasteProfiler().setNumBuckets(1).transform(zeros)
         .collect())
    assert z[0]["padding_frac"] == 0.0


def test_padding_waste_approx_edges_relative_error(spark):
    """relativeError > 0 fits the approx_percentile sketch (accuracy =
    ceil(1/relativeError) — the HasRelativeError contract); at a
    tight error the approx profile matches the exact one on small
    data, 0.0 is the exact default, and out-of-range values are
    rejected."""
    import pytest as _pt

    from flink_ml__spark.functions.curation import PaddingWasteProfiler

    df = spark.createDataFrame([(i % 50 + 1,) for i in range(400)],
                               "n_tokens int")
    exact = sorted(
        (r["bucket"], r["n_docs"], r["sum_tokens"]) for r in
        PaddingWasteProfiler().setNumBuckets(4).transform(df).collect())
    approx = sorted(
        (r["bucket"], r["n_docs"], r["sum_tokens"]) for r in
        (PaddingWasteProfiler().setNumBuckets(4)
         .setRelativeError(1e-5).transform(df).collect()))
    assert approx == exact
    zero = sorted(
        (r["bucket"], r["n_docs"], r["sum_tokens"]) for r in
        (PaddingWasteProfiler().setNumBuckets(4)
         .setRelativeError(0.0).transform(df).collect()))
    assert zero == exact
    with _pt.raises(ValueError, match="relativeError"):
        PaddingWasteProfiler().setRelativeError(1.5)
    with _pt.raises(ValueError, match="relativeError"):
        PaddingWasteProfiler().setRelativeError(-0.1)


# ---------------------------------------------------------------------------
# BoilerplateFractionScorer
# ---------------------------------------------------------------------------

def test_boilerplate_fraction_hand_checked(spark):
    """2-word shingles, minDf=2: docs 1/2 share 'a b' (common), doc 3
    shares nothing, NULL text scores 0 shingles with NULL frac."""
    import pytest as _pt

    from flink_ml__spark.functions.curation import BoilerplateFractionScorer

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "q r s t"), (4, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           (BoilerplateFractionScorer().setShingleSize(2).setMinDf(2)
            .transform(df).collect())}
    assert (out[1]["n_shingles"], out[1]["n_common"]) == (2, 1)
    assert abs(out[1]["boilerplate_frac"] - 0.5) < 1e-9
    assert (out[2]["n_shingles"], out[2]["n_common"]) == (2, 1)
    assert (out[3]["n_shingles"], out[3]["n_common"]) == (3, 0)
    assert out[3]["boilerplate_frac"] == 0.0
    assert (out[4]["n_shingles"], out[4]["n_common"]) == (0, 0)
    assert out[4]["boilerplate_frac"] is None
    with _pt.raises(ValueError, match="minDf"):
        BoilerplateFractionScorer().setMinDf(1)
    with _pt.raises(ValueError, match="shingleSize"):
        BoilerplateFractionScorer().setShingleSize(0)


def test_boilerplate_fraction_short_docs_and_within_doc_repeats(spark):
    """Docs shorter than the shingle size collapse to one joined
    shingle (so identical short docs are fully common), and repeats
    WITHIN one doc never make a shingle common — the signal is
    inter-document by construction."""
    from flink_ml__spark.functions.curation import BoilerplateFractionScorer

    df = spark.createDataFrame(
        [(1, "hello"), (2, "hello"), (3, "z y z y z y")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           (BoilerplateFractionScorer().setShingleSize(2).setMinDf(2)
            .transform(df).collect())}
    assert abs(out[1]["boilerplate_frac"] - 1.0) < 1e-9
    assert abs(out[2]["boilerplate_frac"] - 1.0) < 1e-9
    # doc 3 repeats 'z y'/'y z' internally but shares nothing
    assert out[3]["n_common"] == 0
    assert out[3]["boilerplate_frac"] == 0.0


def test_boilerplate_transform_against_reference_corpus(spark):
    """Incremental path: the common set comes from the REFERENCE
    corpus only — a shingle repeated across query docs but absent
    from the reference is NOT common; transform == transform_against
    with the statistic fit on the same frame."""
    from flink_ml__spark.functions.curation import BoilerplateFractionScorer

    sc = BoilerplateFractionScorer().setShingleSize(2).setMinDf(2)
    ref = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x")], "doc_id long, text string")
    qry = spark.createDataFrame(
        [(10, "a b z"), (11, "p q r"), (12, "p q s")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           sc.transform_against(qry, sc.common_table(ref)).collect()}
    # 'a b' is common in the reference -> doc 10 scores 1/2
    assert (out[10]["n_shingles"], out[10]["n_common"]) == (2, 1)
    # 'p q' repeats across QUERY docs but not in the reference
    assert out[11]["n_common"] == 0 and out[12]["n_common"] == 0
    # self-consistency: transform == transform_against(own common)
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "q r s t")],
        "doc_id long, text string")
    a = sorted((r["doc_id"], r["n_shingles"], r["n_common"])
               for r in sc.transform(df).collect())
    b = sorted((r["doc_id"], r["n_shingles"], r["n_common"])
               for r in sc.transform_against(
                   df, sc.common_table(df)).collect())
    assert a == b


# ---------------------------------------------------------------------------
# GreedyCoverageSelector
# ---------------------------------------------------------------------------

def test_coverage_selector_hand_checked(spark):
    """1-word shingles, hand-replayable greedy. Universe: doc1
    {a,b,c,d}, doc2 {c,d,e,f}, doc3 {e,f,x}, doc4 {a,b}. Step 1 ties
    docs 1/2 at 4 -> smaller id (doc 1, gain 4). Step 2: doc2 has
    {e,f} left (2), doc3 {e,f,x} (3) -> doc 3, gain 3. Step 3: docs
    2 and 4 are fully covered -> early stop despite numDocs=4."""
    import pytest as _pt

    from flink_ml__spark.functions.curation import GreedyCoverageSelector

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f"), (3, "e f x"), (4, "a b")],
        "doc_id long, text string")
    out = (GreedyCoverageSelector().setShingleSize(1).setNumDocs(4)
           .select_docs(df).orderBy("step").collect())
    assert [(r["step"], r["doc_id"], r["gain"]) for r in out] == [
        (1, 1, 4), (2, 3, 3)]
    with _pt.raises(ValueError, match="numDocs"):
        GreedyCoverageSelector().setNumDocs(0)
    with _pt.raises(ValueError, match="shingleSize"):
        GreedyCoverageSelector().setShingleSize(0)


def test_coverage_selector_null_text_and_empty(spark):
    """NULL-text docs have no shingles and are never selected; an
    all-NULL corpus selects nothing (empty frame, stable schema)."""
    from flink_ml__spark.functions.curation import GreedyCoverageSelector

    df = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, None)],
        "doc_id long, text string")
    out = (GreedyCoverageSelector().setShingleSize(1).setNumDocs(3)
           .select_docs(df).collect())
    assert [(r["step"], r["doc_id"]) for r in out] == [(1, 2)]
    empty = (GreedyCoverageSelector().setNumDocs(2).select_docs(
        df.filter("text IS NULL")))
    assert empty.columns == ["step", "doc_id", "gain"]
    assert empty.count() == 0


def test_coverage_selector_oracle_parity(spark):
    """The unrolled DuckDB oracle replays the greedy trajectory —
    including the structural early stop — on data with ties and a
    fully-covered doc."""
    import duckdb

    from flink_ml__spark.functions.curation import GreedyCoverageSelector
    from flink_ml__spark.plans.queries import _coverage_oracle_sql

    rows = [(1, "alpha beta gamma delta epsilon"),
            (2, "gamma delta epsilon zeta eta"),
            (3, "zeta eta theta"),
            (4, "alpha beta"),
            (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ours = [(r["step"], r["doc_id"], r["gain"]) for r in
            (GreedyCoverageSelector().setShingleSize(1).setNumDocs(5)
             .select_docs(df).orderBy("step").collect())]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    theirs = sorted(con.execute(_coverage_oracle_sql(5, 1)).fetchall())
    assert [(s, d, int(g)) for s, d, g in theirs] == ours
    assert len(ours) < 5  # early stop exercised


# ---------------------------------------------------------------------------
# UniMaxAllocator
# ---------------------------------------------------------------------------

def test_unimax_hand_checked_water_filling(spark):
    """3 domains (100/200/700 tokens), 2-epoch cap, budget 1000:
    caps are 200/400/1400; water level τ=(1000−200)/2=400 found at
    rank 2, so A caps at 200 and B/C sit at 400 — Σalloc = budget."""
    import pytest as _pt

    from flink_ml__spark.functions.curation import UniMaxAllocator

    rows = ([("A", 100)] + [("B", 200)] + [("C", 700)])
    df = spark.createDataFrame(rows, "source string, n_tokens int")
    out = {r["source"]: r for r in
           (UniMaxAllocator().setMaxEpochs(2.0).setBudget(1000)
            .transform(df).collect())}
    assert (out["A"]["alloc"], out["B"]["alloc"],
            out["C"]["alloc"]) == (200.0, 400.0, 400.0)
    assert out["A"]["epochs"] == 2.0
    assert abs(out["C"]["epochs"] - 0.571429) < 1e-6
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-5
    with _pt.raises(ValueError, match="maxEpochs"):
        UniMaxAllocator().setMaxEpochs(0.5)
    with _pt.raises(ValueError, match="budget"):
        UniMaxAllocator().setBudget(-1)


def test_unimax_all_capped_leaves_budget_unallocated(spark):
    """Budget above total capacity: every domain stops at its epoch
    cap and weights sum < 1 — UniMax never over-epochs to burn
    budget. budget=0 defaults to the corpus total (one epoch each
    when caps allow)."""
    from flink_ml__spark.functions.curation import UniMaxAllocator

    df = spark.createDataFrame(
        [("A", 100), ("B", 200), ("C", 700)],
        "source string, n_tokens int")
    out = {r["source"]: r for r in
           (UniMaxAllocator().setMaxEpochs(2.0).setBudget(5000)
            .transform(df).collect())}
    assert (out["A"]["alloc"], out["B"]["alloc"],
            out["C"]["alloc"]) == (200.0, 400.0, 1400.0)
    assert sum(r["weight"] for r in out.values()) < 0.5
    # budget=0 -> corpus total (1000): τ=(1000-0)/3=333.33 at rank 1
    # (333.33 > cap_A=200? no — τ_1 vs cap 200 fails; rank 2:
    # (1000-200)/2=400 <= 400 ✓) — same split as the 1000 budget
    out0 = {r["source"]: r["alloc"] for r in
            (UniMaxAllocator().setMaxEpochs(2.0)
             .transform(df).collect())}
    assert out0 == {"A": 200.0, "B": 400.0, "C": 400.0}


def test_coverage_novelty_against(spark):
    """Novelty vs a corpus: shared shingles don't count, unseen ones
    do; NULL text scores 0 shingles with NULL frac; a doc identical
    to corpus content scores 0 novelty."""
    from flink_ml__spark.functions.curation import GreedyCoverageSelector

    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "c d e")], "doc_id long, text string")
    crawl = spark.createDataFrame(
        [(10, "a b z"),        # 'a','b' known, 'z' novel -> 1/3
         (11, "a b c"),        # fully covered -> 0
         (12, "p q r"),        # fully novel -> 1
         (13, None)],          # no shingles
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           (GreedyCoverageSelector().setShingleSize(1)
            .novelty_against(crawl, corpus).collect())}
    assert (out[10]["n_shingles"], out[10]["n_novel"]) == (3, 1)
    assert abs(out[10]["novelty_frac"] - 1 / 3) < 1e-9
    assert (out[11]["n_novel"], out[11]["novelty_frac"]) == (0, 0.0)
    assert (out[12]["n_novel"], out[12]["novelty_frac"]) == (3, 1.0)
    assert (out[13]["n_shingles"], out[13]["n_novel"]) == (0, 0)
    assert out[13]["novelty_frac"] is None


def test_duplicate_clusterer_matches_union_find(spark):
    """Connected components must equal a pure-Python union-find
    min-label reference — on a long path (multi-round pointer jumping),
    a star, random clusters and isolated nodes."""
    import random

    from flink_ml__spark.functions import curation

    rng = random.Random(13)
    edges = ([(i, i + 1) for i in range(40)]            # path: diameter 40
             + [(1000, 1000 + i) for i in range(1, 8)]  # star
             + [(rng.randrange(2000, 2060), rng.randrange(2000, 2060))
                for _ in range(80)])                    # random blob
    node_ids = list(range(0, 2060, 7))
    pairs = spark.createDataFrame(edges, ["id_keep", "id_dup"])
    nodes = spark.createDataFrame([(i,) for i in node_ids], ["doc_id"])

    parent = {i: i for e in edges for i in e}
    parent.update({i: i for i in node_ids})

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root is the min id
    want = {i: find(i) for i in parent}

    out = (curation.DuplicateClusterer().setMaxIter(30)
           .cluster(pairs, nodes=nodes))
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == want
    # sanity: the path really is one component labeled by its min
    assert all(got[i] == 0 for i in range(41))
