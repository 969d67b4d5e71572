"""Streaming wrapper tests: the streaming output must equal the batch
operators' output on the same data."""

import math
import shutil
import tempfile

import pytest

from flink_ml__spark.operators.ahp import OnlineAHP
from flink_ml__spark.operators.online_topsis import OnlineTopsis
from flink_ml__spark.streaming import (
    stream_online_ahp,
    stream_online_topsis_apply,
    stream_online_topsis_apply_streams,
)
from tests.test_ahp import COLS, MATRIX, ONLINE_DATA, ONLINE_GOLDEN, TYPES
from tests.test_ahp import _online_df


@pytest.fixture()
def stream_source(spark):
    """Write the online AHP fixture as parquet and re-read as a stream."""
    d = tempfile.mkdtemp(prefix="stream_src_")
    df = _online_df(spark)
    # one file -> one micro-batch: the test pins window-firing semantics,
    # not the late-data policy (a 0s watermark drops cross-batch stragglers)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    yield spark.readStream.schema(df.schema).parquet(d), df
    shutil.rmtree(d, ignore_errors=True)


def _op():
    return (OnlineAHP().setInputCols(COLS).setJudgmentMatrix(MATRIX)
            .setIndicatorType(TYPES).setWindows("3 days")
            .setTimeCol("rowtime").setOutputCol("output"))


def test_map_only_operators_stream_compatible(spark):
    """Every map-only operator (pure projection plans) must accept a
    streaming DataFrame unchanged — the property that makes the text /
    curation / multimodal stages reusable as streaming stages without
    wrappers."""
    import tempfile as _tf

    from flink_ml__spark.functions.curation import (
        BigramLM,
        CompressionScorer,
        DeterministicSplitter,
        LineFilter,
        UnigramLM,
    )
    from flink_ml__spark.functions.text import (
        LanguageIdentifier,
        MarkupStripper,
        PiiRedactor,
        QualityScorer,
        ScriptProfiler,
        TextNormalizer,
        TokenCounter,
    )
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    d = _tf.mkdtemp(prefix="stream_mapops_")
    try:
        docs.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        # model fit on the static corpus, applied to the stream — the
        # CCNet stream-scoring shape (broadcast vocab, map-only apply)
        from flink_ml__spark.functions.tokenizer import BpeTokenizer

        lm = UnigramLM().setMaxVocab(500).fit(docs)
        blm = BigramLM().setMaxVocab(500).setMaxBigrams(2000).fit(docs)
        bpe = BpeTokenizer().setNumMerges(50).fit(docs)
        out = stream
        for op in [MarkupStripper(), ScriptProfiler(), TextNormalizer(),
                   PiiRedactor(), LineFilter(), CompressionScorer(),
                   TokenCounter(), LanguageIdentifier(), QualityScorer(),
                   DeterministicSplitter(), bpe, blm, lm]:
            out = op.transform(out)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("mapops")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT count(*) AS n, count(text_redacted) AS nr, "
            "count(split) AS ns FROM mapops").first()
        assert rows["n"] == docs.count() == rows["nr"] == rows["ns"]
        # stream scores equal the batch scores exactly
        got = {r["doc_id"]: (r["mean_logprob"], r["oov_frac"])
               for r in spark.sql(
                   "SELECT doc_id, mean_logprob, oov_frac FROM mapops")
               .collect()}
        expect = {r["doc_id"]: (r["mean_logprob"], r["oov_frac"])
                  for r in lm.transform(docs)
                  .select("doc_id", "mean_logprob", "oov_frac").collect()}
        assert got == expect
        # bigram-LM stream scores equal batch too (the unigram stage
        # runs last so it owns mean_logprob; bigram_frac survives)
        got_bf = {r["doc_id"]: r["bigram_frac"] for r in spark.sql(
            "SELECT doc_id, bigram_frac FROM mapops").collect()}
        expect_bf = {r["doc_id"]: r["bigram_frac"]
                     for r in blm.transform(docs)
                     .select("doc_id", "bigram_frac").collect()}
        assert got_bf == expect_bf
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_online_ahp_accumulates_across_micro_batches(spark):
    """One row per micro-batch (9 batches): each window's rows must
    accumulate in the streaming aggregate's state across batches and
    still score identically to the batch operator when the watermark
    closes them."""
    import glob
    import os

    df = _online_df(spark)
    src = tempfile.mkdtemp(prefix="stream_src_mb_")
    stage = tempfile.mkdtemp(prefix="stream_stage_mb_")
    try:
        rows = df.orderBy("rowtime").collect()
        for i, r in enumerate(rows):
            part = os.path.join(stage, f"p{i}")
            (df.filter(df["id"] == r["id"]).coalesce(1)
             .write.mode("overwrite").parquet(part))
            (pq_file,) = glob.glob(os.path.join(part, "part-*.parquet"))
            dst = os.path.join(src, f"{i:03d}.parquet")
            shutil.copyfile(pq_file, dst)
            # FileStreamSource picks oldest-mtime first: make the
            # event-time order the arrival order
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        stream_df = (spark.readStream.schema(df.schema)
                     .option("maxFilesPerTrigger", 1).parquet(src))
        out = stream_online_ahp(stream_df, _op())
        q = (out.writeStream.format("memory").queryName("ahp_stream_mb")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)
        n_batches = len(q.recentProgress)
        assert n_batches >= 9, n_batches   # truly one file per trigger
        got = {(r["id"], r["Marketcap"]): r["output"]
               for r in spark.sql("SELECT * FROM ahp_stream_mb").collect()}
        assert len(got) == 6               # first two windows fire
        for key, score in got.items():
            assert math.isclose(score, ONLINE_GOLDEN[key], abs_tol=1e-4), key
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)


def test_stream_online_ahp_matches_batch(spark, stream_source):
    stream_df, batch_df = stream_source
    out = stream_online_ahp(stream_df, _op())
    q = (out.writeStream.format("memory").queryName("ahp_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ahp_stream").collect()
    got = {(r["id"], r["Marketcap"]): r["output"] for r in rows}
    # windows whose end <= final watermark (max event time) must have fired:
    # the 9-row fixture spans 3 three-day windows (3 rows each); the last
    # window's end exceeds the final watermark, so the first 2 fire (6 rows).
    assert len(rows) == 6
    for key, score in got.items():
        assert math.isclose(score, ONLINE_GOLDEN[key], abs_tol=1e-4), key


def test_stream_online_ahp_plan_is_declarative(spark, stream_source):
    """The stream is one stateful window aggregate plus a projection:
    no Python stateful operator and no Python evaluation per trigger."""
    stream_df, _ = stream_source
    out = stream_online_ahp(stream_df, _op())
    q = (out.writeStream.format("memory").queryName("ahp_stream_plan")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        plan = q._jsq.explainInternal(True)
    finally:
        q.stop()
    assert "StateStoreSave" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    for python_node in ("ArrowEvalPython", "BatchEvalPython",
                        "FlatMapGroupsInPandas", "MapInPandas"):
        assert python_node not in plan, python_node


def test_stream_online_ahp_matches_batch_non_utc_session(spark):
    """Under a non-UTC session time zone and a compound interval, the
    stream fires and scores the same windows as the batch operator: all
    windows the final watermark closes, every row as batch scores it.
    The last event sits exactly on a window end, so the window ending at
    the final watermark must fire too (``end <= watermark``)."""
    import datetime

    from pyspark.sql import functions as F

    tz = spark.conf.get("spark.sql.session.timeZone")
    d = tempfile.mkdtemp(prefix="stream_src_tz_")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        base = datetime.datetime(2024, 1, 1, 23, 10,
                                 tzinfo=datetime.timezone.utc)
        rows = [(i, base + datetime.timedelta(minutes=17 * i),
                 float((i * 7) % 11 + 1), float((i * 5) % 13 + 2))
                for i in range(30)]
        ival = 90 * 60 + 30   # windows are aligned to the epoch
        end = (int(rows[-1][1].timestamp()) // ival + 1) * ival
        rows.append((30, datetime.datetime.fromtimestamp(
            end, datetime.timezone.utc), 3.0, 4.0))
        df = spark.createDataFrame(
            rows, "id long, rowtime timestamp, a double, b double")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        op = (OnlineAHP().setInputCols(["a", "b"])
              .setJudgmentMatrix([[1.0, 2.0], [0.5, 1.0]])
              .setIndicatorType([1, 0]).setWindows("90 minutes 30 seconds")
              .setTimeCol("rowtime").setOutputCol("output"))
        stream_df = spark.readStream.schema(df.schema).parquet(d)
        q = (stream_online_ahp(stream_df, op).writeStream.format("memory")
             .queryName("ahp_stream_tz").outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["id"]: (r["rowtime"], r["output"])
               for r in spark.sql("SELECT * FROM ahp_stream_tz").collect()}
        last = df.agg(F.max("rowtime")).first()[0]
        fired = (op.transform(df)
                 .withColumn("w", F.window("rowtime", "90 minutes 30 seconds"))
                 .filter(F.col("w.end") <= F.lit(last)).collect())
        assert len(fired) > 0 and len(fired) < len(rows)
        assert got.keys() == {r["id"] for r in fired}
        for r in fired:
            ts, score = got[r["id"]]
            assert ts == r["rowtime"]
            if r["output"] is None:   # a one-row window: min == max
                assert score is None, r["id"]
            else:
                assert math.isclose(score, r["output"], rel_tol=1e-12), r["id"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
        shutil.rmtree(d, ignore_errors=True)

def test_stream_online_topsis_apply_streams(spark):
    """Stream-stream: rows AND models arrive as streams; every row must
    still get the score of the window model covering it (the reference's
    buffer-until-model contract)."""
    from tests.test_online_topsis import EXPECTED_SCORES, _df, make_estimator

    batch_df = _df(spark)
    model = make_estimator().fit(batch_df).setPredictionCol("prediction")

    d_rows = tempfile.mkdtemp(prefix="ss_rows_")
    d_models = tempfile.mkdtemp(prefix="ss_models_")
    try:
        batch_df.coalesce(1).write.mode("overwrite").parquet(d_rows)
        md = model.getModelData().select("timestamp", "score", "minTimestamp")
        md.coalesce(1).write.mode("overwrite").parquet(d_models)
        rows = spark.readStream.schema(batch_df.schema).parquet(d_rows)
        models = spark.readStream.schema(md.schema).parquet(d_models)
        out = stream_online_topsis_apply_streams(rows, models, model)
        q = (out.writeStream.format("memory").queryName("ss_ot")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM ss_ot").collect()
        assert len(got) == 9
        for r in got:
            assert math.isclose(r["prediction"], EXPECTED_SCORES[r["id"]],
                                abs_tol=1e-4)
    finally:
        shutil.rmtree(d_rows, ignore_errors=True)
        shutil.rmtree(d_models, ignore_errors=True)


def test_stream_online_topsis_apply(spark):
    import datetime

    from tests.test_online_topsis import EXPECTED_SCORES, INPUT, _df, make_estimator

    batch_df = _df(spark)
    model = make_estimator().fit(batch_df).setPredictionCol("prediction")

    d = tempfile.mkdtemp(prefix="stream_ot_")
    try:
        batch_df.write.mode("overwrite").parquet(d)
        stream_df = spark.readStream.schema(batch_df.schema).parquet(d)
        out = stream_online_topsis_apply(stream_df, model)
        q = (out.writeStream.format("memory").queryName("ot_stream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM ot_stream").collect()
        assert len(rows) == 9
        for r in rows:
            assert math.isclose(r["prediction"], EXPECTED_SCORES[r["id"]],
                                abs_tol=1e-4)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_exact_dedup(spark):
    """Streaming dedup keeps the first doc per fingerprint with state
    scoped to the watermark."""
    import datetime

    from flink_ml__spark.streaming import stream_exact_dedup

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, "hello world", base),
        (2, "Hello   WORLD", base + datetime.timedelta(minutes=1)),  # dup
        (3, "something else", base + datetime.timedelta(minutes=2)),
        (4, "hello world", base + datetime.timedelta(minutes=3)),    # dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    d = tempfile.mkdtemp(prefix="sd_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_exact_dedup(stream, "ts", watermark_delay="10 minutes")
        q = (out.writeStream.format("memory").queryName("sd")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM sd").collect())
        assert len(kept) == 2
        assert 3 in kept
        assert kept[0] in (1, 2, 4)  # exactly one of the dup group
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_map_only_operators_work_on_streams(spark):
    """Map-only operators (text analysis, metadata) run unchanged on
    streaming DataFrames — the unified batch/stream API Catalyst gives a
    declarative plan for free."""
    from flink_ml__spark.functions.text import QualityScorer, TokenCounter
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    d = tempfile.mkdtemp(prefix="mo_")
    try:
        docs.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        out = TokenCounter().transform(QualityScorer().transform(stream))
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("mo")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["doc_id"]: (r["quality_score"], r["n_tokens"])
               for r in spark.sql("SELECT * FROM mo").collect()}
        expect = {r["doc_id"]: (r["quality_score"], r["n_tokens"])
                  for r in TokenCounter().transform(
                      QualityScorer().transform(docs)).collect()}
        assert got == expect
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_online_topsis_fit_matches_batch(spark):
    """Fit-on-stream completes the streaming story: the per-window mean
    aggregation runs incrementally (append mode, watermark-fired), and
    finalize() over the fired mean rows reproduces the batch model
    exactly (``OnlineTopsis.java:70-73`` windowAllAndProcess)."""
    import datetime

    from flink_ml__spark.streaming import stream_online_topsis_fit
    from tests.test_online_topsis import EXPECTED_MODEL, _df, make_estimator

    batch_df = _df(spark)
    # sentinel event past the last window's end: pushes the final
    # watermark so every real window fires (its own window stays open)
    sentinel = spark.createDataFrame(
        [(0, [0.0] * 6, datetime.datetime(2018, 2, 12))],
        batch_df.schema)
    d = tempfile.mkdtemp(prefix="otf_")
    try:
        batch_df.unionAll(sentinel).coalesce(1).write.mode(
            "overwrite").parquet(d)
        stream = spark.readStream.schema(batch_df.schema).parquet(d)
        means, finalize = stream_online_topsis_fit(stream, make_estimator())
        q = (means.writeStream.format("memory").queryName("otf")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        fired = spark.sql("SELECT * FROM otf")
        assert fired.count() == 3          # all three 3-day windows fired
        model = finalize(fired)
        got = {(r["timestamp"], r["minTimestamp"]): r["score"]
               for r in model.getModelData().collect()}
        assert set(got) == set(EXPECTED_MODEL)
        for k, v in EXPECTED_MODEL.items():
            assert math.isclose(got[k], v, abs_tol=1e-4)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_substring_decontamination(spark):
    """stream_dedup_against_corpus with SubstringDeduplicator scrubs
    benchmark spans out of each micro-batch, matching the batch
    transform_against output exactly."""
    import tempfile as _tf

    from flink_ml__spark.functions.dedup import SubstringDeduplicator
    from flink_ml__spark.sources import load_table
    from flink_ml__spark.streaming import stream_dedup_against_corpus

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    bench = docs.filter("doc_id % 97 = 0")
    op = SubstringDeduplicator().setSpanTokens(6)
    d = _tf.mkdtemp(prefix="stream_sub_")
    got = {}
    try:
        docs.repartition(3).write.mode("overwrite").parquet(d)
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))

        def emit(clean_df, batch_id):
            for r in clean_df.select("doc_id", "n_removed",
                                     "text_deduped").collect():
                got[r["doc_id"]] = (r["n_removed"], r["text_deduped"])

        q = (stream.writeStream
             .foreachBatch(stream_dedup_against_corpus(bench, op, emit))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        expect = {r["doc_id"]: (r["n_removed"], r["text_deduped"])
                  for r in op.transform_against(docs, bench)
                  .select("doc_id", "n_removed", "text_deduped").collect()}
        assert got == expect
        assert any(n > 0 for n, _ in got.values())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_corpus_monitor_matches_batch(spark):
    """Windowed ingest monitoring on a stream equals the same windowed
    aggregation run in batch (unified API; watermark closes windows)."""
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.streaming import stream_corpus_monitor

    rows = []
    for i in range(40):
        ts = datetime(2024, 1, 1, 0, i // 10, 7, tzinfo=timezone.utc)
        rows.append((i, ts, "en" if i % 2 == 0 else "fr",
                     f"some sample text number {i} with several words."))
    df = spark.createDataFrame(
        rows, "doc_id long, ts timestamp, lang string, text string")
    batch = {(r["window_start"], r["lang"]):
             (r["n_docs"], round(r["mean_quality"], 9),
              round(r["mean_tokens"], 9))
             for r in stream_corpus_monitor(df, "ts").collect()}
    assert len(batch) == 8  # 4 minutes × 2 languages

    d = _tf.mkdtemp(prefix="stream_mon_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_corpus_monitor(stream, "ts")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("mon")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["window_start"], r["lang"]):
               (r["n_docs"], round(r["mean_quality"], 9),
                round(r["mean_tokens"], 9))
               for r in spark.sql("SELECT * FROM mon").collect()}
        # append mode emits only windows closed by the final watermark
        # (max event time): the last window stays open
        assert got
        for k, v in got.items():
            assert batch[k] == v
        open_windows = set(batch) - set(got)
        assert all(ws == max(b[0] for b in batch)
                   for ws, _ in open_windows)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_bloom_dedup_matches_batch(spark):
    """A corpus-fitted bloom filter is a pure map-only Arrow pass, so
    it applies to a stream unchanged — the continuous-crawl
    ingestion shape (fit once, filter every micro-batch)."""
    import tempfile as _tf

    from flink_ml__spark.functions.dedup import BloomCorpusDeduplicator
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    op = (BloomCorpusDeduplicator().setNumBits(2048).setNumHashes(4)
          .fit(corpus))
    batch_kept = {r["doc_id"] for r in
                  op.transform(new).select("doc_id").collect()}
    d = _tf.mkdtemp(prefix="stream_bloom_")
    try:
        new.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(new.schema).parquet(d)
        out = op.transform(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("bloomkept")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        stream_kept = {r["doc_id"] for r in
                       spark.sql("SELECT doc_id FROM bloomkept").collect()}
        assert stream_kept == batch_kept
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_cardinality_monitor_matches_batch(spark):
    """Windowed approx-distinct monitoring on a stream equals the same
    aggregation in batch (HLL++ is deterministic for a given input
    set), and the estimate is exact-ish at this tiny cardinality."""
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.streaming import stream_cardinality_monitor

    rows = []
    for i in range(60):
        ts = datetime(2024, 1, 1, 0, i // 20, 11, tzinfo=timezone.utc)
        rows.append((i, ts, i % 7, "click" if i % 2 == 0 else "view"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    batch = {(r["window_start"], r["event_type"]):
             (r["n_events"], r["n_distinct"])
             for r in stream_cardinality_monitor(df, "ts").collect()}
    assert len(batch) == 6  # 3 minutes x 2 types
    # 20 events/window split across 2 types over 7 users: the HLL
    # estimate at rsd=0.05 is exact at this cardinality
    for (ws, et), (ne, nd) in batch.items():
        assert ne == 10
        assert nd <= 7

    d = _tf.mkdtemp(prefix="stream_card_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_cardinality_monitor(stream, "ts")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("card")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["window_start"], r["event_type"]):
               (r["n_events"], r["n_distinct"])
               for r in spark.sql("SELECT * FROM card").collect()}
        assert got
        for k, v in got.items():
            assert batch[k] == v
        open_windows = set(batch) - set(got)
        assert all(ws == max(b[0] for b in batch)
                   for ws, _ in open_windows)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_expectation_monitor_matches_batch(spark):
    """Windowed expectation monitoring on a stream equals the batch
    run of the same validator; unique rules are rejected up front."""
    import tempfile as _tf
    from datetime import datetime, timezone

    import pytest

    from flink_ml__spark.functions.linkage import ExpectationValidator
    from flink_ml__spark.streaming import stream_expectation_monitor

    rows = []
    for i in range(40):
        ts = datetime(2024, 1, 1, 0, i // 10, 7, tzinfo=timezone.utc)
        rows.append((i, ts,
                     None if i % 7 == 3 else i % 5,     # null users
                     -1.0 if i % 11 == 2 else float(i)))  # negatives
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")
    dim = spark.createDataFrame([(0,), (1,), (2,)], "uid long")

    def validator():
        return (ExpectationValidator()
                .expect_not_null("user_present", "user_id")
                .expect_range("value_pos", "value", 0.0, 1e6)
                .expect_referential("user_known", "user_id", dim, "uid"))

    batch = {(r["window_start"], r["rule"]):
             (r["rule_type"], r["n_violations"], r["n_rows"])
             for r in stream_expectation_monitor(
                 df, "ts", validator()).collect()}
    assert len(batch) == 12  # 4 minutes × 3 rules
    # hand-check one window: minute 0 holds i=0..9 (collected
    # timestamps come back naive in the session's UTC)
    m0 = datetime(2024, 1, 1, 0, 0)
    assert batch[(m0, "user_present")] == ("not_null", 1, 10)   # i=3
    assert batch[(m0, "value_pos")] == ("range", 1, 10)         # i=2
    # i=4,9 -> user 4; i=8 -> user 3; all outside dim {0,1,2}
    assert batch[(m0, "user_known")] == ("referential", 3, 10)

    d = _tf.mkdtemp(prefix="stream_exp_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_expectation_monitor(stream, "ts", validator())
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("expmon")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["window_start"], r["rule"]):
               (r["rule_type"], r["n_violations"], r["n_rows"])
               for r in spark.sql("SELECT * FROM expmon").collect()}
        assert got
        for k, v in got.items():
            assert batch[k] == v
        open_windows = {ws for ws, _ in set(batch) - set(got)}
        assert open_windows <= {max(ws for ws, _ in batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # unique rules need unbounded state -> explicit refusal
    bad = ExpectationValidator().expect_unique("u", "event_id")
    with pytest.raises(ValueError, match="unique"):
        stream_expectation_monitor(df, "ts", bad)


def test_stream_fuzzy_link_against_master(spark):
    """Incremental record linkage: a streaming batch links against a
    static master list unchanged (blocking equi-join is stream-static
    compatible), and the stream output equals the batch run."""
    import tempfile as _tf

    from flink_ml__spark.functions.linkage import FuzzyRecordLinker

    master = spark.createDataFrame(
        [(100, "acme corp"), (101, "zeta labs"), (102, "acme inc")],
        "id long, name string")
    batch = spark.createDataFrame(
        [(1, "acme corp."), (2, "zeta lab"), (3, "unrelated co")],
        "id long, name string")
    linker = (FuzzyRecordLinker().setInputCol("name").setIdCol("id")
              .setMaxDistance(2))
    expect = {(r["a_id"], r["b_id"], r["distance"])
              for r in linker.link(batch, master).collect()}
    assert expect == {(1, 100, 1), (2, 101, 1)}

    d = _tf.mkdtemp(prefix="stream_link_")
    try:
        batch.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(batch.schema).parquet(d)
        out = linker.link(stream, master)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("linked")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["a_id"], r["b_id"], r["distance"])
               for r in spark.sql("SELECT * FROM linked").collect()}
        assert got == expect
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_drift_monitor_matches_batch(spark):
    """Windowed PSI drift on a stream equals the batch run of the
    same monitor against the same static reference; the shifted
    window reads 'action' while unshifted windows stay stable."""
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.functions.drift import DriftMonitor
    from flink_ml__spark.streaming import stream_drift_monitor

    ref = spark.createDataFrame(
        [(i, float(i % 20)) for i in range(200)], "id long, v double")
    rows = []
    for i in range(30):
        ts = datetime(2024, 1, 1, 0, i // 10, 7, tzinfo=timezone.utc)
        # (i*7) % 20 spreads each window across the reference range;
        # minute 1 is shifted far outside it
        v = float((i * 7) % 20) + (100.0 if i // 10 == 1 else 0.0)
        rows.append((i, ts, v))
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    mon = DriftMonitor().setInputCols("v").setNumBuckets(4)

    batch = {(r["window_start"], r["column"]):
             (r["n_rows"], round(r["psi"], 9), r["drift_level"])
             for r in stream_drift_monitor(df, "ts", mon, ref)
             .collect()}
    assert len(batch) == 3
    levels = [batch[k][2] for k in sorted(batch)]
    assert levels[1] == "action"         # the shifted minute
    assert levels[0] == levels[2] != "action"

    d = _tf.mkdtemp(prefix="stream_drift_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_drift_monitor(stream, "ts", mon, ref)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("driftmon")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["window_start"], r["column"]):
               (r["n_rows"], round(r["psi"], 9), r["drift_level"])
               for r in spark.sql("SELECT * FROM driftmon").collect()}
        assert got
        for k, v in got.items():
            assert batch[k] == v
        open_windows = {ws for ws, _ in set(batch) - set(got)}
        assert open_windows <= {max(ws for ws, _ in batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_correlation_monitor_matches_batch(spark):
    """Windowed Pearson correlation on a stream equals the batch run;
    a perfectly-linear window reads 1, an inverted window -1, and a
    constant-side window NULL."""
    import shutil
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.streaming import stream_correlation_monitor

    rows = []
    for i in range(30):
        ts = datetime(2024, 1, 1, 0, i // 10, 11, tzinfo=timezone.utc)
        m = i // 10
        x = float(i % 10)
        # minute 0: y = 2x+1 (corr 1); minute 1: y = -x (corr -1);
        # minute 2: y constant (corr NULL)
        y = 2 * x + 1 if m == 0 else (-x if m == 1 else 7.0)
        rows.append((i, ts, x, y, None if i == 25 else x))
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, x double, y double, z double")
    pairs = [("x", "y"), ("z", "y")]

    batch = {(r["window_start"], r["pair"]):
             (r["n"], None if r["corr"] is None else round(r["corr"], 9))
             for r in stream_correlation_monitor(df, "ts", pairs)
             .collect()}
    assert len(batch) == 6
    ws = sorted({k[0] for k in batch})
    assert batch[(ws[0], "x:y")] == (10, 1.0)
    assert batch[(ws[1], "x:y")] == (10, -1.0)
    assert batch[(ws[2], "x:y")] == (10, None)
    assert batch[(ws[2], "z:y")][0] == 9      # null row excluded

    d = _tf.mkdtemp(prefix="stream_corr_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_correlation_monitor(stream, "ts", pairs)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("corrmon")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["window_start"], r["pair"]):
               (r["n"], None if r["corr"] is None
                else round(r["corr"], 9))
               for r in spark.sql("SELECT * FROM corrmon").collect()}
        assert got
        for k, v in got.items():
            assert batch[k] == v
        open_windows = {w for w, _ in set(batch) - set(got)}
        assert open_windows <= {max(w for w, _ in batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_sessionize_matches_batch(spark):
    """Append-mode session rows must equal the batch Sessionizer's
    output on the same data: a session emits exactly once, when the
    watermark passes the point where it can no longer extend. A
    sentinel row far in the future pushes the final watermark past
    every real session (only the sentinel's own session stays open)."""
    import datetime
    import tempfile as _tf

    from flink_ml__spark.functions.sessions import Sessionizer
    from flink_ml__spark.streaming import stream_sessionize

    base = datetime.datetime(2024, 3, 1, 10, 0, 0)

    def at(m):
        return base + datetime.timedelta(minutes=m)

    rows = [
        ("u1", at(0), 1.0), ("u1", at(5), 2.0),    # one session, n=2
        ("u1", at(60), 4.0),                       # second session
        ("u2", at(30), 7.0),                       # alone (gap 15 > 10)
        ("u2", at(45), 1.0),
        ("uZ", at(600), 0.0),                      # watermark sentinel
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, "
                               "value double")
    op = Sessionizer().setGap("10 minutes")
    batch = {tuple(r) for r in
             op.transform(df.filter(df.user_id != "uZ")).collect()}

    d = _tf.mkdtemp(prefix="stream_sess_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_sessionize(stream, op)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("sess_stream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.sql(
            "SELECT * FROM sess_stream").collect()}
        assert got == batch
        assert len(got) == 4
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_categorical_drift_monitor_matches_batch(spark):
    """Windowed categorical PSI on a stream equals the same monitor's
    batch-frame run; the window flooded with a brand-new category
    (folds to __other__) reads as drift while stable windows don't."""
    from datetime import datetime, timezone

    from flink_ml__spark.functions.drift import CategoricalDriftMonitor
    from flink_ml__spark.streaming import (
        stream_categorical_drift_monitor,
    )

    ref = spark.createDataFrame(
        [(i, ["a", "a", "b", "c", None][i % 5]) for i in range(100)],
        "id long, cat string")
    rows = []
    for i in range(30):
        ts = datetime(2024, 1, 1, 0, i // 10, 7, tzinfo=timezone.utc)
        # minute 1 is all never-seen categories
        cat = (f"zz{i}" if i // 10 == 1
               else ["a", "a", "b", "c", None][i % 5])
        rows.append((i, ts, cat))
    df = spark.createDataFrame(rows, "id long, ts timestamp, cat string")
    mon = (CategoricalDriftMonitor().setInputCols("cat")
           .setMaxCategories(10))

    batch = {(r["window_start"], r["column"]):
             (r["n_rows"], round(r["psi"], 9), r["drift_level"])
             for r in stream_categorical_drift_monitor(df, "ts", mon, ref)
             .collect()}
    assert len(batch) == 3
    levels = [batch[k][2] for k in sorted(batch)]
    assert levels[1] == "action"
    assert levels[0] == levels[2] != "action"
    # the batch-frame twin's PSI agrees with the batch report's total
    # on the same window slice (same category folding rules)
    minute0 = df.filter("minute(ts) = 0").drop("ts")
    rep = mon.summary(ref, minute0).first()
    assert math.isclose(batch[sorted(batch)[0][0], "cat"][1],
                        rep["psi"], abs_tol=1e-6)

    # NULL outside the top-maxCategories vocabulary is __other__ on
    # both sides: the window's PSI is the batch summary's
    ref3 = spark.createDataFrame(
        [(i, ["a", "a", "a", "b", "b", "c", None][i % 7])
         for i in range(70)], "id long, cat string")
    cur3 = spark.createDataFrame(
        [(i, datetime(2024, 1, 1, 0, 0, 7, tzinfo=timezone.utc),
          ["a", None, None, None, "d"][i % 5]) for i in range(50)],
        "id long, ts timestamp, cat string")
    mon2 = (CategoricalDriftMonitor().setInputCols("cat")
            .setMaxCategories(2))
    assert "__null__" not in {v for _c, v in mon2.fit(ref3)._vocab}
    win = stream_categorical_drift_monitor(cur3, "ts", mon2, ref3).first()
    rep3 = mon2.summary(ref3, cur3.drop("ts")).first()
    assert win["n_rows"] == 50
    assert math.isclose(win["psi"], rep3["psi"], abs_tol=1e-12)

    d = tempfile.mkdtemp(prefix="stream_catdrift_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_categorical_drift_monitor(stream, "ts", mon, ref)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("catdrift")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["window_start"], r["column"]):
               (r["n_rows"], round(r["psi"], 9), r["drift_level"])
               for r in spark.sql("SELECT * FROM catdrift").collect()}
        assert got
        for k, v in got.items():
            assert batch[k] == v
        open_windows = {ws for ws, _ in set(batch) - set(got)}
        assert open_windows <= {max(ws for ws, _ in batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_domain_balance_matches_batch_keep(spark):
    """The reference-calibrated stream filter keeps EXACTLY the rows
    the batch operator (calibrated on the same reference) keeps."""
    from flink_ml__spark.functions.curation import DomainBalancer
    from flink_ml__spark.streaming import stream_domain_balance

    ref = spark.createDataFrame(
        [(i, ["en"] * 6 + ["de"] * 3 + ["fr"]) for i in range(200)
         for _ in [0]][:0] or
        [(i, (["en"] * 6 + ["de"] * 3 + ["fr"])[i % 10])
         for i in range(200)],
        "doc_id long, lang string")
    live = spark.createDataFrame(
        [(1000 + i, (["en"] * 6 + ["de"] * 3 + ["fr", None])[i % 11])
         for i in range(110)],
        "doc_id long, lang string")
    bal = DomainBalancer().setGroupCol("lang").setIdCol("doc_id")

    want = sorted(r["doc_id"] for r in
                  bal.keep(live, bal._stats(ref)).collect())
    got_batch = sorted(r["doc_id"] for r in
                       stream_domain_balance(live, bal, ref).collect())
    assert got_batch == want and want

    d = tempfile.mkdtemp(prefix="stream_balance_")
    try:
        live.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(live.schema).parquet(d)
        out = stream_domain_balance(stream, bal, ref)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("bal")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(r["doc_id"] for r in
                     spark.sql("SELECT doc_id FROM bal").collect())
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_weighted_sample_matches_batch_cut(spark):
    """On the calibration data itself, the streamed threshold filter
    reproduces the batch draw exactly (no key ties at the cut in this
    fixture); weight-0/NULL rows never pass."""
    from flink_ml__spark.functions.curation import WeightedSampler
    from flink_ml__spark.streaming import stream_weighted_sample

    ref = spark.createDataFrame(
        [(i, float(1 + (i * 37) % 50)) for i in range(300)]
        + [(900, None), (901, 0.0)],
        "doc_id long, w double")
    samp = (WeightedSampler().setIdCol("doc_id").setWeightCol("w")
            .setN(40).setSalt("s7"))
    want = sorted(r["doc_id"] for r in samp.transform(ref).collect())
    assert len(want) == 40

    d = tempfile.mkdtemp(prefix="stream_wsample_")
    try:
        ref.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(ref.schema).parquet(d)
        out = stream_weighted_sample(stream, samp, ref)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("wsamp")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(r["doc_id"] for r in
                     spark.sql("SELECT doc_id FROM wsamp").collect())
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_against_loaded_index(spark, tmp_path):
    """The foreachBatch against-corpus dedup accepts a parquet-loaded
    signature index (corpus_hashed=) and produces the same survivors
    as the corpus-scanning path — the corpus text is never touched."""
    from flink_ml__spark.functions.dedup import MinHashDeduplicator
    from flink_ml__spark.streaming import stream_dedup_against_corpus

    corpus = spark.createDataFrame(
        [(i, f"shared boilerplate header unit {i % 2} end") for i in range(6)],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(100, "shared boilerplate header unit 1 end"),
         (101, "totally novel content nothing shared at all here")],
        ["doc_id", "text"])

    op = MinHashDeduplicator().setSeed(4).setThreshold(0.8)
    p = str(tmp_path / "idx")
    op.save_index(p, corpus)
    idx = MinHashDeduplicator().setSeed(4).setThreshold(0.8) \
        .load_index(spark, p)

    got = {}
    def emit(df, bid):
        got[bid] = sorted(r["doc_id"] for r in df.collect())

    proc = stream_dedup_against_corpus(None, op, emit, corpus_hashed=idx)
    proc(batch, 0)
    assert got[0] == [101]


def test_stream_ewma_matches_batch_untruncated(spark):
    """Stream (exact O(1) recurrence) == batch (window formulation)
    whenever maxLag covers the series — including across micro-batch
    boundaries, where the folded state must carry num/den/last."""
    import math

    from flink_ml__spark.functions.timeseries import ExponentialSmoother
    from flink_ml__spark.streaming.online import stream_ewma

    rows = [(k, i, float(((i * 7 + k * 3) % 10) + 1))
            for k in (1, 2) for i in range(12)]
    # plant a null value mid-series for the ignore_na path
    rows[5] = (rows[5][0], rows[5][1], None)
    df = spark.createDataFrame(rows, "k int, t int, x double")
    op = (ExponentialSmoother().setKeyCol("k").setTimeCol("t")
          .setValueCol("x").setAlpha(0.4).setMaxLag(1000))
    batch = {(r["k"], r["t"]): r for r in op.transform(df).collect()}

    d = tempfile.mkdtemp(prefix="stream_ewma_")
    try:
        # two sequential files: early times then late times, so the
        # per-key fold crosses a micro-batch boundary mid-series
        df.filter("t < 6").coalesce(1).write.mode("overwrite") \
          .parquet(d + "/p")
        df.filter("t >= 6").coalesce(1).write.parquet(
            d + "/p", mode="append")
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d + "/p"))
        out = []
        q = (stream_ewma(stream, op).writeStream
             .foreachBatch(lambda b, i: out.extend(b.collect()))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["k"], r["t"]): r for r in out}
        assert set(got) == set(batch)
        for key in batch:
            for col in ("ewma", "forecast", "residual"):
                b, s = batch[key][col], got[key][col]
                if b is None:
                    assert s is None or math.isnan(s), (key, col, s)
                else:
                    assert s is not None and abs(b - s) < 1e-9, \
                        (key, col, b, s)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_rolling_anomaly_matches_batch(spark):
    """Stream (per-key trailing deque) == batch (window frame)
    including NULL slots, minPeriods gating and the sample-std
    denominator — across a micro-batch boundary mid-series."""
    import math

    from flink_ml__spark.functions.timeseries import (
        RollingAnomalyDetector,
    )
    from flink_ml__spark.streaming.online import stream_rolling_anomaly

    rows = []
    for k in (1, 2):
        for i in range(14):
            val = None if (k == 1 and i == 4) else \
                float((i * 13 + k * 5) % 9) + (50.0 if i == 10 else 0.0)
            rows.append((k, i, val))
    df = spark.createDataFrame(rows, "k int, t int, x double")
    op = (RollingAnomalyDetector().setKeyCol("k").setTimeCol("t")
          .setValueCol("x").setWindow(5).setMinPeriods(3)
          .setThreshold(2.0))
    batch = {(r["k"], r["t"]): r for r in op.transform(df).collect()}

    d = tempfile.mkdtemp(prefix="stream_anom_")
    try:
        df.filter("t < 7").coalesce(1).write.mode("overwrite") \
          .parquet(d + "/p")
        df.filter("t >= 7").coalesce(1).write.parquet(
            d + "/p", mode="append")
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d + "/p"))
        out = []
        q = (stream_rolling_anomaly(stream, op).writeStream
             .foreachBatch(lambda b, i: out.extend(b.collect()))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["k"], r["t"]): r for r in out}
        assert set(got) == set(batch)
        for key in batch:
            for col in ("roll_mean", "roll_std", "zscore"):
                b, s = batch[key][col], got[key][col]
                if b is None:
                    assert s is None or (isinstance(s, float)
                                         and math.isnan(s)), (key, col)
                else:
                    assert s is not None and abs(b - s) < 1e-9, \
                        (key, col, b, s)
            assert batch[key]["is_anomaly"] == got[key]["is_anomaly"]
        # the planted spike at t=10 actually fires
        assert got[(2, 10)]["is_anomaly"] is True
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_ks_monitor_matches_batch(spark):
    """Windowed two-sample KS on a stream equals the batch run of the
    same monitor; the planted out-of-range window shows D near 1."""
    import shutil
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.streaming import stream_ks_monitor

    ref = spark.createDataFrame(
        [(i, float(i % 20)) for i in range(200)], "id long, v double")
    rows = []
    for i in range(30):
        ts = datetime(2024, 1, 1, 0, i // 10, 7, tzinfo=timezone.utc)
        v = float((i * 7) % 20) + (100.0 if i // 10 == 1 else 0.0)
        rows.append((i, ts, v))
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")

    batch = {r["window_start"]:
             (r["n_rows"], round(r["d_stat"], 9), round(r["p_value"], 9))
             for r in stream_ks_monitor(df, "ts", "v", ref,
                                        num_buckets=4).collect()}
    assert len(batch) == 3
    ordered = [batch[k] for k in sorted(batch)]
    # shifted minute: every value > all reference values → D = 1 at
    # the appended reference-max evaluation point
    assert ordered[1][1] == 1.0
    assert ordered[0][1] < 1.0 and ordered[2][1] < 1.0

    d = _tf.mkdtemp(prefix="stream_ks_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_ks_monitor(stream, "ts", "v", ref, num_buckets=4)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("ksmon")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["window_start"]:
               (r["n_rows"], round(r["d_stat"], 9), round(r["p_value"], 9))
               for r in spark.sql("SELECT * FROM ksmon").collect()}
        assert got
        for k, v in got.items():
            assert batch[k] == v
        open_windows = set(batch) - set(got)
        assert open_windows <= {max(batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_ks_monitor_identical_distribution_small_d(spark):
    from datetime import datetime, timezone

    from flink_ml__spark.streaming import stream_ks_monitor

    ref = spark.createDataFrame(
        [(float(i % 10),) for i in range(100)], "v double")
    rows = [(datetime(2024, 1, 1, 0, 0, i, tzinfo=timezone.utc),
             float(i % 10)) for i in range(50)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = stream_ks_monitor(df, "ts", "v", ref, num_buckets=5,
                          window="10 minutes").first()
    assert r["d_stat"] < 0.05 and r["p_value"] > 0.9


def test_stream_ks_monitor_bad_params(spark):
    import pytest as _pytest

    from flink_ml__spark.streaming import stream_ks_monitor

    df = spark.createDataFrame([], "ts timestamp, v double")
    with _pytest.raises(ValueError):
        stream_ks_monitor(df, "ts", "v", df, num_buckets=1)
    with _pytest.raises(ValueError):
        stream_ks_monitor(df, "ts", "v", df)


def test_stream_ohlc_matches_batch(spark):
    """Windowed OHLC candles on a stream equal the batch run — open
    and close are min_by/max_by order statistics inside the single
    stateful aggregation, no sort, no row buffer."""
    import shutil
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.streaming import stream_ohlc

    rows = []
    for i in range(40):
        ts = datetime(2024, 1, 1, 0, i // 15, (i * 7) % 60,
                      tzinfo=timezone.utc)
        rows.append((i, ts, "k" + str(i % 2), float((i * 13) % 29)))
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, key string, v double")

    batch = {(r["window_start"], r["key"]):
             (r["open"], r["high"], r["low"], r["close"], r["n_events"])
             for r in stream_ohlc(df, "ts", "key", "v").collect()}
    assert len(batch) >= 4

    d = _tf.mkdtemp(prefix="stream_ohlc_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_ohlc(stream, "ts", "key", "v")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("ohlcstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["window_start"], r["key"]):
               (r["open"], r["high"], r["low"], r["close"], r["n_events"])
               for r in spark.sql("SELECT * FROM ohlcstream").collect()}
        assert got
        for kk, vv in got.items():
            assert batch[kk] == vv
        open_windows = {ws for ws, _ in set(batch) - set(got)}
        assert open_windows <= {max(ws for ws, _ in batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_regression_monitor_matches_batch(spark):
    """Windowed regression metrics on a stream equal the batch run —
    every metric is algebraic, one stateful aggregation."""
    import math
    import shutil
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.streaming import stream_regression_monitor

    rows = []
    for i in range(30):
        ts = datetime(2024, 1, 1, 0, i // 10, 3, tzinfo=timezone.utc)
        y = float((i * 7) % 11)
        rows.append((i, ts, y, y + ((i % 3) - 1.0)))  # errors -1/0/+1
    rows.append((99, datetime(2024, 1, 1, tzinfo=timezone.utc),
                 None, 1.0))  # NULL label excluded from metrics
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, label double, pred double")

    def canon(frame):
        return {r["window_start"]:
                (r["n"], round(r["mae"], 9), round(r["rmse"], 9),
                 round(r["bias"], 9),
                 round(r["r2"], 9) if r["r2"] is not None else None)
                for r in frame.collect()}

    batch = canon(stream_regression_monitor(df, "ts", "label", "pred"))
    assert len(batch) == 3
    first = batch[min(batch)]
    assert first[0] == 10  # the NULL-label row doesn't count
    assert math.isclose(first[1], sum(abs((i % 3) - 1)
                                      for i in range(10)) / 10)

    # window 1 IS the batch RegressionEvaluator on the same slice
    from pyspark.sql import functions as F

    from flink_ml__spark.functions.evaluation import RegressionEvaluator

    lo = datetime(2024, 1, 1, 0, 1, tzinfo=timezone.utc)
    sl = df.filter((F.col("ts") >= lo) & (F.col("ts") < datetime(
        2024, 1, 1, 0, 2, tzinfo=timezone.utc)))
    ref = (RegressionEvaluator().setLabelCol("label")
           .setPredictionCol("pred").evaluate(sl).first())
    w1 = (stream_regression_monitor(df, "ts", "label", "pred")
          .filter(F.col("window_start") == lo).first())
    assert ref["r2"] is not None
    for c in ("n", "mae", "rmse", "r2"):
        assert w1[c] == ref[c], c

    d = _tf.mkdtemp(prefix="stream_reg_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_regression_monitor(stream, "ts", "label", "pred")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("regmon")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM regmon"))
        assert got
        for kk, vv in got.items():
            assert batch[kk] == vv
        assert set(batch) - set(got) <= {max(batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_anova_monitor_matches_batch_and_anova(spark):
    """Windowed ANOVA on a stream equals the batch run, and a window
    whose groups coincide with the batch AnovaFTest input yields the
    same F."""
    import math
    import shutil
    import tempfile as _tf
    from datetime import datetime, timezone

    from flink_ml__spark.functions.stats import AnovaFTest
    from flink_ml__spark.streaming import stream_anova_monitor

    rows = []
    for i in range(36):
        ts = datetime(2024, 1, 1, 0, i // 18, 5, tzinfo=timezone.utc)
        grp = "g" + str(i % 3)
        # second window: group means pulled far apart
        v = float(i % 5) + (100.0 * (i % 3) if i // 18 == 1 else 0.0)
        rows.append((i, ts, grp, v))
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, grp string, v double")

    def canon(frame):
        return {r["window_start"]:
                (r["k_groups"], r["n"],
                 round(r["f_stat"], 9) if r["f_stat"] is not None
                 else None, r["df_between"], r["df_within"])
                for r in frame.collect()}

    batch = canon(stream_anova_monitor(df, "ts", "v", "grp",
                                       reference=df))
    assert len(batch) == 2
    w0, w1 = (batch[k] for k in sorted(batch))
    assert w0[0] == 3 and w0[1] == 18
    # the shifted window separates group means → much larger F
    assert w1[2] > 100 * (w0[2] or 1)

    # window 0 vs the batch evaluator on the same slice
    from pyspark.sql import functions as _F

    slice0 = df.filter(_F.col("ts") < datetime(
        2024, 1, 1, 0, 1, tzinfo=timezone.utc))
    r = (AnovaFTest().setValueCol("v").setGroupCol("grp")
         .evaluate(slice0).first())
    assert math.isclose(w0[2], round(r["f_stat"], 9), rel_tol=1e-6)

    d = _tf.mkdtemp(prefix="stream_anova_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_anova_monitor(stream, "ts", "v", "grp",
                                   reference=df)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("anovamon")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM anovamon"))
        assert got
        for kk, vv in got.items():
            assert batch[kk] == vv
        assert set(batch) - set(got) <= {max(batch)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cdc_chunker_and_hashed_tf_apply_on_streams(spark, tmp_path):
    """Both new map-only ops — ContentDefinedChunker (Arrow
    mapInPandas) and HashedTfEmbedder (pure HOFs) — run unmodified on
    an unbounded stream, row-for-row equal to batch."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions.curation import ContentDefinedChunker
    from flink_ml__spark.functions.text import HashedTfEmbedder

    base = ("streaming chunk parity text with enough words to split "
            "into several content defined chunks repeatedly ") * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + "extra tail"), (3, None)],
        "doc_id long, text string")

    chunker = ContentDefinedChunker().setMaskBits(4)
    embedder = HashedTfEmbedder().setDim(16).setInputCol("chunk_text") \
        .setOutputCol("chunk_vec")

    def chain(frame):
        return embedder.transform(chunker.transform(frame))

    def canon(frame):
        return sorted(
            ((r["doc_id"], r["chunk_index"], r["chunk_hash"],
              None if r["chunk_vec"] is None
              else tuple(round(x, 9) for x in r["chunk_vec"]))
             for r in frame.collect()))

    batch = canon(chain(df))
    assert len(batch) > 4
    d = _tf.mkdtemp(prefix="cdc_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = chain(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("cdcstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM cdcstream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_embedding_models_encode_matches_batch(spark):
    """The trained embedding-model family — PQ codes, int8 quantizer,
    PCA projection, random projection — are all broadcast-model Arrow
    map passes; chained over one unbounded stream they must emit
    exactly the batch encodings. This is the streaming half of the
    ANN story: index building is batch, INGEST encoding is a stream."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions.similarity import (
        EmbeddingPCA,
        EmbeddingQuantizer,
        ProductQuantizer,
        RandomProjection,
    )
    from flink_ml__spark.sources import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001") \
        .limit(64).localCheckpoint(eager=True)
    pq = (ProductQuantizer().setNumSubspaces(8).setBitsPerCode(4)
          .setSeed(7).setK(5).train(emb))
    pca = EmbeddingPCA().setK(4).fit(emb)
    rp = (RandomProjection().setOutputDim(8).setSeed(7)
          .setOutputCol("rp").setInputDim(64))
    q8 = EmbeddingQuantizer()

    def chain(frame):
        out = pq.transform(frame)
        out = pca.transform(out)
        out = rp.transform(out)
        return q8.transform(out)

    def canon(frame):
        rows = frame.collect()
        return sorted(
            ((r["vec_id"], tuple(r["pq_code"]), round(r["pq_norm"], 9),
              tuple(round(x, 9) for x in r["pca"]),
              tuple(round(x, 9) for x in r["rp"]),
              tuple(r["emb_q8"]), round(r["emb_scale"], 9))
             for r in rows))

    batch = canon(chain(emb))
    assert len(batch) == 64
    d = _tf.mkdtemp(prefix="emb_stream_")
    try:
        emb.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        out = chain(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("embstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM embstream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_text_hygiene_chain_matches_batch(spark):
    """EncodingCorruptionDetector + OutlinkExtractor are pure codegen
    projections — the crawl-hygiene ingest chain must run unchanged on
    an unbounded stream of raw documents."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions.text import (
        CodeDensityProfiler,
        EncodingCorruptionDetector,
    )
    from flink_ml__spark.functions.web import OutlinkExtractor

    rows = [
        (1, '<a href="https://a.example.com/x">ok</a> clean text'),
        (2, 'cafÃ© mojibake <a href="https://b.io/">m</a>'),
        (3, "� broken"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def chain(frame):
        flagged = EncodingCorruptionDetector().transform(frame)
        clean = flagged.filter(~flagged.is_corrupt)
        # route code documents out of the link-extraction path — the
        # profiler is a pure projection, so the chain stays map-only
        prose = (CodeDensityProfiler().transform(clean)
                 .filter("NOT is_code"))
        return OutlinkExtractor().transform(prose)

    def canon(frame):
        return sorted((r["doc_id"], r["outlink"], r["out_domain"])
                      for r in frame.collect())

    batch = canon(chain(df))
    assert batch == [(1, "https://a.example.com/x", "example.com")]
    d = _tf.mkdtemp(prefix="hygiene_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = chain(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("hygienestream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM hygienestream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_quantile_monitor_matches_batch(spark):
    """Same GK sketch on both paths -> identical output, no tolerance
    band."""
    import datetime as dt
    import shutil
    import tempfile as _tf

    from flink_ml__spark.streaming.online import stream_quantile_monitor

    t0 = dt.datetime(2024, 5, 1)
    rows = [("a", t0 + dt.timedelta(seconds=7 * i), float((i * 37) % 100))
            for i in range(400)]
    rows += [("b", t0 + dt.timedelta(seconds=11 * i), float(i % 50))
             for i in range(200)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")

    def run(frame):
        return stream_quantile_monitor(frame, "ts", "v",
                                       probs=(0.5, 0.9),
                                       window="10 minutes",
                                       group_col="k")

    def canon(frame):
        return sorted((r["k"], r["window_start"], r["n"],
                       r["q_5"], r["q_9"]) for r in frame.collect())

    batch = canon(run(df))
    assert batch and all(n > 0 for _, _, n, _, _ in batch)
    d = _tf.mkdtemp(prefix="quant_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = run(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("quantstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM quantstream"))
        # append mode: the final window per key may not close before
        # the availableNow stream ends — every EMITTED row must equal
        # its batch twin exactly (same GK sketch both sides)
        bm = {(r[0], r[1]): r for r in batch}
        gm = {(r[0], r[1]): r for r in got}
        assert gm and all(bm[kk] == vv for kk, vv in gm.items())
        for key in {k for k, _ in bm} :
            missing = [w for (kk, w) in set(bm) - set(gm) if kk == key]
            assert len(missing) <= 1
            if missing:
                assert missing[0] == max(w for (kk, w) in bm
                                         if kk == key)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_fitted_apply_chain_matches_batch(spark):
    """The round-8 fitted-model applies — QuantileMatcher (both grids
    frozen from batch calibration windows), Platt + isotonic
    calibration (folded CASE/sigmoid), CountEncoder (broadcast
    stream-static join) — chained over one unbounded stream must emit
    exactly the batch transforms. Scoring models are fit offline;
    INFERENCE is a stream."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions import (
        CountEncoder,
        NaiveBayesTextClassifier,
        QuantileMatcher,
    )
    from flink_ml__spark.functions.evaluation import (
        IsotonicCalibrator,
        PlattCalibrator,
    )

    rows = [(i, "abc"[i % 3], (i * 37 % 100) / 100.0, i % 2,
             ["buy cheap pills now", "meeting agenda review",
              "the quarterly notes"][i % 3])
            for i in range(120)]
    df = spark.createDataFrame(rows, "id long, cat string, score double,"
                                     " label int, text string")
    reference = df.filter("id % 2 = 0")

    qm = (QuantileMatcher().setInputCol("score").setOutputCol("matched")
          .setNumBuckets(4).fit(reference))
    platt = (PlattCalibrator().setScoreCol("score").fit(df)
             .setOutputCol("platt"))
    iso = (IsotonicCalibrator().setScoreCol("score").fit(df)
           .setOutputCol("iso"))
    ce = CountEncoder().setInputCol("cat").fit(df)
    nb = NaiveBayesTextClassifier().setLabelCol("cat") \
        .setNumFeatures(128).fit(df)

    def chain(frame, calibration):
        out = qm.transform(frame, current=calibration)
        out = platt.transform(out)
        out = iso.transform(out)
        out = ce.transform(out)
        return nb.transform(out)

    def canon(frame):
        return sorted((r["id"], round(r["matched"], 9),
                       round(r["platt"], 9), round(r["iso"], 9),
                       r["cat_count"], r["nb_pred"], r["nb_score"])
                      for r in frame.collect())

    batch = canon(chain(df, df))
    assert len(batch) == 120
    d = _tf.mkdtemp(prefix="fitted_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = chain(stream, df)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("fittedstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM fittedstream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_holt_matches_batch_final_state(spark):
    """Holt level/trend recursion is O(1) state per key: the stream's
    LAST emitted row per key (after all micro-batches) must equal the
    batch fold exactly — same fixed ordering, same IEEE sequence."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions.timeseries import HoltForecaster
    from flink_ml__spark.streaming.online import stream_holt

    rows = [("a", i, float((i * 37) % 100)) for i in range(60)]
    rows += [("b", i, float((i * 11) % 50)) for i in range(45)]
    df = spark.createDataFrame(rows, "key string, ts long, v double")
    op = (HoltForecaster().setKeyCol("key").setTimeCol("ts")
          .setValueCol("v").setAlpha(0.4).setBeta(0.2).setHorizon(2))
    batch = {r["key"]: (r["n"], r["level"], r["trend"], r["forecast"])
             for r in op.transform(df).collect()}
    d = _tf.mkdtemp(prefix="holt_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_holt(stream, op)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("holtstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["key"]: (r["n"], r["level"], r["trend"], r["forecast"])
               for r in spark.sql(
                   "SELECT * FROM holtstream t WHERE n = "
                   "(SELECT max(n) FROM holtstream u"
                   " WHERE u.key = t.key)").collect()}
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_interarrival_matches_batch(spark):
    """Welford state across micro-batches: the LAST emitted profile
    per key must match the batch InterArrivalProfiler at 1e-9 (the
    batch stddev merges partitions in arbitrary order, so exact bit
    equality is not defined for this operator pair)."""
    import datetime as dt
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions.timeseries import InterArrivalProfiler
    from flink_ml__spark.streaming.online import stream_interarrival

    t0 = dt.datetime(2024, 3, 1)
    rows = [("a", i, t0 + dt.timedelta(seconds=int((i * 37) % 100)))
            for i in range(50)]
    rows += [("b", i, t0 + dt.timedelta(seconds=7 * i))
             for i in range(30)]
    df = spark.createDataFrame(rows, "event_type string, event_id long,"
                                     " ts timestamp")
    op = InterArrivalProfiler()
    batch = {r["event_type"]: r for r in op.transform(df).collect()}
    d = _tf.mkdtemp(prefix="iat_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_interarrival(stream, op)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("iatstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["key"]: r for r in spark.sql(
            "SELECT * FROM iatstream t WHERE n_events = "
            "(SELECT max(n_events) FROM iatstream u"
            " WHERE u.key = t.key)").collect()}
        assert set(got) == set(batch)
        for key, b in batch.items():
            s = got[key]
            assert s["n_events"] == b["n_events"]
            assert s["n_gaps"] == b["n_gaps"]
            for col in ("mean_gap_s", "std_gap_s", "cv", "burstiness"):
                assert abs(s[col] - b[col]) < 1e-6, (key, col)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_welch_monitor_matches_batch_and_welch(spark):
    """Per-window Welch on an unbounded stream must emit exactly the
    batch run of the same code path, and each window must agree with
    batch WelchTTest on that window's slice."""
    import datetime as _dt
    import shutil
    import tempfile as _tf

    from pyspark.sql import functions as F

    from flink_ml__spark.functions.stats import WelchTTest
    from flink_ml__spark.streaming.online import stream_welch_monitor

    base = _dt.datetime(2024, 1, 1)
    rows = []
    for i in range(240):
        grp = "a" if i % 2 == 0 else "b"
        # minute-windows; shift group a's mean in window 2
        v = float(i % 7) + (5.0 if grp == "a" and 60 <= i < 120 else 0.0)
        rows.append((base + _dt.timedelta(seconds=i * 2), grp, v))
    df = spark.createDataFrame(rows, "ts timestamp, g string, v double")

    def canon(frame):
        return sorted(
            (r["window_start"], r["n_a"], r["n_b"],
             round(r["mean_a"], 9), round(r["mean_b"], 9),
             None if r["t_stat"] is None else round(r["t_stat"], 9),
             r["significant"])
            for r in frame.collect())

    batch = canon(stream_welch_monitor(df, "ts", "v", "g", "a", "b",
                                       window="1 minute"))
    assert len(batch) == 8
    # the shifted windows must flag
    assert any(r[6] for r in batch)

    # window 2 IS the batch WelchTTest on the same slice: one kernel,
    # so every column is equal, not just close
    lo = base + _dt.timedelta(minutes=2)
    sl = df.filter((F.col("ts") >= lo)
                   & (F.col("ts") < base + _dt.timedelta(minutes=3)))
    ref = (WelchTTest().setValueCol("v").setGroupCol("g")
           .setGroups("a", "b").evaluate(sl).first())
    w2 = (stream_welch_monitor(df, "ts", "v", "g", "a", "b",
                               window="1 minute")
          .filter(F.col("window_start") == lo)
          .drop("window_start", "window_end").first())
    assert w2.asDict() == ref.asDict()

    d = _tf.mkdtemp(prefix="welch_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_welch_monitor(stream, "ts", "v", "g", "a", "b",
                                   window="1 minute")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("welchstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM welchstream"))
        # append mode cannot emit the final window (the watermark never
        # passes its end on a bounded replay) — same contract as the
        # ANOVA/KS monitors: emitted windows match exactly
        bymap = {r[0]: r for r in batch}
        assert got
        for r in got:
            assert bymap[r[0]] == r
        assert ({r[0] for r in batch} - {r[0] for r in got}
                <= {max(bymap)})
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_conformal_apply_matches_batch(spark):
    """SplitConformalModel.transform is a broadcast join + projection,
    so INFERENCE runs unchanged on an unbounded stream — the streamed
    intervals must equal the batch intervals row for row."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions.evaluation import SplitConformalRegressor

    cal = spark.createDataFrame(
        [("g", 10.0, 10.0 + (i % 9) - 4) for i in range(40)] +
        [("h", 20.0, 20.0 + (i % 5) - 2) for i in range(40)],
        "grp string, prediction double, label double")
    model = (SplitConformalRegressor().setGroupCols("grp")
             .setAlpha(0.2).fit(cal))
    df = spark.createDataFrame(
        [(i, "g" if i % 2 == 0 else "h", float(i)) for i in range(60)],
        "id long, grp string, prediction double")

    def canon(frame):
        return sorted((r["id"], round(r["ci_lo"], 9),
                       round(r["ci_hi"], 9)) for r in frame.collect())

    batch = canon(model.transform(df))
    assert len(batch) == 60
    d = _tf.mkdtemp(prefix="conf_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = model.transform(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("confstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM confstream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_srm_monitor_matches_batch(spark):
    """Windowed SRM on a stream equals the batch run; a planted 90/10
    window flips the flag."""
    import datetime as _dt
    import shutil
    import tempfile as _tf

    from flink_ml__spark.streaming.online import stream_srm_monitor

    base = _dt.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        # window 0-1: fair split; window 2: 90/10
        w = i // 120
        grp = "a" if (i % 10 < 9 if w == 2 else i % 2 == 0) else "b"
        rows.append((base + _dt.timedelta(seconds=i // 2), grp))
    df = spark.createDataFrame(rows, "ts timestamp, v string")

    def canon(frame):
        return sorted((r["window_start"], r["n_a"], r["n_b"],
                       round(r["chi2"], 9), r["srm"])
                      for r in frame.collect())

    batch = canon(stream_srm_monitor(df, "ts", "v", "a", "b",
                                     window="1 minute"))
    assert any(r[4] for r in batch)          # the skewed window flags
    assert not all(r[4] for r in batch)      # the fair windows don't

    # the skewed window IS the batch SrmChecker on the same slice
    from pyspark.sql import functions as F

    from flink_ml__spark.functions.stats import SrmChecker

    lo = base + _dt.timedelta(minutes=2)
    sl = df.filter((F.col("ts") >= lo)
                   & (F.col("ts") < base + _dt.timedelta(minutes=3)))
    ref = (SrmChecker().setVariantCol("v").setVariants("a", "b")
           .evaluate(sl).first())
    w1 = (stream_srm_monitor(df, "ts", "v", "a", "b", window="1 minute")
          .filter(F.col("window_start") == lo)
          .drop("window_start", "window_end").first())
    assert ref["srm"] and w1.asDict() == ref.asDict()

    d = _tf.mkdtemp(prefix="srm_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_srm_monitor(stream, "ts", "v", "a", "b",
                                 window="1 minute")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("srmstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM srmstream"))
        bymap = {r[0]: r for r in batch}
        assert got
        for r in got:
            assert bymap[r[0]] == r
        assert ({r[0] for r in batch} - {r[0] for r in got}
                <= {max(bymap)})
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_ratio_monitor_matches_batch_and_ratio(spark):
    """Windowed delta-method ratio guardrail on a stream equals the
    batch run, and each window agrees with batch RatioMetricAnalyzer
    on that window's slice."""
    import datetime as _dt
    import shutil
    import tempfile as _tf

    from pyspark.sql import functions as F

    from flink_ml__spark.functions.stats import RatioMetricAnalyzer
    from flink_ml__spark.streaming.online import stream_ratio_monitor

    base = _dt.datetime(2024, 1, 1)
    rows = []
    for i in range(240):
        grp = "a" if i % 2 == 0 else "b"
        num = float(i % 5) + (4.0 if grp == "a" and 60 <= i < 120
                              else 0.0)
        den = float(i % 3) + 1.0
        rows.append((base + _dt.timedelta(seconds=i * 2), grp,
                     num, den))
    df = spark.createDataFrame(
        rows, "ts timestamp, g string, num double, den double")

    def canon(frame):
        return sorted(
            (r["window_start"], r["n_a"], r["n_b"],
             round(r["ratio_a"], 9), round(r["ratio_b"], 9),
             None if r["z_stat"] is None else round(r["z_stat"], 9),
             r["significant"])
            for r in frame.collect())

    batch = canon(stream_ratio_monitor(df, "ts", "num", "den", "g",
                                       "a", "b", window="1 minute"))
    assert len(batch) == 8
    assert any(r[6] for r in batch)       # the planted window flags

    # window 2 IS the batch analyzer on the same slice: every column
    # is equal, not just close
    lo = base + _dt.timedelta(minutes=2)
    sl = df.filter((F.col("ts") >= lo)
                   & (F.col("ts") < base + _dt.timedelta(minutes=3)))
    ref = (RatioMetricAnalyzer().setNumCol("num").setDenCol("den")
           .setVariantCol("g").setVariants("a", "b")
           .evaluate(sl).first())
    w2 = (stream_ratio_monitor(df, "ts", "num", "den", "g", "a", "b",
                               window="1 minute")
          .filter(F.col("window_start") == lo)
          .drop("window_start", "window_end").first())
    assert w2.asDict() == ref.asDict()

    d = _tf.mkdtemp(prefix="ratio_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = stream_ratio_monitor(stream, "ts", "num", "den", "g",
                                   "a", "b", window="1 minute")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("ratiostream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM ratiostream"))
        bymap = {r[0]: r for r in batch}
        assert got
        for r in got:
            assert bymap[r[0]] == r
        assert ({r[0] for r in batch} - {r[0] for r in got}
                <= {max(bymap)})
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_kn_bigram_apply_matches_batch(spark):
    """KneserNeyBigramLMModel.transform is one Arrow pass over
    broadcast dicts — INFERENCE on an unbounded stream must emit the
    batch scores row for row."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions.curation import KneserNeyBigramLM

    corpus = spark.createDataFrame(
        [(i, ["the cat sat on the mat",
              "a dog ran in the park",
              "the cat ran home"][i % 3]) for i in range(30)],
        "doc_id long, text string")
    model = (KneserNeyBigramLM().setMaxVocab(64).setMaxBigrams(64)
             .fit(corpus))
    df = spark.createDataFrame(
        [(1, "the cat ran"), (2, "park dog zzz"), (3, None)],
        "doc_id long, text string")

    def canon(frame):
        return sorted(
            (r["doc_id"],
             None if r["mean_logprob"] is None
             else round(r["mean_logprob"], 9),
             None if r["bigram_frac"] is None
             else round(r["bigram_frac"], 9))
            for r in frame.collect())

    batch = canon(model.transform(df))
    assert len(batch) == 3 and batch[0][1] is not None
    d = _tf.mkdtemp(prefix="kn_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = model.transform(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("knstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM knstream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_boilerplate_score_matches_batch(spark):
    """stream_boilerplate_score scores each micro-batch against the
    static corpus's common-shingle statistic, matching the batch
    transform_against output exactly."""
    import shutil as _sh
    import tempfile as _tf

    from flink_ml__spark.functions.curation import BoilerplateFractionScorer
    from flink_ml__spark.sources import load_table
    from flink_ml__spark.streaming import stream_boilerplate_score

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = docs.filter("doc_id % 2 = 0")
    incoming = docs.filter("doc_id % 2 = 1")
    sc = BoilerplateFractionScorer().setShingleSize(2).setMinDf(2)
    d = _tf.mkdtemp(prefix="stream_bp_")
    got = {}
    try:
        incoming.repartition(3).write.mode("overwrite").parquet(d)
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))

        def emit(scored, batch_id):
            for r in scored.select("doc_id", "n_shingles",
                                   "n_common").collect():
                got[r["doc_id"]] = (r["n_shingles"], r["n_common"])

        proc = stream_boilerplate_score(corpus, sc, emit)
        q = (stream.writeStream
             .foreachBatch(proc)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        expect = {r["doc_id"]: (r["n_shingles"], r["n_common"])
                  for r in sc.transform_against(
                      incoming, sc.common_table(corpus))
                  .select("doc_id", "n_shingles", "n_common").collect()}
        assert got == expect
        assert any(c > 0 for _, c in got.values())
        # statistic-rotation cleanup handle: close() releases the
        # persisted common table so long-lived streams that rebuild the
        # statistic don't accumulate dead cached partitions
        assert proc.common.storageLevel.useMemory
        proc.close()
        assert not proc.common.storageLevel.useMemory
    finally:
        _sh.rmtree(d, ignore_errors=True)


def test_stream_unimax_alloc_matches_batch(spark):
    """Streaming UniMax: after the last micro-batch the emitted
    allocation equals batch transform over all rows seen — the
    running O(domains) inventory plus the closed-form water-filling
    reproduce the batch answer exactly (integer counts, no float
    drift)."""
    import shutil as _sh
    import tempfile as _tf

    from pyspark.sql import functions as F

    from flink_ml__spark.functions.curation import UniMaxAllocator
    from flink_ml__spark.sources import load_table
    from flink_ml__spark.streaming import stream_unimax_alloc

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    alloc = (UniMaxAllocator().setGroupCol("source")
             .setTokenCol("n_chars").setMaxEpochs(1.2)
             .setBudget(30000))
    last = {}

    def emit(df, batch_id):
        last.clear()
        last.update({r["source"]: (r["n_docs"], r["n_tokens"],
                                   r["alloc"], r["weight"])
                     for r in df.collect()})

    d = _tf.mkdtemp(prefix="sum_")
    try:
        docs.repartition(3).write.mode("overwrite").parquet(d)
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stream.writeStream
             .foreachBatch(stream_unimax_alloc(alloc, emit))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        expect = {r["source"]: (r["n_docs"], r["n_tokens"],
                                r["alloc"], r["weight"])
                  for r in alloc.transform(docs).collect()}
        assert last == expect
        assert len(last) > 1
    finally:
        _sh.rmtree(d, ignore_errors=True)
