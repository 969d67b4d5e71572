"""Physical-plan quality gates: these assert the *shape* of the plans —
column pruning reaches the parquet scan, small sides broadcast, hot
projections stay in whole-stage codegen — so a refactor that silently
regresses the 100 TB story fails here, not in production."""

import re

import pytest

from flink_ml__spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


# scan metadata (ReadSchema, PushedFilters) is abbreviated to this
# many characters in a plan string; Spark's default of 100 cuts a
# 6-column ReadSchema mid-name, and a cut schema matches no regex
_METADATA_CHARS = "100000"


def _plan(spark, name):
    qe = QUERIES[name](spark, SF)._jdf.queryExecution()
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, _METADATA_CHARS)
    try:
        return qe.executedPlan().toString()
    finally:
        spark.conf.set(key, old)


def _read_schemas(plan):
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def test_ahp_scan_prunes_columns(spark):
    plan = _plan(spark, "ahp_score_lineitem")
    schemas = _read_schemas(plan)
    assert schemas, plan
    # lineitem has 16 columns; AHP needs its 4 inputs + 2 keys
    for schema in schemas:
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"l_orderkey", "l_linenumber", "l_quantity",
                        "l_extendedprice", "l_discount", "l_tax"}, cols


# Spark jobs each reference query launches while it is BUILT: its fits
# and stats passes run eagerly, the sink runs later and is not counted.
# An eager one-row aggregate is 2 jobs (AQE's shuffle map stage, then
# the result), 3 over a grouped input; a hidden new action moves a
# count and fails here.
BUILD_JOBS = {
    "ahp_score_lineitem": 4,            # min/max, then sums
    "topsis_score_part": 4,             # min-type max, then sum(v^2)
    # window means checkpointed (2), then TOPSIS's two passes over them
    "online_topsis_predict_events": 6,
    "rank_gauss_lineitem": 2,           # exact percentile edges
}


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_reference_query_build_jobs(spark, name):
    import uuid

    # a first build infers the parquet schemas (one job per table);
    # load_table reuses them from then on, so the counted build sees
    # only the operators' own jobs
    QUERIES[name](spark, SF)
    sc = spark.sparkContext
    group = f"build-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        QUERIES[name](spark, SF)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == BUILD_JOBS[name], (name, len(jobs))


def test_time_features_reads_one_column(spark):
    plan = _plan(spark, "time_features_orders")
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols == {"o_orderdate"}, cols


def test_ahp_stats_folded_as_literals(spark):
    # the two aggregation passes run at plan-build time; the returned
    # plan must be a single scan + projection (no join, no aggregate)
    plan = _plan(spark, "ahp_score_lineitem")
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "*(1)" in plan  # whole-stage codegen (star-prefixed stage)


def test_online_topsis_predict_broadcasts_model(spark):
    plan = _plan(spark, "online_topsis_predict_events")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_exact_dedup_single_shuffle_shape(spark):
    plan = _plan(spark, "dedup_exact_documents")
    # groupBy(fp) + semi join back: partial/final aggregate plus ONE
    # exchange pair — no cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_multimodal_meta_stays_codegen(spark):
    plan = _plan(spark, "multimodal_meta_documents")
    assert "*(1)" in plan  # whole-stage codegen (star-prefixed stage)
    assert "BatchEvalPython" not in plan      # no row-at-a-time python
    assert "ArrowEvalPython" not in plan      # metadata pass needs no UDF


@pytest.mark.parametrize("name", ["quality_documents", "lang_id_documents",
                                  "token_count_documents"])
def test_text_queries_no_python_udfs(spark, name):
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_bench_headline_names_resolve():
    """Every name bench.py times must exist in the query registry — a
    rename that misses bench.py would crash the driver's bench run, and
    a bench-local query override would time code the CORRECTNESS gate
    never checks (seen: cms_estimates_events, r08)."""
    import bench

    for name in bench.HEADLINE:
        assert name in QUERIES, name
    # no bench-local query definitions: bench times the registry only
    local_queries = [n for n in dir(bench) if n.startswith("q_")]
    assert local_queries == [], local_queries


def test_entry_contract_shape(spark):
    """Driver contract: queries/oracles keys line up; entry returns the
    flagship frame with a stable schema."""
    import __spark_entry__ as E

    qs, osql = E.queries(), E.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25
    df = E.entry(spark)
    assert df.columns == ["l_orderkey", "l_linenumber", "ahp_score"]


def test_online_ahp_aggregates_do_not_buffer_windows(spark):
    """OnlineAHP must stay the agg + broadcast-join plan: an analytic
    window function (WindowExec) buffers every row of a tumbling window
    in one task — a scale-killer the re-plan removed."""
    plan = _plan(spark, "online_ahp_events")
    assert "Window" not in plan          # no WindowExec / WindowGroupLimit
    assert "HashAggregate" in plan       # partial+final per-window stats
    assert "BroadcastHashJoin" in plan   # stats rejoin rows via broadcast
    assert "SortMergeJoin" not in plan   # never a full-data shuffle join


def test_ngram_prefix_join_no_cartesian(spark):
    """The prefix-filtered similarity join must be a hash join on the
    exploded prefix keys — never a cartesian/broadcast-nested-loop over
    documents."""
    plan = _plan(spark, "ngram_jaccard_pairs_documents")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dedup_banded_join_no_cartesian(spark):
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redact_no_python_no_shuffle(spark):
    """PII scrubbing is a pure regexp projection: zero exchanges, zero
    Python — the pass must pipeline with the scan."""
    plan = _plan(spark, "pii_redact_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_corpus_profile_partial_final_aggregate(spark):
    """One partial+final aggregation, exactly one data exchange on the
    group keys — output is O(groups)."""
    plan = _plan(spark, "corpus_profile_documents")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial" in plan
    assert "CartesianProduct" not in plan


def test_balance_targets_data_side_broadcast_only(spark):
    """Targets mode must keep the data side shuffle-free: the row scan
    feeds a BroadcastHashJoin; exchanges exist only under the O(groups)
    stats/broadcast subtree."""
    plan = _plan(spark, "balance_targets_documents")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every hash-exchange sits inside the broadcast (stats) subtree
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "lang" in line  # the O(groups) counts aggregate


def test_repetition_single_arrow_pass(spark):
    """All four repetition signals come from ONE ArrowEvalPython node —
    the struct UDF must not be re-evaluated per output column."""
    plan = _plan(spark, "repetition_documents")
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan


def test_line_filter_no_shuffle_no_python(spark):
    """C4 line filtering is pure HOF expressions: zero exchanges, zero
    Python — it must pipeline with the scan (and thus with streams)."""
    plan = _plan(spark, "line_filter_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_unigram_fit_topk_no_global_sort(spark):
    """Vocab capping must be TakeOrderedAndProject (per-partition top-k
    + driver merge of maxVocab rows), never a global Sort of the full
    token-count table."""
    from flink_ml__spark.functions.curation import UnigramLM
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", SF)
    vocab = UnigramLM().setMaxVocab(100)._vocab_frame(docs, total=1000)
    plan = vocab._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_unigram_apply_map_only(spark):
    """Model apply is ONE Arrow pass over the broadcast vocab dict —
    no explode, no aggregation, no exchange (the property that lets it
    run unchanged on streams)."""
    plan = _plan(spark, "unigram_logprob_documents")
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_substring_dedup_two_shuffle_waves(spark):
    """Span dedup: gram aggregation + per-doc mask fold are the only
    data shuffles (plus the pre-UDF repartition); the document-side
    rewrite is map-side HOFs — no cartesian, no extra aggregation over
    the corpus text."""
    plan = _plan(spark, "dedup_substring_documents")
    assert "CartesianProduct" not in plan
    # the positioned-hash Arrow pass ran ONCE at materialization time —
    # both occurrence branches must read the persisted table (the plan
    # text still PRINTS the cached subtree's ArrowEvalPython, but
    # execution scans InMemoryTableScan)
    assert "InMemoryTableScan" in plan


def test_gopher_filter_no_shuffle_no_python(spark):
    """The Gopher rules are pure length/regexp arithmetic: zero
    exchanges, zero Python — the pass pipelines with the scan."""
    plan = _plan(spark, "gopher_quality_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_dsir_apply_single_arrow_pass(spark):
    """DSIR scoring is one Arrow pass over the broadcast ratio vector:
    no exchange, no join, no aggregation in the returned plan (fit's
    aggregations run at plan-build time)."""
    plan = _plan(spark, "dsir_weights_documents")
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ppl_bucket_thresholds_folded(spark):
    """Percentile thresholds fold to literals at build time: the
    returned plan is scan → unigram Arrow score → CASE projection —
    no aggregation, no exchange."""
    plan = _plan(spark, "ppl_bucket_documents")
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_normalize_no_shuffle_no_python(spark):
    """Text normalization is a pure regexp projection — zero exchanges,
    zero Python; it must pipeline with the parquet scan."""
    plan = _plan(spark, "normalize_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_frequent_ngrams_topk_no_global_sort(spark):
    """N-gram counting is one Arrow pass (a Catalyst slice-over-
    sequence formulation re-evaluates the token split per element —
    O(tokens²) interpreted); the cut is TakeOrderedAndProject — per-
    partition heaps, not a global sort of the full n-gram table."""
    plan = _plan(spark, "frequent_ngrams_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Expand" not in plan  # no count+countDistinct double-stream


def test_epoch_shuffle_single_exchange(spark):
    """The epoch shuffle is one hash exchange on shard + per-shard
    window sort — no Python, no second shuffle."""
    plan = _plan(spark, "epoch_shuffle_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bloom_apply_map_only(spark):
    """After the one-time corpus fit, the bloom APPLY must be a
    map-only Arrow pass — no join, no exchange on the new-data side."""
    from flink_ml__spark.functions.dedup import BloomCorpusDeduplicator
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", SF)
    op = (BloomCorpusDeduplicator().setNumBits(1 << 16)
          .fit(docs.filter("doc_id % 2 = 0")))
    plan = (op.transform(docs.filter("doc_id % 2 = 1"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan  # the broadcast-bitset probe


def test_embedding_contamination_map_only(spark):
    """The corpus pass against the broadcast benchmark matrix is one
    Arrow stage: no join, no exchange."""
    plan = _plan(spark, "embedding_contamination")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_semdedup_single_cell_shuffle(spark):
    """SemDeDup's distributed pass is one exchange on the quantizer
    cell feeding the per-cell greedy; the kept-id set joins back as a
    broadcast semi join (no second full shuffle of the data)."""
    plan = _plan(spark, "semdedup_embeddings")
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin LeftSemi" in plan.replace("\n", " ") or \
        "BroadcastHashJoin" in plan


def test_domain_divergence_data_pass_shapes(spark):
    """The token stream collapses to (group, token) counts first; the
    vocab cut is TakeOrderedAndProject; no Python anywhere."""
    plan = _plan(spark, "domain_divergence_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_line_dedup_no_expand_no_python(spark):
    """Line-frequency counting must be two explicit aggregations (no
    count-distinct Expand of the line stream) and stay JVM-side."""
    plan = _plan(spark, "line_dedup_documents")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Expand" not in plan


def test_quality_classifier_apply_jvm_side(spark):
    """The classifier APPLY (featurize + logistic score) must stay
    JVM-side — no Python evaluation in the scoring pass."""
    from flink_ml__spark.functions.curation import QualityClassifier
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", SF)
    model = (QualityClassifier().setMaxIter(5).setNumFeatures(1 << 12)
             .fit(docs.filter("doc_id % 2 = 0"),
                  docs.filter("doc_id % 2 = 1")))
    plan = (model.transform(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_sessionize_native_aggregate(spark):
    """Sessionization must plan as the native session-window AGGREGATE
    (partial merge, per-key state bounded by open sessions) — not an
    analytic sort-window funneling each key's history through one
    task, and no Python."""
    plan = _plan(spark, "sessionize_events")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "session_window" in plan or "SessionWindow" in plan
    assert "Window\n" not in plan  # no analytic WindowExec


def test_triangles_no_python_no_cartesian(spark):
    """Triangle counting plans as keyed hash joins (wedge + closing)
    — no cartesian product, no Python, and the parquet scan prunes to
    the two edge-source columns."""
    plan = _plan(spark, "triangles_events")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "event_id"}, cols


def test_assoc_single_data_pass(spark):
    """All configured pairs build their contingency tables from ONE
    scan of lineitem (the exploded-cell pattern) — adding pairs adds
    expressions, not table scans."""
    plan = _plan(spark, "assoc_lineitem")
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_corr_matrix_single_aggregation(spark):
    """All-pairs correlation is ONE scalar aggregation over ONE scan;
    the pair rows explode from the single result row — nothing
    data-sized is shuffled."""
    plan = _plan(spark, "corr_matrix_lineitem")
    assert plan.count("Scan parquet") == 1
    # scalar agg: the only exchange is the partial->final single
    # partition gather
    assert plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_corr_window_single_windowed_aggregate(spark):
    """The windowed correlation monitor folds every pair's six
    co-moment sums into ONE aggregate (streaming's single-stateful-
    aggregation shape) with no analytic window and no Python."""
    plan = _plan(spark, "corr_window_events")
    assert plan.count("Scan parquet") == 1
    assert "Window\n" not in plan      # no analytic WindowExec
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pq_encode_map_only(spark):
    """PQ encode is ONE Arrow stage over the scan — no shuffle, no
    join; the codebooks ride inside the UDF closure."""
    from flink_ml__spark.functions.similarity import ProductQuantizer
    from flink_ml__spark.sources import load_table

    emb = load_table(spark, "embeddings", SF)
    pq = (ProductQuantizer().setNumSubspaces(8).setBitsPerCode(4)
          .setSeed(42).train(emb))
    plan = (pq.transform(emb)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_pq_adc_single_exchange_no_cartesian(spark):
    """ADC top-k scans only the codes (one MapInPandas), prunes to k
    map-side (partial WindowGroupLimit), and shuffles ONCE on
    query_id for the final ranking — never a cartesian/NL join."""
    from pyspark.sql import functions as F

    from flink_ml__spark.functions.similarity import ProductQuantizer
    from flink_ml__spark.sources import load_table

    emb = load_table(spark, "embeddings", SF)
    pq = (ProductQuantizer().setNumSubspaces(8).setBitsPerCode(4)
          .setSeed(42).setK(5).train(emb))
    plan = (pq.adc_topk(emb.filter(F.col("vec_id") % 50 == 0),
                        pq.transform(emb))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "MapInPandas" in plan


def test_ivfpq_refine_never_broadcasts_corpus(spark):
    """The refine join must broadcast the CANDIDATE set; the raw
    corpus scan streams through it. A corpus-side broadcast works at
    test scale and melts at 100 TB — pin the safe shape."""
    from pyspark.sql import functions as F

    from flink_ml__spark.functions.similarity import IVFPQTopK
    from flink_ml__spark.sources import load_table

    emb = load_table(spark, "embeddings", SF)
    op = (IVFPQTopK().setK(3).setNList(8).setNProbe(4)
          .setNumSubspaces(8).setBitsPerCode(4).setSeed(42)
          .setRefineFactor(4).train(emb))
    df = op.topk(emb.filter(F.col("vec_id") % 50 == 0), emb)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both broadcast exchanges must hang off candidate/query-sized
    # inputs: every BroadcastHashJoin's build side is BuildRight and
    # the stream side keeps the parquet corpus scan
    assert "FlatMapCoGroupsInPandas" in plan   # the cell-aligned probe
    assert "BroadcastHashJoin" in plan


def test_cms_build_single_bounded_exchange(spark):
    """The sketch build shuffles pre-combined (row, col) cells only:
    Generate → partial HashAggregate → ONE exchange."""
    from flink_ml__spark.functions.sketches import CountMinSketch
    from flink_ml__spark.sources import load_table

    ev = load_table(spark, "events", SF)
    cms = CountMinSketch().setInputCol("user_id").setWidth(256)
    plan = (cms._cells(ev)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan
    assert "Generate explode" in plan


def test_cms_estimate_map_only(spark):
    """Point estimation against the broadcast matrix is one Arrow
    pass — no join, no exchange."""
    from flink_ml__spark.functions.sketches import CountMinSketch
    from flink_ml__spark.sources import load_table

    ev = load_table(spark, "events", SF)
    cms = (CountMinSketch().setInputCol("user_id").setWidth(256)
           .build(ev))
    plan = (cms.transform(ev)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_calibration_pure_catalyst(spark):
    """Reliability bins + summary: aggregates only — no Python, no
    sort, no window."""
    plan = _plan(spark, "calibration_eval_documents")
    assert "Python" not in plan
    assert "Sort" not in plan.replace("SortAggregate", "")
    plan_bins = _plan(spark, "calibration_bins_documents")
    assert "Python" not in plan_bins


def test_ewma_single_window_pass_no_python(spark):
    """EWMA is pure Catalyst window work: one exchange on the series
    key feeds both window frames; no Arrow/Python stage."""
    plan = _plan(spark, "ewma_forecast_events")
    assert "Python" not in plan
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_minhash_topk_banded_join_no_cartesian(spark):
    """Search candidates come from the band-key equi-join and the
    top-k window must plan as WindowGroupLimit (per-task k-prune
    before the exchange) — never a cartesian over documents."""
    plan = _plan(spark, "minhash_topk_documents")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_minhash_transform_plans_star_pairing(spark):
    """The dedup transform path must plan the star-pairing shape: a
    min(__id) aggregate over band buckets feeding equi-joins — never
    the bands×bands all-pairs self-join (quadratic in a true duplicate
    mega-cluster) and never a cartesian."""
    plan = _plan(spark, "dedup_minhash_documents")
    assert "min(__id" in plan, "bucket-representative aggregate missing"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_merge_single_window_pass(spark):
    plan = _plan(spark, "interval_merge_events")
    # islands: ONE window sort feeds both running aggregates, then a
    # hash aggregate — no join, no Python
    assert plan.count("Window") >= 1
    assert "Join" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_acf_one_window_operator_for_all_lags(spark):
    plan = _plan(spark, "acf_events")
    # every lag and the per-key mean/denominator ride the same
    # partitioning: Catalyst may split mean/denominator/lags into up
    # to 3 Window operators, but they share ONE key exchange — the
    # shuffle count is what survives a 100× scale-up. 2 exchanges
    # total: the bucket groupBy and the key repartition.
    assert plan.count("Window") <= 3
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "Python" not in plan


def test_rolling_features_single_window_operator(spark):
    plan = _plan(spark, "rolling_features_events")
    # all lags + all frames share one (partitionBy, orderBy) spec ->
    # exactly one Window operator, one sort underneath
    assert plan.count("Window") == 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_link_prediction_no_cartesian(spark):
    plan = _plan(spark, "link_prediction_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_outlinks_map_only_no_shuffle(spark):
    plan = _plan(spark, "outlinks_documents")
    # regexp extract + explode is a scan-stage projection: no
    # exchange anywhere, no Python
    assert "Exchange" not in plan
    assert "Generate" in plan       # the explode
    assert "Python" not in plan


def test_encoding_corruption_map_only(spark):
    plan = _plan(spark, "encoding_corruption_documents")
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_mutual_info_one_melt_pass_no_join(spark):
    plan = _plan(spark, "mutual_info_orders")
    # one Generate (the melt explode) over the data; marginals are
    # window sums over CELL-sized frames — no joins, no Python
    assert plan.count("Generate") == 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_seasonal_decompose_windows_no_join(spark):
    plan = _plan(spark, "seasonal_decompose_events")
    assert "Join" not in plan
    assert "Python" not in plan
    # (key, phase) and (key) window aggregates: at most 2 exchanges
    assert plan.count("Exchange hashpartitioning") <= 2


def test_interval_overlap_keyed_join_no_cartesian(spark):
    plan = _plan(spark, "interval_overlap_events")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_round9_ops_plan_shapes(spark):
    """Round-9 additions: code density is a zero-exchange codegen
    projection; NB scoring is ONE Arrow map pass (model broadcast in
    closure — no join, no aggregate); Holt folds each series once
    behind a single key exchange; lexical diversity is the two-agg
    unigram shape plus the join back to the input."""
    p = _plan(spark, "code_density_documents")
    assert "Exchange" not in p and "Python" not in p
    p = _plan(spark, "nb_lang_documents")
    assert "ArrowEvalPython" in p and "Exchange" not in p
    assert "Join" not in p
    p = _plan(spark, "holt_forecast_events")
    assert p.count("Exchange") == 1 and "Python" not in p
    p = _plan(spark, "lexical_diversity_documents")
    assert "Python" not in p
    assert p.count("Exchange hashpartitioning") <= 3


def test_round9_batch2_plan_shapes(spark):
    """QL retrieval probes the postings with a BROADCAST of the query
    terms and prunes top-k per task (WindowGroupLimit) — never a
    cartesian; paraphrase band mining keeps the prefix-filter
    hash-join shape; the temperature mix is aggregates only."""
    p = _plan(spark, "ql_retrieval_documents")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    p = _plan(spark, "paraphrase_pairs_documents")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    p = _plan(spark, "temperature_mix_documents")
    assert "SortMergeJoin" not in p and "Python" not in p


def test_welch_single_pass_no_join(spark):
    """Welch t: ONE conditional aggregation pass — no join, no window,
    no Python; the scan prunes to (event_type, value)."""
    plan = _plan(spark, "welch_ttest_events")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"event_type", "value"}, cols


@pytest.mark.parametrize("name", ["theilsen_events", "mann_kendall_events"])
def test_robust_trend_pairs_are_keyed_not_cartesian(spark, name):
    """Theil–Sen / Mann–Kendall pairwise pass is a key-equi self-join
    on the BUCKETED grid (≤ maxBuckets rows/key), never a cartesian;
    no Python; scan prunes to (event_type, ts, value)."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"event_type", "ts", "value"}, cols


def test_assortativity_keyed_joins_one_moment_agg(spark):
    """Assortativity: degree joins are keyed (no cartesian, no
    broadcast-nested-loop), no Python, scan prunes to the two id
    columns."""
    plan = _plan(spark, "assortativity_events")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "event_id"}, cols


def test_compaction_plan_window_partitioned_by_key(spark):
    """Compaction planning: ONE lang-partitioned window cumsum (never
    an unpartitioned global window) + one aggregation; scan prunes to
    (lang, doc_id, n_chars)."""
    plan = _plan(spark, "compaction_plan_documents")
    assert plan.count("Window") >= 1
    # the window spec must partition by lang, not run globally
    import re as _re
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("lang" in s for s in specs), specs
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"lang", "doc_id", "n_chars"}, cols


def test_kaplan_meier_windows_on_duration_grid(spark):
    """KM: the subject prep is one keyed aggregation; the cumulative
    windows run AFTER the distinct-duration grid aggregation (grid-
    sized, bounded), and the scan prunes to the three prep columns."""
    plan = _plan(spark, "kaplan_meier_events")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "event_type"}, cols


def test_bootstrap_is_one_aggregation_no_explode_of_data(spark):
    """Poisson bootstrap: 64 replicas = 128 extra aggregate
    expressions in ONE partial+final aggregation — no join, no B×
    row explode of the data (the only Generate runs on the single
    result row), no Python."""
    plan = _plan(spark, "bootstrap_ci_events")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # exactly one scan; the explode happens above the 1-row aggregate
    assert plan.count("Scan parquet") == 1
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"event_id", "value"}, cols


def test_overlap_sketches_single_pass_no_join(spark):
    """HLL overlap: all six sketches/exact counts fold in ONE
    aggregation over ONE scan — no join, no second pass."""
    plan = _plan(spark, "overlap_invariants_events")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"event_type", "user_id"}, cols


def test_conformal_model_broadcasts_q_table(spark):
    """Conformal apply/evaluate joins the group-sized q_hat table via
    broadcast; the calibration sort-window partitions by group."""
    plan = _plan(spark, "conformal_events")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_welch_window_single_aggregate_no_buffering(spark):
    """Windowed Welch: ONE hash aggregation (partial+final pair) over
    the windowed groupBy — never a WindowExec buffering rows; t/dof
    are projections."""
    plan = _plan(spark, "welch_window_events")
    assert "Window\n" not in plan  # no row-buffering window operator
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"ts", "event_type", "value"}, cols


def test_cuped_two_aggregations_no_window(spark):
    """CUPED: unit prep (one keyed agg) + one 1-row conditional-moment
    agg — no window, no join, no Python; scan prunes to
    (user_id, ts, value)."""
    plan = _plan(spark, "cuped_events")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "value"}, cols


def test_session_paths_keyed_windows_bounded_top(spark):
    """Session paths: per-key lag/cumsum windows (never unpartitioned
    over events), prefix filter before the collect, bounded top-N."""
    import re as _re
    plan = _plan(spark, "session_paths_events")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    # every window over the event stream partitions by the session key;
    # the one global window ranks the path-count table (path-grouped,
    # bounded), recognizable by ordering on n_sessions
    for s in specs:
        assert ("__k" in s) or ("n_sessions" in s), s


@pytest.mark.parametrize("name", ["did_events", "covariate_balance_events"])
def test_experiment_readouts_single_pass(spark, name):
    """DiD / covariate balance: conditional-moment aggregations — no
    window over raw rows (balance melts then aggregates), no Python,
    pruned scans."""
    plan = _plan(spark, name)
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "value"}, cols


def test_rbo_bounded_explode_keyed_joins(spark):
    """RBO: the sequence explode runs on the MATCHED top-k pairs (≤
    depth² rows per query), all joins keyed, no Python."""
    plan = _plan(spark, "rbo_events")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan  # top-k rankings use group-limit
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"event_type", "user_id", "value"}, cols


def test_heaps_no_data_sized_window(spark):
    """Heaps: the only window runs over the ≤numPoints bucket table;
    the data-sized stages are two hash aggregations."""
    import re as _re
    plan = _plan(spark, "heaps_documents")
    assert "BatchEvalPython" not in plan
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    # the cumulative window orders by the bucket id only
    assert specs and all("__b" in s for s in specs), specs
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"doc_id", "text"}, cols


def test_fdr_windows_run_on_test_battery(spark):
    """BH windows are unpartitioned BY DESIGN but must run on the KS
    window battery (≤ days rows), after the data-sized windowed
    aggregation — the plan has the single watermark-style aggregate
    below and the rank windows above."""
    plan = _plan(spark, "fdr_events")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_forecast_accuracy_one_lag_window_one_agg(spark):
    """Forecast rollup: naive-lag window partitions by the series key;
    one aggregation; no Python."""
    import re as _re
    plan = _plan(spark, "forecast_accuracy_events")
    assert "BatchEvalPython" not in plan
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("user_id" in s for s in specs), specs


@pytest.mark.parametrize("name", ["logrank_events", "weibull_events"])
def test_survival_windows_on_duration_grid(spark, name):
    """Log-rank / Weibull: subject prep is one keyed agg; all
    cumulative windows run on the distinct-duration grid."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "event_type"}, cols


@pytest.mark.parametrize("name", ["srm_window_events", "mde_events"])
def test_srm_mde_single_aggregates(spark, name):
    """SRM / MDE: conditional-count/moment aggregations only — no
    join, no row-buffering window, no Python."""
    plan = _plan(spark, name)
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "value"}, cols


def test_truncation_audit_one_pass_no_shuffle_of_vectors(spark):
    """Truncation audit: one scalar aggregation over one scan; the
    per-budget rows explode from the single result row."""
    plan = _plan(spark, "truncation_audit_embeddings")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"embedding"}, cols


def test_anisotropy_no_pairs(spark):
    """Anisotropy: the identity keeps it pair-free — posexplode + one
    D-sized aggregation; no self-join anywhere."""
    plan = _plan(spark, "anisotropy_embeddings")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_kn_bigram_apply_is_one_arrow_pass(spark):
    """KN LM apply: fitted dicts in an Arrow pandas_udf closure — ONE
    ArrowEvalPython over the scan, zero joins/shuffles at apply."""
    plan = _plan(spark, "kn_bigram_documents")
    assert plan.count("ArrowEvalPython") == 1
    assert "SortMergeJoin" not in plan


def test_conversion_lag_no_join_one_keyed_window(spark):
    """Conversion lag: the next-target lookup is a per-key window, not
    a self-join — no join operator, no Python, pruned scan."""
    import re as _re
    plan = _plan(spark, "conversion_lag_events")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("__k" in s for s in specs), specs
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "event_type"}, cols


def test_merge_stats_single_outer_join(spark):
    """MERGE audit: ONE full-outer equi-join on the key; change
    detection is a map-side fingerprint projection; no Python."""
    plan = _plan(spark, "merge_stats_orders")
    assert plan.count("SortMergeJoin FullOuter") == 1 \
        or "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_fk_check_distinct_keys_before_anti_join(spark):
    """FK audit: children aggregate to distinct keys BEFORE the
    anti-join — the plan shows aggregates feeding LeftAnti joins, and
    never shuffles raw child rows into the join."""
    plan = _plan(spark, "fk_check_orders")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_rouge_keyed_gram_joins_no_cartesian(spark):
    """ROUGE pairs: gram tables join on (pair id, n, gram) keys — no
    cartesian, no Python; scan prunes to (doc_id, text)."""
    plan = _plan(spark, "rouge_documents")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"doc_id", "text"}, cols


def test_audio_silence_single_arrow_pass(spark):
    """Silence detection: ONE mapInPandas (Arrow) pass over the
    payloads — no joins, no shuffle before the stats."""
    plan = _plan(spark, "audio_silence_documents")
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan


def test_qini_fitted_edges_no_global_sort(spark):
    """Uplift/Qini: buckets come from fitted quantile literals — the
    only window runs over the ≤numBins bucket table, never a global
    row_number over units."""
    import re as _re
    plan = _plan(spark, "qini_events")
    assert "BatchEvalPython" not in plan
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("__b" in s for s in specs), specs
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "value", "event_type"}, cols


def test_ratio_metric_single_pass(spark):
    """Ratio metric: unit prep + ONE conditional-moment aggregation —
    no join, no window, no Python."""
    plan = _plan(spark, "ratio_metric_events")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "value", "event_type"}, cols


def test_ratio_window_single_aggregate(spark):
    """Windowed ratio guardrail: ONE watermark-compatible aggregation,
    no buffering window operator, no join."""
    plan = _plan(spark, "ratio_window_events")
    assert "Join" not in plan
    assert "Window\n" not in plan
    assert "BatchEvalPython" not in plan


def test_rank_gauss_apply_is_pure_projection(spark):
    """Rank-Gauss apply: edges + z table folded as literals — no join,
    no window, no Python above the scan."""
    plan = _plan(spark, "rank_gauss_lineitem")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"l_orderkey", "l_linenumber",
                        "l_extendedprice"}, cols


@pytest.mark.parametrize("name", ["k_anonymity_events", "lorenz_events"])
def test_privacy_concentration_bounded_windows(spark, name):
    """k-anonymity / Lorenz: one class/bucket aggregation; the windows
    (cumulative + totals) run AFTER that aggregation, so they see the
    bounded class/bucket table, never raw rows."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    if "Window" in plan:
        # the plan prints top-down: a Window CONSUMING the bucket
        # aggregate appears before its HashAggregate child
        assert plan.index("Window") < plan.index("HashAggregate")
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"event_type", "user_id", "value"}, cols


def test_qq_single_aggregation_both_grids(spark):
    """QQ table: both conditional quantile grids come from ONE
    aggregation over ONE scan; per-probability rows explode from the
    single result row."""
    plan = _plan(spark, "qq_events")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_eb_rates_group_table_only(spark):
    """EB shrinkage: the prior fit and the posterior projection both
    run on the GROUP table — one group aggregation is the only
    data-sized stage; the prior's literals fold into the plan."""
    plan = _plan(spark, "eb_rates_events")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"event_type", "user_id", "value"}, cols


def test_ltv_no_data_sized_window(spark):
    """Cohort LTV: the cumulative window partitions by cohort over the
    densified CELL table; the event-volume work is hash aggregations;
    no cartesian, no Python."""
    import re as _re
    plan = _plan(spark, "ltv_events")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("__c" in s for s in specs), specs
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"user_id", "ts", "value"}, cols


@pytest.mark.parametrize("name", ["ess_documents", "chao1_documents"])
def test_corpus_summary_single_aggregations(spark, name):
    """ESS / Chao1: hash aggregations + a 1-row fold — no window over
    raw rows, no join, no Python."""
    plan = _plan(spark, name)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_source_diversity_single_pass(spark):
    """Mixture diversity: one group aggregation + 1-row fold."""
    plan = _plan(spark, "source_diversity_documents")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    for schema in _read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols <= {"source"}, cols


def test_minhash_band_table_single_signature_pass(spark):
    """band_table projects the minhash signature ONCE; the per-band
    slices must reference the projected column, not re-inline the
    numHashes transform+array_min pipeline into every band struct
    (that duplication is bands x numHashes HOF evaluations per row —
    measured 20.6 s -> 3.8 s on minhash_topk_documents at sf0.1)."""
    from flink_ml__spark.functions.dedup import MinHashDeduplicator
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    d = (MinHashDeduplicator().setSeed(42)
         .setNumHashes(12).setBands(12))
    bands = d.band_table(d.hashed_table(docs))
    plan = bands._jdf.queryExecution().optimizedPlan().toString()
    n = plan.count("array_min")
    assert n == 12, f"signature re-inlined: {n} array_min evals/row"


def test_no_engine_divergent_rounding_in_gates():
    """Pin the round-10 parity discipline: gate outputs and rankings
    must quantize with floor(x*10^n + 0.5) (cross-engine-stable IEEE
    ops), never two-arg round(), whose Spark/DuckDB implementations
    disagree on boundary values even for bit-identical inputs. The
    engineered exceptions (seasonal_decompose's decimal-tie oracle,
    single-arg integer cent-scaling) are whitelisted by count."""
    import os
    import re

    qpath = os.path.join(os.path.dirname(__file__), "..",
                         "flink_ml__spark", "plans", "queries.py")
    src = open(qpath).read()
    # Spark side: two-arg F.round is allowed only in the
    # seasonal_decompose gate (2 sites) and integer cent-scaling
    # F.round(col) single-arg (not matched here)
    spark_sites = re.findall(r"F\.round\([^()]*(?:\([^()]*\))*[^()]*,",
                             src)
    assert len(spark_sites) <= 2, spark_sites
    # SQL side: two-arg round( is allowed only in the
    # seasonal_decompose oracle (2 sites, DECIMAL-cast tie-matching)
    sql_sites = [m for m in re.findall(
        r"(?<![\w.])round\([^\n]*,\s*(?:\{R\}|\d+)\)", src)]
    assert len(sql_sites) <= 2, sql_sites[:5]


def test_no_uncast_sum_outputs_in_oracles():
    """Static complement to test_oracles.py's runtime dtype lint: an
    oracle output item that IS a bare `sum(...) [OVER (...)] AS x`
    widens to HUGEINT in DuckDB and lands as pandas float64 "123.0"
    against Spark's bigint "123" (the r09/r10 hash-fail class) —
    cast it ::BIGINT (integer sums) or ::DOUBLE (explicit float).
    Only direct final-SELECT items are statically checkable; sums
    that flow out through CTE aliases (3 of the 4 real r10 bugs) are
    caught by the runtime per-column dtype-class check instead."""
    import re

    from flink_ml__spark.plans import ORACLES

    def final_select_items(sql):
        depth, last_sel = 0, -1
        for m in re.finditer(r"(?i)\bSELECT\b|\(|\)", sql):
            t = m.group(0)
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0:
                last_sel = m.end()
        seg = sql[last_sel:]
        depth, end = 0, len(seg)
        for m in re.finditer(r"(?i)\bFROM\b|\(|\)", seg):
            t = m.group(0)
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0:
                end = m.start()
                break
        items, depth, cur = [], 0, []
        for ch in seg[:end]:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                items.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if cur:
            items.append("".join(cur))
        return [i.strip() for i in items if i.strip()]

    bare = re.compile(
        r"(?is)^sum\(.*\)\s*(?:OVER\s*\(.*\)\s*)?AS\s+\w+$")
    floaty = re.compile(r"(?i)::DOUBLE|::BIGINT|::INT|/|\^"
                        r"|floor\(|avg\(|ln\(|exp\(|sqrt\(")
    bad = []
    for name, sql in ORACLES.items():
        for it in final_select_items(sql):
            if bare.match(it) and not floaty.search(it):
                bad.append((name, " ".join(it.split())[:90]))
    assert not bad, (
        f"uncast sum() oracle outputs (cast ::BIGINT or ::DOUBLE): {bad}")


def test_boilerplate_single_arrow_pass(spark):
    """r12 pin: BoilerplateFractionScorer.transform must evaluate the
    Arrow shingle pass ONCE (cached) — the naive plan ran it 3x (both
    join branches + the common_table branch; no UDF CSE across
    branches or explode's size filter). Every branch must read the
    InMemoryRelation; the plan outside the cache build must contain
    no ArrowEvalPython."""
    from flink_ml__spark.functions.curation import BoilerplateFractionScorer
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", SF)
    sc = BoilerplateFractionScorer().setShingleSize(3).setMinDf(2)
    plan = (sc.transform(docs)._jdf.queryExecution()
            .executedPlan().toString())
    imts = plan.count("InMemoryTableScan")
    arrow = plan.count("ArrowEvalPython")
    # all three consumer branches must read the cache; the only Arrow
    # mentions allowed are the cached build plan reprinted under each
    # scan (<= 2 per scan: AQE initial + final plan sections)
    assert imts == 3, f"expected 3 cache reads, saw {imts}"
    assert arrow <= 2 * imts, (imts, arrow)


def test_coverage_pair_table_single_arrow_pass(spark):
    """r12 pin: GreedyCoverageSelector.pair_table uses the direct
    explode(udf()) shape — exactly ONE ArrowEvalPython, no generated
    size filter re-evaluating the UDF."""
    from flink_ml__spark.functions.curation import GreedyCoverageSelector
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", SF)
    pt = GreedyCoverageSelector().pair_table(docs)
    plan = pt._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan[:800]


def test_bootstrap_default_is_arrow_partials(spark):
    """r12 pin: PoissonBootstrapper defaults to the Arrow-partials
    plan (mapInPandas partial sums; 2.56x isolated) — the fused
    128-aggregate janino-bound plan stays opt-in."""
    from flink_ml__spark.functions.stats import PoissonBootstrapper
    from flink_ml__spark.sources import load_table

    ev = load_table(spark, "events", SF)
    op = (PoissonBootstrapper().setIdCol("event_id")
          .setValueCol("value").setNumReplicas(8))
    plan = (op.evaluate(ev)._jdf.queryExecution()
            .optimizedPlan().toString())
    assert "mapInPandas" in plan or "MapInPandas" in plan, plan[:500]
