"""Structured Streaming wrappers for the online operators.

The reference's streaming surface is (a) windowed scoring with emission
when the event-time window fires (``OnlineAHP.java:67-71``) and (b) model
application with buffering of rows that arrive before their window's model
(``OnlineTopsisModel.java:131-163``).

Spark-first mapping:

* ``stream_online_ahp`` — a watermarked streaming aggregation keyed by
  the tumbling ``F.window``: each open window keeps its rows
  (``collect_list``) and per-column min/max in the state store; when the
  watermark passes the window end, one projection folds the window's
  column sums over those rows and scores every row with the batch
  operator's SQL kernel (``operators.ahp``), emitted in append mode. This
  is the ``windowAllAndProcess`` contract with watermark-driven firing,
  parallel across windows and with no Python on the per-trigger path.
* ``stream_online_topsis_apply`` — a stream-static broadcast range join
  against the fitted model table: the declarative form of
  buffer-until-model when the model is available up front
  (``stream_online_topsis_apply_streams`` takes the models as a stream
  too: a stream-stream join keyed by window index).

The window monitors run their batch evaluators per window: the same
row filter, aggregates and readout (``_stats()``), or the same fitted
drift profile, so each statistic has one copy for batch and stream.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_ml__spark.base import sql_ident
from flink_ml__spark.operators.ahp import (
    OnlineAHP,
    ahp_norm_sql,
    ahp_plogp_sql,
    window_score_sql,
)
from flink_ml__spark.operators.online_topsis import OnlineTopsisModel


_UNITS_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
             "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000}


def _interval_ms(spec: str) -> int:
    """Parse a (possibly compound) tumbling-window interval like
    '3 days' or '90 minutes 30 seconds' to milliseconds.

    Supported grammar (verified identical to what ``F.window`` accepts
    on the batch path in this Spark version): one or more
    ``<integer> <unit>`` pairs, units ``millisecond second minute hour
    day week`` with optional trailing 's'. Fractional counts
    ('1.5 hours') and abbreviations ('90 sec') are rejected by BOTH
    paths — `F.window('1.5 hours')` is CANNOT_PARSE_INTERVAL — so a
    spec accepted here can never diverge from its batch twin."""
    parts = spec.strip().split()
    if not parts or len(parts) % 2:
        raise ValueError(f"cannot parse window interval {spec!r}")
    total = 0
    for i in range(0, len(parts), 2):
        if not parts[i].isdigit():
            raise ValueError(f"cannot parse window interval {spec!r}")
        unit = parts[i + 1].lower().rstrip("s")
        if unit not in _UNITS_MS:
            raise ValueError(
                f"unsupported window interval unit {parts[i + 1]!r} "
                f"in {spec!r}")
        total += int(parts[i]) * _UNITS_MS[unit]
    return total


def _per_window(src: DataFrame, time_col: str, window: str,
                watermark_delay: str, aggs: list, readout: list
                ) -> DataFrame:
    """Run an aggregate list per event-time window: the watermark, one
    ``groupBy(F.window)``, then ``window_start``, ``window_end`` and the
    readout columns over each window's aggregates. This is how the
    window monitors run their batch evaluators' ``_stats()``; on a
    batch frame the watermark is a no-op and every window fires."""
    return (src.withWatermark(time_col, watermark_delay)
            .groupBy(F.window(F.col(time_col), window).alias("__w"))
            .agg(*aggs)
            .select(F.col("__w.start").alias("window_start"),
                    F.col("__w.end").alias("window_end"), *readout))


def _window_psi(stream_df: DataFrame, time_col: str, window: str,
                watermark_delay: str, profile: list) -> DataFrame:
    """PSI per event-time window and column against a fitted drift
    profile: ``profile`` lists (column, label expression, [(label,
    n_ref)]) — each row's bucket or category, and the reference count
    of every label. Each label is materialized ONCE as a named
    projection (re-embedding the expression inside every conditional
    sum would multiply expression nodes in the hot stateful aggregate);
    the per-label counts fold into the one windowed aggregation as
    conditional sums, and the PSI arithmetic is a pure projection over
    its O(windows) output — inside streaming's single-aggregation
    constraint."""
    from flink_ml__spark.functions.drift import _FLOOR, drift_level

    labelled = stream_df.select(
        F.col(time_col),
        *[lab.alias(f"__l{i}") for i, (_c, lab, _r) in enumerate(profile)])
    aggs, proj = [], []
    for i, (c, _lab, ref) in enumerate(profile):
        lc = F.col(f"__l{i}")
        aggs += [F.sum((lc == F.lit(key)).cast("bigint"))
                 .alias(f"__n{i}_{j}") for j, (key, _n) in enumerate(ref)]
        aggs.append(F.count(lc).alias(f"__t{i}"))
        tot = F.greatest(F.col(f"__t{i}"), F.lit(1))
        ref_tot = max(sum(n for _k, n in ref), 1)
        psi = F.lit(0.0)
        for j, (_key, n_ref) in enumerate(ref):
            p_cur = F.greatest(F.col(f"__n{i}_{j}") / tot, F.lit(_FLOOR))
            pr = F.lit(max(n_ref / ref_tot, _FLOOR))
            psi = psi + (p_cur - pr) * F.log(p_cur / pr)
        proj.append(F.struct(F.lit(c).alias("column"),
                             F.col(f"__t{i}").alias("n_rows"),
                             psi.alias("psi")))
    return (_per_window(labelled, time_col, window, watermark_delay, aggs,
                        [F.explode(F.array(*proj)).alias("r")])
            .select("window_start", "window_end", "r.*")
            .withColumn("drift_level", drift_level(F.col("psi"))))


def stream_online_ahp(stream_df: DataFrame, op: OnlineAHP,
                      watermark_delay: str = "0 seconds") -> DataFrame:
    """Windowed AHP scoring over a streaming DataFrame.

    Emits input columns + ``outputCol`` once per closed window (append
    mode). ``op`` must have a tumbling ``windows`` interval set.
    """
    cols, ahp_w = op._prepare()
    types = op.getIndicatorType()
    windows = op.getWindows()
    if windows in (None, "global"):
        raise ValueError("streaming OnlineAHP requires a tumbling window")
    time_col = op.getTimeCol()
    names = [sql_ident(c) for c in stream_df.columns]
    n = len(cols)
    x = [f"CAST({sql_ident(c)} AS DOUBLE)" for c in cols]

    # state per open window: its rows plus the per-column min/max
    agg = (stream_df.withWatermark(time_col, watermark_delay)
           .groupBy(F.window(time_col, windows))
           .agg(F.expr(f"collect_list(struct({', '.join(names)})) AS __rows"),
                *[F.expr(f"min({x[j]}) AS __mn_{j}") for j in range(n)],
                *[F.expr(f"max({x[j]}) AS __mx_{j}") for j in range(n)]))

    # when a window fires, one projection folds S_j and T_j over its rows
    # (skipping NULL terms as sum() does) into the accumulator ``a``,
    # then scores every row ``r`` with the batch operator's kernel
    nm = [ahp_norm_sql(f"CAST(r.{sql_ident(c)} AS DOUBLE)", f"__mn_{j}",
                       f"__mx_{j}", types[j] == 1)
          for j, c in enumerate(cols)]

    def fold(acc, term):
        return f"coalesce(coalesce({acc}, 0.0D) + {term}, {acc})"

    zero = ", ".join(f"'s{j}', CAST(NULL AS DOUBLE), "
                     f"'t{j}', CAST(NULL AS DOUBLE)" for j in range(n))
    step = ", ".join(f"'s{j}', {fold(f'a.s{j}', nm[j])}, "
                     f"'t{j}', {fold(f'a.t{j}', ahp_plogp_sql(nm[j]))}"
                     for j in range(n))
    score = window_score_sql(nm, [f"a.s{j}" for j in range(n)],
                             [f"a.t{j}" for j in range(n)], ahp_w)
    row = ", ".join(f"r.{c} AS {c}" for c in names)
    return agg.select(F.expr(
        f"inline(aggregate(__rows, named_struct({zero}), "
        f"(a, r) -> named_struct({step}), "
        f"a -> transform(__rows, r -> struct({row}, "
        f"{score} AS {sql_ident(op.getOutputCol())}))))"))


def stream_exact_dedup(stream_df: DataFrame, time_col: str,
                       input_col: str = "text",
                       watermark_delay: str = "0 seconds") -> DataFrame:
    """Streaming exact dedup: keep the first document per normalized-text
    fingerprint, with state expiring past the watermark horizon —
    ``dropDuplicates`` on the md5 key is the declarative form; Spark
    scopes the dedup state to the watermark so it stays bounded on an
    unbounded stream (the property batch dedup cannot give you)."""
    from flink_ml__spark.functions.text import Fingerprinter

    fp = F.md5(Fingerprinter.normalized(F.col(input_col)))
    return (stream_df
            .withWatermark(time_col, watermark_delay)
            .withColumn("__fp", fp)
            .dropDuplicatesWithinWatermark(["__fp"])
            .drop("__fp"))


def stream_corpus_monitor(stream_df: DataFrame, time_col: str,
                          window: str = "1 minute",
                          group_col: str = "lang",
                          input_col: str = "text",
                          watermark_delay: str = "0 seconds") -> DataFrame:
    """Windowed ingest-quality monitoring: per event-time window and
    ``group_col`` value, document counts plus mean quality score and
    mean token count — the data-quality dashboard feed every curation
    ingest runs alongside the pipeline itself.

    Declarative watermark + tumbling-window aggregation: the quality
    scorer is a pure projection (no Python), so the whole plan is the
    canonical streaming partial+final aggregate with state bounded by
    the watermark. Output columns: ``window_start``, ``window_end``,
    the group column, ``n_docs``, ``mean_quality``, ``mean_tokens``.
    Runs identically on a batch frame (windows fire immediately)."""
    from flink_ml__spark.functions.text import QualityScorer, TokenCounter

    scored = (TokenCounter().setInputCol(input_col)
              .setOutputCol("__n_toks").transform(
                  QualityScorer().setInputCol(input_col)
                  .transform(stream_df)))
    win = F.window(F.col(time_col), window)
    return (scored
            .withWatermark(time_col, watermark_delay)
            .groupBy(win.alias("__w"), F.col(group_col))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.avg("quality_score").alias("mean_quality"),
                 F.avg("__n_toks").alias("mean_tokens"))
            .select(F.col("__w.start").alias("window_start"),
                    F.col("__w.end").alias("window_end"),
                    group_col, "n_docs", "mean_quality", "mean_tokens"))


def stream_expectation_monitor(stream_df: DataFrame, time_col: str,
                               validator, window: str = "1 minute",
                               watermark_delay: str = "0 seconds"
                               ) -> DataFrame:
    """Windowed data-quality monitoring: per event-time window and
    expectation rule, the violation count and window row count — the
    live ingest gate a 100 TB pipeline runs next to its batch
    :class:`~flink_ml__spark.functions.linkage.ExpectationValidator`.

    Takes the SAME validator object the batch gate uses, so the rule
    definitions exist exactly once. Row-local rules (not_null /
    range / regex) fold into the windowed aggregate as boolean sums —
    one stateful partial+final aggregation, state bounded by the
    watermark. ``referential`` rules join the stream against the
    broadcast DISTINCT dimension keys (a stream-static left join —
    supported, stateless on the stream side) before the aggregate.
    ``unique`` rules need cross-batch state proportional to the key
    space and are rejected — run those in the batch gate.

    Output: ``window_start``, ``window_end``, ``rule``, ``rule_type``,
    ``n_violations``, ``n_rows``. Runs identically on a batch frame
    (windows fire immediately) — the batch run IS the oracle-gated
    query, the stream run the parity-tested twin.
    """
    if validator._unique_rules:
        raise ValueError(
            "unique rules need cross-batch state keyed by every value "
            "seen — run them in the batch ExpectationValidator")

    viols = list(validator._row_rules)
    df = stream_df
    for name, col, dim, dim_col in validator._ref_rules:
        marker = f"__ref_{name}"
        keys = F.broadcast(dim.select(F.col(dim_col).alias(col))
                           .distinct().withColumn(marker, F.lit(True)))
        df = df.join(keys, col, "left")
        viols.append((name, "referential",
                      F.col(col).isNotNull() & F.col(marker).isNull()))
    if not viols:
        raise ValueError("validator has no streamable rules")

    stack = F.explode(F.array(*[
        F.struct(F.lit(n).alias("rule"), F.lit(t).alias("rule_type"),
                 F.coalesce(F.col(f"__v{i}"), F.lit(0))
                  .alias("n_violations"))
        for i, (n, t, _v) in enumerate(viols)])).alias("r")
    return (_per_window(df, time_col, window, watermark_delay,
                        [F.count(F.lit(1)).alias("n_rows"),
                         *[F.sum(v.cast("bigint")).alias(f"__v{i}")
                           for i, (_n, _t, v) in enumerate(viols)]],
                        [F.col("n_rows"), stack])
            .select("window_start", "window_end", "r.*", "n_rows"))


def stream_drift_monitor(stream_df: DataFrame, time_col: str,
                         monitor, reference: DataFrame,
                         window: str = "1 minute",
                         watermark_delay: str = "0 seconds"
                         ) -> DataFrame:
    """Windowed PSI drift against a static reference — the live twin
    of :class:`~flink_ml__spark.functions.drift.DriftMonitor`: per
    event-time window and monitored column, how far the window's
    distribution sits from the reference snapshot the model/pipeline
    was calibrated on.

    Takes the SAME DriftMonitor object (columns + bucket count) the
    batch report uses, and folds the profile ``monitor.fit(reference)``
    builds — its quantile edges and reference histogram, two bounded
    jobs on the static side at plan-build time. The stream then needs
    exactly ONE stateful aggregation: per-bucket counts fold into the
    windowed groupBy as conditional sums, and the PSI arithmetic runs
    as a pure projection over that O(windows) output.

    Output: ``window_start``, ``window_end``, ``column``, ``n_rows``
    (non-null values of that column in the window), ``psi``,
    ``drift_level``. Runs identically on a batch frame — the batch
    run is the oracle-gated query, the stream run the parity-tested
    twin.
    """
    return _window_psi(stream_df, time_col, window, watermark_delay,
                       monitor.fit(reference)._profile())


def stream_categorical_drift_monitor(stream_df: DataFrame,
                                     time_col: str, monitor,
                                     reference: DataFrame,
                                     window: str = "1 minute",
                                     watermark_delay: str = "0 seconds"
                                     ) -> DataFrame:
    """Windowed categorical PSI against a static reference — the live
    twin of :class:`~flink_ml__spark.functions.drift
    .CategoricalDriftMonitor`, same split as the numeric pair: the
    batch ``report`` is the oracle-gated query, this the
    parity-tested stream.

    Takes the SAME CategoricalDriftMonitor (columns + vocabulary
    cap) and folds the profile ``monitor.fit(reference)`` builds —
    the vocabulary and reference category counts, O(cols ·
    maxCategories) literals. Every window maps its values by the
    fitted model's rule (a value outside the vocabulary, NULL
    included unless ``__null__`` made the vocabulary, is
    ``__other__``), so a window's PSI is the batch ``summary`` of
    that window. The stream pays exactly ONE stateful windowed
    aggregation — per-category counts fold in as conditional sums —
    and the PSI arithmetic is a pure projection over the O(windows)
    output. A brand-new category in a window folds into
    ``__other__``, which is the schema-drift signal the batch side
    reports too.

    Output: ``window_start, window_end, column, n_rows, psi,
    drift_level`` — one row per (window, column).
    """
    return _window_psi(stream_df, time_col, window, watermark_delay,
                       monitor.fit(reference)._profile())


def stream_domain_balance(stream_df: DataFrame, balancer,
                          reference: DataFrame) -> DataFrame:
    """Composition-controlled sampling of a live stream — the
    streaming twin of :class:`~flink_ml__spark.functions.curation
    .DomainBalancer`: per-group keep thresholds are calibrated ONCE
    on a static reference snapshot (one O(groups) aggregate at
    plan-build time), then the stream pays a pure broadcast join +
    hash-threshold filter per micro-batch — map-only, no state, so
    it composes with any downstream windowed aggregate.

    Exact-quota semantics do not exist on an unbounded stream; this
    is the rate calibration that does: each group is kept at the
    fraction the reference's composition implies, binomial around
    the quota exactly like the batch operator. Re-plan (restart the
    query) to re-calibrate against a fresh reference.
    """
    stats = balancer._stats(reference)
    # fold the O(groups) thresholds to literals via collect so the
    # stream side carries no lineage onto the reference scan
    rows = stats.collect()
    spark = reference.sparkSession
    lit_stats = spark.createDataFrame(rows, stats.schema)
    return balancer.keep(stream_df, lit_stats)


def stream_weighted_sample(stream_df: DataFrame, sampler,
                           reference: DataFrame) -> DataFrame:
    """Weight-biased filtering of a live stream — the streaming twin
    of :class:`~flink_ml__spark.functions.curation.WeightedSampler`
    (Efraimidis-Spirakis keys). A global exact-n draw does not exist
    on an unbounded stream; the calibrated analogue does: the
    reference snapshot's n-th ranked ``sample_key`` becomes a literal
    acceptance threshold, and the stream keeps rows whose key clears
    it — per-row inclusion odds identical to the batch draw's margin,
    map-only, no state. Ties AT the threshold are kept (the stream
    can only widen, never bias, the cut). Appends ``sample_key``.
    """
    kept = sampler.transform(reference).select(
        (F.floor((F.col("sample_key")) * 1e12 + 0.5) / 1e12).alias("__k"))
    tau = kept.agg(F.min("__k").alias("t")).collect()[0]["t"]
    if tau is None:
        raise ValueError("reference yielded no sampleable rows "
                         "(all weights NULL/non-positive?)")
    idc = sampler.getIdCol()
    w = F.col(sampler.getWeightCol()).cast("double")
    from flink_ml__spark.functions.dedup import portable_hash60

    h = portable_hash60(F.concat(F.lit(sampler.getSalt() + ":"),
                                 F.col(idc).cast("string")))
    u = (h + 1) / F.lit(sampler.U_DENOM)
    key = F.log(u) / w
    return (stream_df.filter(w.isNotNull() & (w > 0))
            .withColumn("sample_key", key)
            .filter((F.floor((F.col("sample_key")) * 1e12 + 0.5) / 1e12) >= F.lit(tau)))


def stream_correlation_monitor(stream_df: DataFrame, time_col: str,
                               pairs: list, window: str = "1 minute",
                               watermark_delay: str = "0 seconds"
                               ) -> DataFrame:
    """Windowed Pearson correlation between numeric column pairs —
    the live twin of :class:`~flink_ml__spark.functions.stats.
    CorrelationMatrix`: per event-time window, is the relationship
    between two metrics (latency vs payload size, price vs quantity)
    holding, drifting, or inverting?

    ``pairs`` is a list of ``(x, y)`` column-name tuples. Output:
    ``window_start``, ``window_end``, ``pair`` ("x:y"), ``n`` (rows
    with both sides non-null), ``corr`` (NULL when either side is
    constant in the window — the SQL ``corr`` contract). Rows where
    either side is NULL are excluded per pair.

    100 TB design: ONE watermarked windowed aggregation carries the
    six co-moment sums per pair (n, Σx, Σy, Σx², Σy², Σxy — each a
    map-side-partial conditional sum); the correlation arithmetic is
    a pure projection over O(windows) rows, which keeps the plan
    inside streaming's single-aggregation constraint. State per open
    window is O(pairs) doubles. Runs identically on a batch frame —
    the batch run is the oracle-gated query, the stream run the
    parity-tested twin.
    """
    # materialize the pair projections once (named columns) so the
    # conditional sums don't re-embed the both-non-null masks
    proj_cols = [F.col(time_col)]
    for i, (x, y) in enumerate(pairs):
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        proj_cols.append(F.when(both, F.col(x).cast("double"))
                         .alias(f"__x_{i}"))
        proj_cols.append(F.when(both, F.col(y).cast("double"))
                         .alias(f"__y_{i}"))
    masked = stream_df.select(*proj_cols)

    aggs = []
    for i in range(len(pairs)):
        xc, yc = F.col(f"__x_{i}"), F.col(f"__y_{i}")
        aggs += [
            F.count(xc).alias(f"__n_{i}"),
            F.sum(xc).alias(f"__sx_{i}"),
            F.sum(yc).alias(f"__sy_{i}"),
            F.sum(xc * xc).alias(f"__sxx_{i}"),
            F.sum(yc * yc).alias(f"__syy_{i}"),
            F.sum(xc * yc).alias(f"__sxy_{i}"),
        ]
    outs = []
    for i, (x, y) in enumerate(pairs):
        n = F.col(f"__n_{i}").cast("double")
        sx, sy = F.col(f"__sx_{i}"), F.col(f"__sy_{i}")
        cov_n = F.col(f"__sxy_{i}") * n - sx * sy
        vx_n = F.col(f"__sxx_{i}") * n - sx * sx
        vy_n = F.col(f"__syy_{i}") * n - sy * sy
        corr = F.when((vx_n > 0) & (vy_n > 0),
                      cov_n / F.sqrt(vx_n * vy_n))
        outs.append(F.struct(F.lit(f"{x}:{y}").alias("pair"),
                             F.col(f"__n_{i}").alias("n"),
                             corr.alias("corr")))
    return (_per_window(masked, time_col, window, watermark_delay, aggs,
                        [F.explode(F.array(*outs)).alias("r")])
            .select("window_start", "window_end", "r.*"))


def stream_cardinality_monitor(stream_df: DataFrame, time_col: str,
                               key_col: str = "user_id",
                               group_col: str = "event_type",
                               window: str = "1 minute",
                               rsd: float = 0.05,
                               watermark_delay: str = "0 seconds") -> DataFrame:
    """Windowed distinct-cardinality monitoring: per event-time window
    and ``group_col`` value, the approximate number of distinct
    ``key_col`` values (plus the raw event count) — live unique-users /
    unique-documents dashboards over an unbounded stream.

    The sketch is the point: exact distinct counting on a stream
    requires state proportional to the keys seen per open window, while
    ``approx_count_distinct`` (HLL++, same contract as
    ``DistinctCounter``'s approx mode) keeps one fixed O(1/rsd²)
    register set per (window, group) — state bounded by the watermark
    horizon regardless of key cardinality. Deterministic for a given
    input set, so the batch run of the same frame is an exact replay
    (pinned by the streaming parity test). Output: ``window_start``,
    ``window_end``, the group column, ``n_events``, ``n_distinct``."""
    win = F.window(F.col(time_col), window)
    return (stream_df
            .withWatermark(time_col, watermark_delay)
            .groupBy(win.alias("__w"), F.col(group_col))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.approx_count_distinct(key_col, rsd).alias("n_distinct"))
            .select(F.col("__w.start").alias("window_start"),
                    F.col("__w.end").alias("window_end"),
                    group_col, "n_events", "n_distinct"))


def stream_sessionize(stream_df: DataFrame, op=None,
                      watermark_delay: str = "0 seconds") -> DataFrame:
    """Streaming gap-based sessionization: the SAME
    :class:`~flink_ml__spark.functions.sessions.Sessionizer` plan —
    a native ``session_window`` aggregation — run incrementally. The
    batch operator is reused verbatim (the rule definitions exist
    exactly once); this wrapper only pins the watermark the streaming
    runtime needs to merge and EXPIRE per-key session state.

    Semantics under append mode: a session row is emitted exactly
    once, when the watermark passes ``session_last + gap`` (the
    session can no longer extend) — so the emitted rows equal the
    batch operator's output on the same data, which is what the
    parity test asserts. State is bounded by OPEN sessions inside the
    watermark horizon; there is no per-key history buffer, which is
    why the declarative form beats an ``applyInPandasWithState``
    re-implementation at 100 TB/day ingest rates.
    """
    from flink_ml__spark.functions.sessions import Sessionizer

    op = op if op is not None else Sessionizer()
    return op.transform(
        stream_df.withWatermark(op.getTimeCol(), watermark_delay))


def stream_minhash_dedup_against_corpus(corpus_df: DataFrame, op,
                                        emit, *,
                                        corpus_hashed: DataFrame | None
                                        = None) -> "callable":
    """Streaming incremental near-dedup: returns a ``foreachBatch``
    processor that drops each micro-batch's near-duplicates of the
    static corpus and hands the surviving rows to
    ``emit(clean_df, batch_id)``.

    The corpus signature table is computed ONCE up front (persisted;
    ~50 longs/doc); per micro-batch work is one map-only Arrow
    signature pass over the batch plus a band join against the corpus
    bands — the production "dedup the incoming crawl against the
    curated corpus" shape. ``foreachBatch`` is the right Spark tool
    here: the candidate join + verification + anti-join chain derived
    from the same stream is not expressible as a single continuous
    streaming plan (it would need a stream-stream anti self-join).

    Intra-batch duplicates are NOT removed (chain ``op.transform`` in
    ``emit`` if wanted); cross-batch accumulation is the caller's
    policy — e.g. append each clean batch to the corpus store and
    rebuild signatures periodically.

    ``op`` is any operator with the ``hashed_table`` /
    ``transform_against(df, corpus_hashed=...)`` protocol:
    ``MinHashDeduplicator``, ``NgramJaccardDeduplicator`` (exact), or
    ``SubstringDeduplicator`` — the last turns this into streaming
    span-level decontamination (mask benchmark spans out of every
    micro-batch).

    Pass ``corpus_hashed`` (e.g. an ``op.load_index(...)`` result) to
    skip the up-front corpus signature pass entirely — the query then
    starts against the parquet-persisted index without ever scanning
    the corpus text (``corpus_df`` may be ``None`` in that case).
    """
    from flink_ml__spark.functions.dedup import touch_dedup_cache

    if corpus_hashed is None:
        corpus_hashed = op.hashed_table(corpus_df)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # every batch's own signature table enters the bounded cache
        # registry; keep the corpus table young or it ages out after
        # _MAX_LIVE_CACHES batches and every later batch re-runs the
        # full corpus tokenize+hash pass
        touch_dedup_cache(corpus_hashed)
        emit(op.transform_against(batch_df, corpus_hashed=corpus_hashed),
             batch_id)

    return process


# the protocol is op-agnostic (see docstring); the generic name is the
# public surface, the historical one stays as an alias
stream_dedup_against_corpus = stream_minhash_dedup_against_corpus


def stream_online_topsis_fit(stream_df: DataFrame, est,
                             watermark_delay: str = "0 seconds"):
    """Fit OnlineTopsis on a stream: returns ``(means_stream,
    finalize)``.

    The incremental half — per-window feature means — runs as a
    watermarked ``groupBy(window)`` streaming aggregation
    (``est.window_means`` unchanged; append mode, so each window's mean
    row emits exactly once when the watermark passes its end — the
    reference estimator's window-fired emission,
    ``OnlineTopsis.java:70-73``). Route ``means_stream`` to any sink.
    The TOPSIS normalization spans ALL windows, so the non-incremental
    half stays a finalize step: call ``finalize(sink_contents_df)`` on
    the accumulated mean rows (one per window — tiny) to get the fitted
    ``OnlineTopsisModel``; on the same fired windows it is exactly
    batch ``fit``.
    """
    est._validate()
    if est.getWindows() in (None, "global"):
        raise ValueError("streaming OnlineTopsis fit requires a "
                         "tumbling window")
    src = stream_df.withWatermark(est.getTimeCol(), watermark_delay)
    means = est.window_means(src)

    def finalize(means_df: DataFrame) -> OnlineTopsisModel:
        return est.score_means(means_df)

    return means, finalize


def stream_online_topsis_apply_streams(
        rows: DataFrame, models: DataFrame, model: OnlineTopsisModel,
        watermark_delay: str = "0 seconds") -> DataFrame:
    """Stream-stream model application: rows and model rows both arrive
    as streams; a row emits once a model covering
    ``rowtime − maxAllowedModelDelayMs ∈ [minTimestamp, timestamp]``
    exists, and waits in join state until then.

    This is the declarative form of the reference's buffer-until-model
    operator state (``OnlineTopsisModel.java:131-163``): Spark's
    stream-stream inner join holds unmatched rows exactly as the
    reference's ``ListState`` of buffered points, and drains them when
    the matching model arrives — no hand-rolled state needed.
    ``models`` must have the model-data schema
    (``timestamp long, score double, minTimestamp long``).
    """
    time_col = model.getTimeCol()
    delay = model.getMaxAllowedModelDelayMs()
    windows = model.getWindows()

    # stream-stream joins need an equality key: the tumbling-window index
    # works because the range condition already implies window equality
    # (t−delay ∈ [minTs, maxTs] ⊆ the model's window)
    t_expr = (F.unix_millis(F.col(time_col).cast("timestamp"))
              - F.lit(delay))
    if windows in (None, "global"):
        row_key, model_key = F.lit(0), F.lit(0)
    else:
        ival = _interval_ms(windows)
        row_key = F.floor(t_expr / ival)
        model_key = F.floor(F.col("minTimestamp") / ival)

    r = (rows.withWatermark(time_col, watermark_delay)
         .withColumn("__wk", row_key))
    # __-prefixed model columns: the row stream may carry its own
    # timestamp/score/minTimestamp columns (ambiguous reference otherwise)
    m = (models
         .withColumn("__model_time", F.timestamp_millis(F.col("timestamp")))
         .withWatermark("__model_time", watermark_delay)
         .select(model_key.alias("__wk_m"), "__model_time",
                 F.col("timestamp").alias("__ot_max"),
                 F.col("score").alias("__ot_score"),
                 F.col("minTimestamp").alias("__ot_min")))
    t = (F.unix_millis(F.col(time_col).cast("timestamp")) - F.lit(delay))
    cond = ((F.col("__wk") == m["__wk_m"])
            & (t >= m["__ot_min"]) & (t <= m["__ot_max"]))
    if windows not in (None, "global"):
        # state-cleanup constraint: the long-valued range above is
        # opaque to Spark's watermark analysis, so without a direct
        # event-time relation between the two WATERMARKED columns the
        # join state would grow forever. This bound is implied by the
        # long-valued condition (model_time = window max, so rowtime
        # ∈ (model_time + delay − interval, model_time + delay]) —
        # redundant for results, load-bearing for state eviction.
        rt = F.col(time_col).cast("timestamp")
        cond = (cond
                & (rt >= m["__model_time"]
                   + F.expr(f"INTERVAL {delay - ival} MILLISECONDS"))
                & (rt <= m["__model_time"]
                   + F.expr(f"INTERVAL {delay} MILLISECONDS")))
    out = r.join(m, cond, "inner")
    return out.select(*rows.columns,
                      F.col("__ot_score").alias(model.getPredictionCol()))


def stream_online_topsis_apply(stream_df: DataFrame,
                               model: OnlineTopsisModel,
                               watermark_delay: str = "0 seconds") -> DataFrame:
    """Score a stream against a fitted OnlineTopsis model table: the
    model's own stream-static broadcast range join, over the
    watermarked stream."""
    return model.transform(
        stream_df.withWatermark(model.getTimeCol(), watermark_delay))


def stream_ewma(stream_df: DataFrame, op) -> DataFrame:
    """Streaming twin of
    :class:`~flink_ml__spark.functions.timeseries.ExponentialSmoother`:
    per-key smoothed value / one-step forecast / residual emitted for
    every arriving row (append mode).

    Where the batch operator truncates the adjust-weighted mean at
    ``maxLag`` (bounded window frame), the stream keeps the EXACT
    untruncated recurrence — ``num = x + r·num_prev``,
    ``den = 1 + r·den_prev``, ``ewma = num/den`` — because streaming
    state is O(1) doubles per key either way; stream and batch agree
    wherever ``maxLag`` covers the series (pinned in
    ``test_streaming``), and differ only by the documented ≤ r^maxLag
    truncation error beyond it.

    Rows fold in ``timeCol`` order WITHIN each micro-batch; delivering
    batches in key-time order across triggers is the source's contract
    (the same contract as every at-least-ordered CDC/event feed).
    NULL values pass through with NULL ewma and do not perturb the
    state (ignore_na semantics).
    """
    import math

    k = op.getOrDefault(op.keyCol)
    t = op.getOrDefault(op.timeCol)
    v = op.getOrDefault(op.valueCol)
    a = op.getOrDefault(op.alpha)
    if not (0.0 < a <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {a}")
    r = 1.0 - a

    out_fields = list(stream_df.schema.fields) + [
        T.StructField("ewma", T.DoubleType()),
        T.StructField("forecast", T.DoubleType()),
        T.StructField("residual", T.DoubleType())]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType([
        T.StructField("num", T.DoubleType()),
        T.StructField("den", T.DoubleType()),
        T.StructField("last", T.DoubleType())])

    def fold(key, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = (pd.concat(frames, ignore_index=True)
                 .sort_values(t, kind="stable").reset_index(drop=True))
        num, den, last = (state.get if state.exists
                          else (0.0, 0.0, float("nan")))
        ewma = [float("nan")] * len(batch)
        fc = [float("nan")] * len(batch)
        xs = batch[v].astype(float).tolist()
        for i, x in enumerate(xs):
            fc[i] = last
            if x is None or math.isnan(x):
                continue
            num = x + r * num
            den = 1.0 + r * den
            ewma[i] = num / den
            last = ewma[i]
        state.update((num, den, last))
        out = batch.copy()
        out["ewma"] = ewma
        out["forecast"] = fc
        out["residual"] = out[v].astype(float) - out["forecast"]
        yield out

    return (stream_df.groupBy(F.col(k))
            .applyInPandasWithState(
                fold, outputStructType=out_schema,
                stateStructType=state_schema, outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_rolling_anomaly(stream_df: DataFrame, op) -> DataFrame:
    """Streaming twin of
    :class:`~flink_ml__spark.functions.timeseries.RollingAnomalyDetector`:
    per-key trailing z-score flags emitted for every arriving row
    (append mode), batch-identical (pinned in ``test_streaming``).

    State per key is the last ``window`` values — the SAME O(window)
    bound as one batch window frame; NULL values occupy frame slots
    (the batch ROWS frame advances past them) but never contribute to
    the mean/std, exactly like the batch ``avg``/``stddev_samp``.
    Rows fold in ``timeCol`` order within each micro-batch;
    cross-batch delivery order is the source's contract (the
    :func:`stream_ewma` caveat)."""
    import math

    k = op.getOrDefault(op.keyCol)
    t = op.getOrDefault(op.timeCol)
    v = op.getOrDefault(op.valueCol)
    n = op.getOrDefault(op.window)
    mp = op.getOrDefault(op.minPeriods)
    thr = op.getOrDefault(op.threshold)

    out_fields = list(stream_df.schema.fields) + [
        T.StructField("roll_mean", T.DoubleType()),
        T.StructField("roll_std", T.DoubleType()),
        T.StructField("zscore", T.DoubleType()),
        T.StructField("is_anomaly", T.BooleanType())]
    out_schema = T.StructType(out_fields)
    # the trailing frame: NULL slots ride as NaN sentinels
    state_schema = T.StructType([
        T.StructField("vals", T.ArrayType(T.DoubleType()))])

    def fold(key, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = (pd.concat(frames, ignore_index=True)
                 .sort_values(t, kind="stable").reset_index(drop=True))
        (vals,) = state.get if state.exists else ([],)
        window = list(vals or [])
        means, stds, zs, flags = [], [], [], []
        for x in batch[v].tolist():
            live = [w for w in window if w is not None
                    and not math.isnan(w)]
            if len(live) >= mp and len(live) >= 1:
                m = sum(live) / len(live)
                if len(live) >= 2:
                    var = (sum((w - m) ** 2 for w in live)
                           / (len(live) - 1))
                    s = math.sqrt(var)
                else:
                    s = None
            else:
                m = s = None
            means.append(m)
            stds.append(s)
            z = ((x - m) / s
                 if (x is not None and not (isinstance(x, float)
                                            and math.isnan(x))
                     and m is not None and s is not None and s > 0)
                 else None)
            zs.append(z)
            flags.append(bool(z is not None and abs(z) >= thr))
            window.append(float("nan") if x is None
                          or (isinstance(x, float) and math.isnan(x))
                          else float(x))
            if len(window) > n:
                window.pop(0)
        state.update((window,))
        out = batch.copy()
        out["roll_mean"] = means
        out["roll_std"] = stds
        out["zscore"] = zs
        out["is_anomaly"] = flags
        yield out

    return (stream_df.groupBy(F.col(k))
            .applyInPandasWithState(
                fold, outputStructType=out_schema,
                stateStructType=state_schema, outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_ks_monitor(stream_df: DataFrame, time_col: str,
                      value_col: str, reference: DataFrame,
                      num_buckets: int = 32,
                      window: str = "1 minute",
                      watermark_delay: str = "0 seconds") -> DataFrame:
    """Windowed two-sample Kolmogorov-Smirnov drift against a static
    reference — the distribution-shape twin of ``stream_drift_monitor``
    (PSI tells you *how much* mass moved between buckets; KS gives a
    calibrated test statistic with a p-value).

    The reference is summarized ONCE at plan-build time into
    ``num_buckets - 1`` exact interpolated quantile edges plus the
    reference ECDF evaluated AT those edges (two bounded jobs on the
    static side; O(buckets) literals). The stream then needs exactly
    ONE stateful aggregation: each edge's cumulative count is a
    conditional sum (``value <= edge``) inside the watermarked windowed
    groupBy — cumulative BY CONSTRUCTION, no post-hoc prefix pass — and
    D / the Smirnov p fall out as a pure projection. Evaluating D on
    the reference-quantile grid bounds the approximation error by the
    largest in-bucket reference mass (≈ 1/num_buckets).

    Output: ``window_start``, ``window_end``, ``n_rows``, ``d_stat``,
    ``p_value``. Runs identically on a batch frame — the batch run is
    the oracle-gated query (``ks_window_events``), the stream run the
    parity-tested twin.
    """
    k = int(num_buckets)
    if k < 2:
        raise ValueError("num_buckets must be >= 2")
    x = F.col(value_col).cast("double")
    pcts = ", ".join(repr(i / k) for i in range(1, k))
    row = reference.agg(
        F.expr(f"percentile({value_col}, array({pcts}))").alias("e"),
        F.max(x).alias("mx"),
        F.count(x).alias("n")).collect()[0]
    if row["e"] is None or row["e"][0] is None:
        raise ValueError("reference has no non-null values")
    # the reference MAX is appended as a final evaluation point:
    # F_ref(max) = 1, so a window shifted fully above the reference
    # range reads D = 1 instead of the interior-grid cap (k-1)/k.
    # Edges are rounded to 6 dp BEFORE the cumulative counts: an
    # interpolated percentile can differ across engines by one ulp,
    # and when the edge lands exactly on a data value that ulp flips
    # every tie — rounding pins the grid identically everywhere (the
    # grid itself is an arbitrary choice, so this costs nothing)
    edges = ([round(float(v), 6) for v in row["e"]]
             + [round(float(row["mx"]), 6)])
    ref_row = reference.agg(
        *[F.sum((x <= F.lit(e)).cast("long")).alias(f"c{j}")
          for j, e in enumerate(edges)]).collect()[0]
    ref_n = int(row["n"])
    ref_cdf = [ref_row[f"c{j}"] / ref_n for j in range(len(edges))]

    n = F.col("n_rows").cast("double")
    terms = [F.abs(F.col(f"__c{j}") / n - F.lit(ref_cdf[j]))
             for j in range(len(edges))]
    d = F.when(F.col("n_rows") > 0,
               F.greatest(*terms) if len(terms) > 1 else terms[0])
    ne = n * ref_n / (n + F.lit(float(ref_n)))
    p = F.when(d.isNotNull(),
               F.least(F.lit(1.0), 2.0 * F.exp(-2.0 * d * d * ne)))
    return _per_window(
        stream_df, time_col, window, watermark_delay,
        [F.count(x).alias("n_rows"),
         *[F.sum((x <= F.lit(e)).cast("long")).alias(f"__c{j}")
           for j, e in enumerate(edges)]],
        [F.col("n_rows"), d.alias("d_stat"), p.alias("p_value")])


def stream_ohlc(stream_df: DataFrame, time_col: str, key_col: str,
                value_col: str, window: str = "1 minute",
                watermark_delay: str = "0 seconds") -> DataFrame:
    """Windowed OHLC candles on an unbounded stream — the live twin of
    :class:`~flink_ml__spark.functions.timeseries.OhlcRollup`.

    Open/close are ``min_by``/``max_by`` over a (event-time, value)
    struct INSIDE the single watermarked windowed aggregation — order
    statistics without any per-window sort or row buffering, so state
    per open (window, key) is five doubles regardless of event volume
    (the same reason the batch operator scales). Value tie-break keeps
    equal-timestamp candles deterministic.

    Output: ``window_start``, ``window_end``, the key column,
    ``open/high/low/close/n_events``. Runs identically on a batch
    frame (parity-pinned)."""
    t = F.col(time_col)
    k = F.col(key_col)
    v = F.col(value_col).cast("double")
    src = (stream_df.filter(t.isNotNull() & k.isNotNull() & v.isNotNull())
           .withWatermark(time_col, watermark_delay))
    order = F.struct(t, v)
    return (src.groupBy(F.window(t, window).alias("__w"), k)
            .agg(F.min_by(v, order).alias("open"),
                 F.max(v).alias("high"),
                 F.min(v).alias("low"),
                 F.max_by(v, order).alias("close"),
                 F.count(F.lit(1)).alias("n_events"))
            .select(F.col("__w.start").alias("window_start"),
                    F.col("__w.end").alias("window_end"),
                    key_col, "open", "high", "low", "close",
                    "n_events"))


def stream_regression_monitor(stream_df: DataFrame, time_col: str,
                              label_col: str, prediction_col: str,
                              window: str = "1 minute",
                              watermark_delay: str = "0 seconds"
                              ) -> DataFrame:
    """Windowed regression-quality monitoring — the live twin of
    :class:`~flink_ml__spark.functions.evaluation.RegressionEvaluator`:
    per event-time window, how well a deployed predictor tracks the
    observed label (the model-degradation dashboard).

    Runs the evaluator's own aggregates and readout per window. Every
    metric is algebraic (MAE/MSE/RMSE and R² via the Σy²−(Σy)²/n
    identity), so the whole readout folds into ONE watermarked
    windowed aggregation with O(1) state per open window — no
    percentiles, no sort, no second pass. Output: ``window_start``,
    ``window_end``, ``n``, ``mae``, ``rmse``, ``bias`` (mean signed
    error), ``r2``. Runs identically on a batch frame (the batch run
    is the oracle-gated query)."""
    from flink_ml__spark.functions.evaluation import RegressionEvaluator

    cond, aggs, readout = (RegressionEvaluator().setLabelCol(label_col)
                           .setPredictionCol(prediction_col)._stats())
    src = stream_df.filter(F.col(time_col).isNotNull() & cond)
    return (_per_window(src, time_col, window, watermark_delay, aggs,
                        [*readout, F.col("bias")])
            .select("window_start", "window_end", "n", "mae", "rmse",
                    "bias", "r2"))


def stream_anova_monitor(stream_df: DataFrame, time_col: str,
                         value_col: str, group_col: str,
                         reference: DataFrame,
                         max_groups: int = 64,
                         window: str = "1 minute",
                         watermark_delay: str = "0 seconds"
                         ) -> DataFrame:
    """Windowed one-way ANOVA against a fitted group vocabulary — the
    live twin of :class:`~flink_ml__spark.functions.stats.AnovaFTest`:
    per event-time window, does the metric's mean differ across
    groups? (A rising F per window = one segment's behavior drifting
    from the rest.)

    The group vocabulary comes from the static reference ONCE at
    plan-build time (the categorical-drift-monitor recipe — streaming
    allows exactly one stateful aggregation, so groups must fold in as
    literals; unseen stream groups are ignored and surface through the
    categorical drift monitor instead). Per window, each group's
    (n, Σy, Σy²) are conditional sums inside the ONE watermarked
    aggregate; F / dfs / η² are the batch test's readout over the
    window's totals. Capped at ``max_groups`` (by reference frequency) —
    past that, a per-window ANOVA is not a conditional-sum problem.

    Output: ``window_start``, ``window_end``, ``k_groups`` (observed
    in the window), ``n``, ``f_stat``, ``df_between``, ``df_within``,
    ``eta_sq``. Runs identically on a batch frame (oracle-gated)."""
    from flink_ml__spark.functions.stats import _anova_readout

    g = F.col(group_col).cast("string")
    y = F.col(value_col).cast("double")
    vocab_rows = (reference
                  .filter(g.isNotNull() & y.isNotNull())
                  .groupBy(g.alias("__g"))
                  .agg(F.count(F.lit(1)).alias("__n"))
                  .orderBy(F.desc("__n"), F.asc("__g"))
                  .limit(int(max_groups)).collect())
    if not vocab_rows:
        raise ValueError("reference has no (group, value) rows")
    vocab = [r["__g"] for r in vocab_rows]

    src = stream_df.filter(F.col(time_col).isNotNull() & y.isNotNull()
                           & g.isin(vocab))
    aggs = []
    for i, grp in enumerate(vocab):
        hit = g == F.lit(grp)
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).alias(f"__n{i}"),
            F.sum(F.when(hit, y).otherwise(0.0)).alias(f"__s{i}"),
            F.sum(F.when(hit, y * y).otherwise(0.0)).alias(f"__q{i}"),
        ]
    groups = range(len(vocab))
    n_i, s_i, q_i = ([F.col(f"__{m}{i}") for i in groups] for m in "nsq")
    # (k_groups, n, Σy, Σy², SS_within) of the window: the columns the
    # batch AnovaFTest readout reads
    totals = [
        sum((n > 0).cast("int") for n in n_i).cast("bigint")
        .alias("k_groups"),
        sum(n_i).cast("bigint").alias("n"),
        sum(s_i).alias("__sy"), sum(q_i).alias("__syy"),
        sum(F.when(n > 0, q - s * s / n).otherwise(0.0)
            for n, s, q in zip(n_i, s_i, q_i)).alias("__ss_w")]
    return (_per_window(src, time_col, window, watermark_delay, aggs,
                        totals)
            .select("window_start", "window_end", "k_groups", "n",
                    *_anova_readout()))


def stream_quantile_monitor(stream_df: DataFrame, time_col: str,
                            value_col: str,
                            probs: tuple = (0.5, 0.95, 0.99),
                            window: str = "1 minute",
                            accuracy: int = 10_000,
                            group_col: str | None = None,
                            watermark_delay: str = "0 seconds"
                            ) -> DataFrame:
    """Windowed tail-latency / SLA quantile monitoring: per event-time
    window (optionally per group), the requested quantiles of
    ``value_col`` — the p50/p95/p99 dashboard.

    Uses ``percentile_approx`` (Greenwald-Khanna, rank error ≤
    1/``accuracy``): a MERGEABLE sketch, so the aggregation is one
    watermarked pass with bounded per-window state — an exact
    percentile would buffer every row of every open window. Runs
    identically on a batch frame; the oracle-gated batch query
    (``quantile_window_events``) uses the same sketch on both engines'
    inputs and pins stream==batch equality in ``test_streaming.py``
    (same sketch → identical output, no tolerance band needed).

    Output: [group,] ``window_start``, ``window_end``, ``n``, one
    ``q_<pct>`` column per requested quantile.
    """
    t = F.col(time_col)
    x = F.col(value_col).cast("double")
    src = (stream_df.filter(t.isNotNull() & x.isNotNull())
           .withWatermark(time_col, watermark_delay))
    keys = [F.window(t, window).alias("__w")]
    if group_col:
        keys.insert(0, F.col(group_col))
    aggs = [F.count(F.lit(1)).alias("n")]
    for p in probs:
        aggs.append(
            F.percentile_approx(x, float(p), accuracy)
            .alias(f"q_{str(p).replace('0.', '')}"))
    out = src.groupBy(*keys).agg(*aggs)
    cols = ([group_col] if group_col else []) + [
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"), "n",
        *[f"q_{str(p).replace('0.', '')}" for p in probs]]
    return out.select(*cols)


def stream_holt(stream_df: DataFrame, op) -> DataFrame:
    """Streaming twin of
    :class:`~flink_ml__spark.functions.timeseries.HoltForecaster`:
    per-key level/trend state folded across micro-batches, emitting for
    every arriving non-NULL value the UPDATED level, trend and
    ``horizon``-step forecast (append mode). State is two doubles + a
    count per key — O(1) whatever the series length, the property that
    makes Holt a streaming-native recursion.

    Rows fold in ``timeCol`` order (ties by value, matching the batch
    operator's ``array_sort`` on (t, x) structs) WITHIN each
    micro-batch; delivering batches in key-time order across triggers
    is the source's contract. After the final batch the per-key state
    equals the batch fold exactly (pinned in ``test_streaming``)."""
    import math

    k = op.getOrDefault(op.keyCol)
    t = op.getOrDefault(op.timeCol)
    v = op.getOrDefault(op.valueCol)
    a = op.getOrDefault(op.alpha)
    b = op.getOrDefault(op.beta)
    h = float(op.getOrDefault(op.horizon))

    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("forecast", T.DoubleType())])
    state_schema = T.StructType([
        T.StructField("l", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("n", T.LongType())])

    def fold(key, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = (pd.concat(frames, ignore_index=True)
                 .sort_values([t, v], kind="stable")
                 .reset_index(drop=True))
        lvl, trd, n = (state.get if state.exists
                       else (float("nan"), 0.0, 0))
        rows = []
        for x in batch[v].astype(float).tolist():
            if x is None or math.isnan(x):
                continue
            if n == 0:
                lvl, trd = x, 0.0
            else:
                l_new = a * x + (1.0 - a) * (lvl + trd)
                trd = b * (l_new - lvl) + (1.0 - b) * trd
                lvl = l_new
            n += 1
            rows.append((key[0], n, round(lvl, 6), round(trd, 6),
                         round(lvl + h * trd, 6)))
        state.update((lvl, trd, n))
        if rows:
            yield pd.DataFrame(rows,
                               columns=["key", "n", "level", "trend",
                                        "forecast"])

    return (stream_df.groupBy(F.col(k))
            .applyInPandasWithState(
                fold, outputStructType=out_schema,
                stateStructType=state_schema, outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_interarrival(stream_df: DataFrame, op) -> DataFrame:
    """Streaming twin of
    :class:`~flink_ml__spark.functions.timeseries.InterArrivalProfiler`:
    per-key burstiness profile re-emitted after every micro-batch,
    with O(1) state per key (last event time + Welford moment
    accumulators over the gaps — n, mean, M2).

    Rows fold in (timeCol, tieCol) order WITHIN each micro-batch;
    batch-order delivery across triggers is the source's contract.
    The final emitted row per key matches the batch operator to fp
    tolerance (the batch side's stddev_samp merges partitions in
    arbitrary order, so bit-equality is not defined — pinned at 1e-9
    in ``test_streaming``)."""
    k = op.getOrDefault(op.keyCol)
    t = op.getOrDefault(op.timeCol)
    tb = op.getOrDefault(op.tieCol)

    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_gaps", T.LongType()),
        T.StructField("mean_gap_s", T.DoubleType()),
        T.StructField("std_gap_s", T.DoubleType()),
        T.StructField("cv", T.DoubleType()),
        T.StructField("burstiness", T.DoubleType())])
    state_schema = T.StructType([
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m2", T.DoubleType())])

    def fold(key, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = (pd.concat(frames, ignore_index=True)
                 .dropna(subset=[t])
                 .sort_values([t, tb], kind="stable"))
        if not len(batch):
            return
        last_us, n_events, n, mean, m2 = (
            state.get if state.exists else (None, 0, 0, 0.0, 0.0))
        for ts in batch[t]:
            us = int(pd.Timestamp(ts).value // 1000)
            n_events += 1
            if last_us is not None:
                gap = (us - last_us) / 1e6
                n += 1
                d = gap - mean
                mean += d / n
                m2 += d * (gap - mean)
            last_us = us
        state.update((last_us, n_events, n, mean, m2))
        std = (m2 / (n - 1)) ** 0.5 if n > 1 else (0.0 if n == 1
                                                   else None)
        cv = (std / mean) if (std is not None and mean
                              and mean > 0) else None
        burst = ((cv - 1) / (cv + 1)) if cv is not None else None
        rnd = lambda v: None if v is None else round(v, 6)  # noqa: E731
        yield pd.DataFrame(
            [(key[0], n_events, n, rnd(mean if n else None), rnd(std),
              rnd(cv), rnd(burst))],
            columns=["key", "n_events", "n_gaps", "mean_gap_s",
                     "std_gap_s", "cv", "burstiness"])

    return (stream_df.groupBy(F.col(k))
            .applyInPandasWithState(
                fold, outputStructType=out_schema,
                stateStructType=state_schema, outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_welch_monitor(stream_df: DataFrame, time_col: str,
                         value_col: str, group_col: str,
                         label_a: str, label_b: str,
                         window: str = "1 minute",
                         watermark_delay: str = "0 seconds"
                         ) -> DataFrame:
    """Windowed Welch unequal-variance t-test between two named
    segments — the live twin of :class:`~flink_ml__spark.functions.
    stats.WelchTTest`: per event-time window, is segment A's mean
    drifting from segment B's? (The A/B guardrail metric emitted
    continuously instead of at experiment end.)

    Runs the test's own aggregates and readout per window: each side's
    (n, Σy, Σy²) are conditional sums inside the ONE watermarked
    aggregate; t and the Welch–Satterthwaite dof are projections over
    those six columns — O(1) state per window, no buffering. Runs identically on a batch frame (oracle-gated
    via ``welch_window_events``).

    Output: ``window_start``, ``window_end``, ``n_a``, ``n_b``,
    ``mean_a``, ``mean_b``, ``t_stat``, ``dof``, ``significant``.
    """
    from flink_ml__spark.functions.stats import WelchTTest

    cond, aggs, readout = (WelchTTest().setValueCol(value_col)
                           .setGroupCol(group_col)
                           .setGroups(label_a, label_b)._stats())
    src = stream_df.filter(F.col(time_col).isNotNull() & cond)
    return _per_window(src, time_col, window, watermark_delay, aggs,
                       readout)


def stream_srm_monitor(stream_df: DataFrame, time_col: str,
                       variant_col: str, label_a: str, label_b: str,
                       ratio_a: float = 0.5,
                       window: str = "1 minute",
                       watermark_delay: str = "0 seconds") -> DataFrame:
    """Windowed sample-ratio-mismatch guardrail — the live twin of
    :class:`~flink_ml__spark.functions.stats.SrmChecker`: per
    event-time window, does the variant split still match the
    configured allocation? A randomizer bug or a crashing variant
    shows up here within one window instead of at experiment readout.

    Runs the checker's own aggregates and readout per window: the two
    counts are conditional sums inside the ONE watermarked aggregate;
    χ² and the p=0.001 flag are projections. Output: ``window_start``, ``window_end``, ``n_a``, ``n_b``,
    ``expected_a``, ``chi2``, ``srm``. Runs identically on a batch
    frame (oracle-gated via ``srm_window_events``)."""
    from flink_ml__spark.functions.stats import SrmChecker

    cond, aggs, readout = (SrmChecker().setVariantCol(variant_col)
                           .setVariants(label_a, label_b)
                           .setRatioA(ratio_a)._stats())
    src = stream_df.filter(F.col(time_col).isNotNull() & cond)
    return _per_window(src, time_col, window, watermark_delay, aggs,
                       readout)


def stream_ratio_monitor(stream_df: DataFrame, time_col: str,
                         num_col: str, den_col: str, variant_col: str,
                         label_a: str, label_b: str,
                         window: str = "1 minute",
                         watermark_delay: str = "0 seconds"
                         ) -> DataFrame:
    """Windowed delta-method ratio guardrail — the live twin of
    :class:`~flink_ml__spark.functions.stats.RatioMetricAnalyzer`:
    per event-time window, is segment A's ratio metric (Σnum/Σden)
    drifting from segment B's, tested with the delta-method variance?
    Completes the guardrail trio (Welch for means, SRM for splits,
    this for ratio metrics).

    Rows here are UNITS (pre-aggregated per user upstream, or raw
    rows when the unit is the row). Runs the analyzer's own
    aggregates and readout per window: each side's six moments are
    conditional sums inside the ONE watermarked aggregate; ratios,
    variances and z are projections.

    Output: ``window_start``, ``window_end``, ``n_a``, ``n_b``,
    ``ratio_a``, ``ratio_b``, ``diff``, ``se``, ``z_stat``,
    ``significant``. Runs identically on a batch frame (oracle-gated
    via ``ratio_window_events``)."""
    from flink_ml__spark.functions.stats import RatioMetricAnalyzer

    cond, aggs, readout = (RatioMetricAnalyzer().setNumCol(num_col)
                           .setDenCol(den_col).setVariantCol(variant_col)
                           .setVariants(label_a, label_b)._stats())
    src = stream_df.filter(F.col(time_col).isNotNull() & cond)
    return _per_window(src, time_col, window, watermark_delay, aggs,
                       readout)


def stream_boilerplate_score(corpus_df: DataFrame, scorer, emit, *,
                             common: DataFrame | None = None
                             ) -> "callable":
    """Streaming incremental boilerplate scoring: returns a
    ``foreachBatch`` processor that scores each micro-batch's
    documents against the STATIC corpus's common-shingle statistic
    (:meth:`BoilerplateFractionScorer.common_table`) and hands the
    scored frame to ``emit(scored_df, batch_id)`` — the production
    "score the incoming crawl against the curated corpus" shape,
    sibling of :func:`stream_dedup_against_corpus`.

    The common table is computed ONCE up front (one int64 column, the
    Zipf head of the corpus shingle universe) and persisted; per
    micro-batch work is one map-only Arrow shingle pass plus a
    semi-join against that statistic. Pass ``common`` (e.g. a frame
    read back from parquet) to skip the corpus pass entirely
    (``corpus_df`` may be ``None`` then). Cross-batch drift policy is
    the caller's: rebuild the common table periodically as the corpus
    grows — and when you do, call ``processor.close()`` on the OLD
    processor first: it unpersists the cached statistic this function
    pinned, so long-lived streams that rotate statistics don't
    accumulate dead cached partitions. The persisted frame itself is
    exposed as ``processor.common`` (e.g. to checkpoint it to parquet
    before rotating).
    """
    if common is None:
        common = scorer.common_table(corpus_df)
    common = common.persist()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        emit(scorer.transform_against(batch_df, common), batch_id)

    def close() -> None:
        common.unpersist(False)

    process.common = common
    process.close = close
    return process


def stream_unimax_alloc(allocator, emit) -> "callable":
    """Streaming UniMax budget allocation: returns a ``foreachBatch``
    processor that folds each micro-batch's per-domain token counts
    into a running inventory and emits the REFRESHED water-filling
    allocation (``emit(alloc_df, batch_id)``) — the production "keep
    the training-mix budget current while the crawl lands" shape,
    sibling of :func:`stream_boilerplate_score`.

    State is the accumulated ``(domain → n_docs, n_tokens)`` map —
    O(domains), held on the driver (domains are a vocabulary, never
    row-scale), so each batch costs ONE aggregation of the batch
    itself plus the O(domains) closed-form allocation; no growing
    union plan, no shuffle over history. After any batch the emitted
    frame equals ``allocator.transform`` over all rows seen so far
    (stream==batch parity, pinned in tests).

    ``allocator`` is a configured
    :class:`~flink_ml__spark.functions.curation.UniMaxAllocator`;
    with ``budget=0`` the budget tracks the growing corpus total, a
    fixed budget shows domains capping out as inventory accumulates.
    """
    from pyspark.sql import functions as F

    state: dict = {}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        g = allocator.getOrDefault(allocator.groupCol)
        tc = allocator.getOrDefault(allocator.tokenCol)
        rows = (batch_df.filter(F.col(g).isNotNull())
                .groupBy(g).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(tc)).cast("long").alias("t"))
                .collect())
        for r in rows:
            n, t = state.get(r[g], (0, 0))
            state[r[g]] = (n + r["n"], t + r["t"])
        if not state:
            return
        spark = batch_df.sparkSession
        inv = spark.createDataFrame(
            [(k, int(n), int(t)) for k, (n, t) in sorted(state.items())],
            f"{g} string, n_docs long, n_tokens long")
        emit(allocator.allocate(inv), batch_id)

    process.state = state
    return process
