"""Gap-based sessionization over an event stream.

The reference's online operators cover fixed tumbling windows
(`OnlineAHP.java:61-73` windowAll shapes); sessionization — grouping a
key's events into maximal runs separated by less than a gap — is the
other fundamental event-time windowing a telemetry/clickstream pipeline
needs, and Spark expresses it natively with ``F.session_window``
(dynamic, per-key merging windows; the same call works on batch frames
and Structured Streams with a watermark).
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator


class Sessionizer(AlgoOperator):
    """Per-key session aggregation: events of one ``keyCol`` value whose
    inter-event gap is under ``gap`` merge into one session row::

        <keyCol>       the key
        session_start  first event time (== session window start)
        session_last   last event time
        n_events       events in the session
        sum_value      sum of ``valueCol`` (omitted when valueCol="")

    100 TB design: ``session_window`` is a native Catalyst aggregation
    — one shuffle on (key, merged-window), partial merge map-side, and
    per-key state bounded by OPEN sessions only. Under Structured
    Streaming add ``withWatermark`` upstream and the same plan runs
    incrementally with watermark-scoped state eviction — no
    ``applyInPandasWithState`` custom code needed. An analytic
    lag/cumsum formulation (the SQL-oracle form) would instead sort
    every key's full history inside one window task.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "session key column",
                   TypeConverters.toString)
    gap = Param(Params._dummy(), "gap",
                "max inactivity inside a session (interval string)",
                TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol",
                     "numeric column summed per session ('' disables)",
                     TypeConverters.toString)

    _defaults = dict(timeCol="ts", keyCol="user_id",
                     gap="30 minutes", valueCol="value")

    def transform(self, df: DataFrame) -> DataFrame:
        t, k = self.getTimeCol(), self.getKeyCol()
        aggs = [F.min(t).alias("session_start"),
                F.max(t).alias("session_last"),
                F.count(F.lit(1)).alias("n_events")]
        if self.getValueCol():
            aggs.append(F.sum(self.getValueCol()).alias("sum_value"))
        return (df
                .groupBy(k, F.session_window(F.col(t), self.getGap()))
                .agg(*aggs)
                .drop("session_window"))


class IntervalMerger(AlgoOperator):
    """Per-key union of (possibly overlapping) intervals — the span
    flattening every coverage/uptime/exposure analysis needs: merge a
    key's [start, end] rows into maximal non-overlapping spans
    (touching intervals — next start == previous end — merge too).

    ``transform(df)`` returns one row per merged span::

        <keyCol>      the key
        span_start    min start of the merged run
        span_end      max end of the merged run
        n_intervals   source intervals folded into the span

    Rows with a NULL key/start/end and inverted intervals
    (end < start) are dropped. Start/end may be timestamps or
    numerics — only ordering comparisons are used.

    100 TB design: the classic islands formulation — one shuffle
    (window sort per key), a running ``max(end)`` over preceding rows
    flags span starts, a running sum turns flags into span ids, one
    aggregation per (key, span). All Catalyst window/agg primitives,
    exact SQL window replay, no per-key state beyond the sort.
    Per-key data lives in one task — keys with hundreds of millions
    of intervals should pre-aggregate (e.g. daily sub-merges) first.
    """

    keyCol = Param(Params._dummy(), "keyCol", "grouping key column",
                   TypeConverters.toString)
    startCol = Param(Params._dummy(), "startCol",
                     "interval start column", TypeConverters.toString)
    endCol = Param(Params._dummy(), "endCol",
                   "interval end column (inclusive bound semantics "
                   "are the caller's; merging only compares)",
                   TypeConverters.toString)

    _defaults = dict(keyCol="user_id", startCol="span_start",
                     endCol="span_end")

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        k = self.getOrDefault(self.keyCol)
        s = self.getOrDefault(self.startCol)
        e = self.getOrDefault(self.endCol)
        base = (df.filter(F.col(k).isNotNull() & F.col(s).isNotNull()
                          & F.col(e).isNotNull()
                          & (F.col(e) >= F.col(s)))
                .select(F.col(k).alias("__k"), F.col(s).alias("__s"),
                        F.col(e).alias("__e")))
        w = Window.partitionBy("__k").orderBy("__s", "__e")
        prev_max = (F.max("__e")
                    .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        flag = F.when(prev_max.isNull()
                      | (F.col("__s") > prev_max), 1).otherwise(0)
        span = (base.withColumn("__new", flag)
                .withColumn("__span", F.sum("__new").over(
                    w.rowsBetween(Window.unboundedPreceding, 0))))
        return (span.groupBy(F.col("__k").alias(k), "__span")
                .agg(F.min("__s").alias("span_start"),
                     F.max("__e").alias("span_end"),
                     F.count(F.lit(1)).alias("n_intervals"))
                .drop("__span"))


class IntervalOverlapJoiner(AlgoOperator):
    """Keyed interval-overlap join: pair every left interval with
    every right interval of the same key that overlaps it (closed
    intervals — touching endpoints count). The temporal-join behind
    exposure attribution, shift/incident matching, ad-viewability.

    ``join(left, right)`` expects both frames to carry ``keyCol``,
    ``startCol``, ``endCol`` (other columns are dropped) and returns::

        <keyCol>                      the key
        l_start l_end r_start r_end   the paired intervals
        overlap_start overlap_end     the intersection
                                      (max of starts, min of ends)

    Rows with NULL key/bounds or inverted intervals drop, as in
    :class:`IntervalMerger`.

    100 TB design: with ``bucketWidthSec=0`` this is ONE equi-join on
    the key plus a codegen overlap filter — right for well-keyed
    data. A hot key degrades to a per-key cross product; for that,
    set ``bucketWidthSec > 0`` (timestamp bounds only): each interval
    explodes to the coarse time buckets it covers, the join runs on
    (key, bucket) — co-partitioning by time — and a canonical-bucket
    predicate (pair counted only in the first shared bucket) dedups
    without a distinct. Pick a width near the typical interval span
    so the explode factor stays ~2.
    """

    keyCol = Param(Params._dummy(), "keyCol", "join key column",
                   TypeConverters.toString)
    startCol = Param(Params._dummy(), "startCol",
                     "interval start column", TypeConverters.toString)
    endCol = Param(Params._dummy(), "endCol", "interval end column",
                   TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "0 = plain keyed join; > 0 = bucketized "
                           "(key, time-bucket) join for hot keys",
                           TypeConverters.toFloat)

    _defaults = dict(keyCol="user_id", startCol="span_start",
                     endCol="span_end", bucketWidthSec=0.0)

    def setBucketWidthSec(self, v):
        v = float(v)
        if v < 0:
            raise ValueError(f"bucketWidthSec must be >= 0, got {v}")
        return self._set(bucketWidthSec=v)

    def _side(self, df: DataFrame, tag: str) -> DataFrame:
        k = self.getOrDefault(self.keyCol)
        s = self.getOrDefault(self.startCol)
        e = self.getOrDefault(self.endCol)
        return (df.filter(F.col(k).isNotNull() & F.col(s).isNotNull()
                          & F.col(e).isNotNull()
                          & (F.col(e) >= F.col(s)))
                .select(F.col(k).alias("__k"),
                        F.col(s).alias(f"{tag}_start"),
                        F.col(e).alias(f"{tag}_end")))

    def join(self, left: DataFrame, right: DataFrame) -> DataFrame:
        k = self.getOrDefault(self.keyCol)
        w = self.getOrDefault(self.bucketWidthSec)
        a, b = self._side(left, "l"), self._side(right, "r")
        overlap = ((F.col("l_start") <= F.col("r_end"))
                   & (F.col("r_start") <= F.col("l_end")))
        if w == 0:
            pairs = a.join(b, "__k").filter(overlap)
        else:
            w_us = int(w * 1_000_000)

            def bucketize(df, tag):
                lo = F.floor(F.unix_micros(F.col(f"{tag}_start"))
                             / w_us).cast("bigint")
                hi = F.floor(F.unix_micros(F.col(f"{tag}_end"))
                             / w_us).cast("bigint")
                return df.withColumn(
                    "__b", F.explode(F.sequence(lo, hi)))

            ab, bb = bucketize(a, "l"), bucketize(b, "r")
            # canonical bucket: count the pair only in the FIRST
            # bucket both intervals cover — max of the two start
            # buckets — so no distinct is needed
            first_shared = F.greatest(
                F.floor(F.unix_micros(F.col("l_start")) / w_us),
                F.floor(F.unix_micros(F.col("r_start")) / w_us)
            ).cast("bigint")
            pairs = (ab.join(bb, ["__k", "__b"])
                     .filter(overlap & (F.col("__b") == first_shared))
                     .drop("__b"))
        return pairs.select(
            F.col("__k").alias(k), "l_start", "l_end",
            "r_start", "r_end",
            F.greatest("l_start", "r_start").alias("overlap_start"),
            F.least("l_end", "r_end").alias("overlap_end"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.join(df, df)


class AttributionAnalyzer(AlgoOperator):
    """Multi-touch conversion attribution over an event stream: credit
    each conversion to the touch events of its journey (the touches
    since the user's previous conversion) under the three standard
    models at once::

        channel        the touch event_type
        n_touches      touch rows credited to any conversion
        first_touch    conversions whose journey STARTED on the channel
        last_touch     conversions whose journey ENDED on the channel
        linear_credit  Σ 1/journey_touches over credited conversions

    Journeys segment at conversions: a running count of PRIOR
    conversion events per user splits the stream into journeys
    (touch*, conversion) — one window pass; first/last per journey is
    a min/max struct aggregate; credits are one more aggregate.
    Output is O(channels). Conversions with no preceding touch are
    counted in the ``n_unattributed`` companion row
    (channel = ``__unattributed__``). Ties on one timestamp break by a
    deterministic tie column."""

    keyCol = Param(Params._dummy(), "keyCol", "user/visitor column",
                   TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    channelCol = Param(Params._dummy(), "channelCol",
                       "touch-channel column", TypeConverters.toString)
    conversionEvent = Param(Params._dummy(), "conversionEvent",
                            "channel value that marks a conversion",
                            TypeConverters.toString)
    tieCol = Param(Params._dummy(), "tieCol",
                   "deterministic tie-break column",
                   TypeConverters.toString)

    _defaults = dict(keyCol="user_id", timeCol="ts",
                     channelCol="event_type",
                     conversionEvent="purchase", tieCol="event_id")

    UNATTRIBUTED = "__unattributed__"

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        k = self.getOrDefault(self.keyCol)
        t = self.getOrDefault(self.timeCol)
        c = self.getOrDefault(self.channelCol)
        conv = self.getOrDefault(self.conversionEvent)
        tb = self.getOrDefault(self.tieCol)

        base = df.filter(F.col(k).isNotNull() & F.col(t).isNotNull())
        w = Window.partitionBy(k).orderBy(t, tb)
        is_conv = (F.col(c) == conv).cast("int")
        # journey id = conversions STRICTLY BEFORE this row: touches
        # join the journey of the conversion that follows them
        jid = (F.sum(is_conv).over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
        rows = base.select(
            F.col(k).alias("__k"), F.col(c).alias("__c"),
            F.col(t).alias("__t"), F.col(tb).alias("__tb"),
            F.coalesce(jid, F.lit(0)).alias("__j"),
            (F.col(c) == conv).alias("__is_conv"))
        journeys = (rows.groupBy("__k", "__j").agg(
            F.sum(F.when(~F.col("__is_conv"), 1).otherwise(0))
            .alias("__nt"),
            F.max(F.col("__is_conv").cast("int")).alias("__converted"),
            F.min(F.when(~F.col("__is_conv"),
                         F.struct("__t", "__tb", "__c")))
            .alias("__first"),
            F.max(F.when(~F.col("__is_conv"),
                         F.struct("__t", "__tb", "__c")))
            .alias("__last"))
            .filter(F.col("__converted") == 1))
        touched = journeys.filter(F.col("__nt") > 0)
        firsts = (touched.groupBy(F.col("__first.__c").alias("channel"))
                  .agg(F.count(F.lit(1)).alias("first_touch")))
        lasts = (touched.groupBy(F.col("__last.__c").alias("channel"))
                 .agg(F.count(F.lit(1)).alias("last_touch")))
        credited = (rows.filter(~F.col("__is_conv"))
                    .join(touched.select("__k", "__j", "__nt"),
                          ["__k", "__j"]))
        lin = (credited.groupBy(F.col("__c").alias("channel"))
               .agg(F.count(F.lit(1)).alias("n_touches"),
                    (F.floor((F.sum(1.0 / F.col("__nt"))) * 1e6 + 0.5) / 1e6)
                    .alias("linear_credit")))
        per_channel = (lin
                       .join(firsts, "channel", "full_outer")
                       .join(lasts, "channel", "full_outer")
                       .select("channel",
                               F.coalesce("n_touches", F.lit(0))
                               .alias("n_touches"),
                               F.coalesce("first_touch", F.lit(0))
                               .alias("first_touch"),
                               F.coalesce("last_touch", F.lit(0))
                               .alias("last_touch"),
                               F.coalesce("linear_credit", F.lit(0.0))
                               .alias("linear_credit")))
        unattrib = (journeys.filter(F.col("__nt") == 0)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .select(F.lit(self.UNATTRIBUTED).alias("channel"),
                            F.lit(0).cast("long").alias("n_touches"),
                            F.col("__n").alias("first_touch"),
                            F.col("__n").alias("last_touch"),
                            F.lit(0.0).alias("linear_credit"))
                    .filter(F.col("first_touch") > 0))
        return per_channel.unionByName(unattrib)


class SessionPathAnalyzer(AlgoOperator):
    """Top navigation paths: the first ``pathLen`` event types of each
    session, joined as ``"view>click>buy"``, counted across sessions —
    the sankey/user-flow readout of product analytics (which entry
    sequences dominate, where journeys diverge).

    Sessions split by the lag/cumsum rule — a session boundary is a
    per-key gap over ``gapSec`` — because the PATH needs per-event
    session membership, which ``session_window`` (an aggregate) does
    not expose. Event order inside a session is (time, ``idCol``) —
    the id tie-break makes the path string deterministic when two
    events share a timestamp, which the SQL oracle replays exactly.

    ``transform(df)`` returns the ``topN`` paths::

        path        "t1>t2>..." (≤ pathLen segments)
        n_sessions  sessions starting with exactly this prefix
        share       n_sessions / all sessions
        rank        1-based, count desc then path asc

    100 TB design: one per-key window pass (lag + running count —
    keyed, no global sort) tags events with session ids; only ranks
    ≤ pathLen survive into the path aggregation, so the heavy
    string_agg-style collect sees ≤ pathLen rows per session. The
    final topN is a bounded TakeOrdered, not a global sort.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "session key column",
                   TypeConverters.toString)
    typeCol = Param(Params._dummy(), "typeCol", "event-type column",
                    TypeConverters.toString)
    idCol = Param(Params._dummy(), "idCol",
                  "unique id column (deterministic tie-break)",
                  TypeConverters.toString)
    gapSec = Param(Params._dummy(), "gapSec",
                   "max inactivity inside a session (seconds)",
                   TypeConverters.toFloat)
    pathLen = Param(Params._dummy(), "pathLen",
                    "leading events kept per session",
                    TypeConverters.toInt)
    topN = Param(Params._dummy(), "topN", "paths returned",
                 TypeConverters.toInt)

    _defaults = dict(timeCol="ts", keyCol="user_id",
                     typeCol="event_type", idCol="event_id",
                     gapSec=1800.0, pathLen=3, topN=20)

    def setGapSec(self, v):
        if v <= 0:
            raise ValueError("gapSec must be positive")
        return self._set(gapSec=float(v))

    def setPathLen(self, v):
        if v < 1:
            raise ValueError("pathLen must be at least 1")
        return self._set(pathLen=int(v))

    def setTopN(self, v):
        if v < 1:
            raise ValueError("topN must be at least 1")
        return self._set(topN=int(v))

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        ty = self.getOrDefault(self.typeCol)
        rid = self.getOrDefault(self.idCol)
        gap_us = int(self.getOrDefault(self.gapSec) * 1_000_000)
        plen = self.getOrDefault(self.pathLen)
        topn = self.getOrDefault(self.topN)

        base = (df.filter(F.col(t).isNotNull() & F.col(k).isNotNull()
                          & F.col(ty).isNotNull()
                          & F.col(rid).isNotNull())
                .select(F.col(k).alias("__k"),
                        F.unix_micros(F.col(t)).alias("__us"),
                        F.col(ty).cast("string").alias("__ty"),
                        F.col(rid).alias("__id")))
        order = [F.col("__us"), F.col("__id")]
        w = Window.partitionBy("__k").orderBy(*order)
        new_s = F.when(
            F.col("__us") - F.lag("__us").over(w) > gap_us, 1) \
            .otherwise(0)
        tagged = (base.withColumn("__new", F.coalesce(new_s, F.lit(0)))
                  .withColumn("__sid", F.sum("__new").over(
                      w.rowsBetween(Window.unboundedPreceding,
                                    Window.currentRow))))
        ws = Window.partitionBy("__k", "__sid").orderBy(*order)
        ranked = (tagged.withColumn("__rn", F.row_number().over(ws))
                  .filter(F.col("__rn") <= plen))
        paths = (ranked.groupBy("__k", "__sid")
                 .agg(F.concat_ws(">", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("__rn", "__ty"))),
                     lambda s: s["__ty"])).alias("path")))
        counts = paths.groupBy("path").agg(
            F.count(F.lit(1)).alias("n_sessions"))
        total = counts.agg(F.sum("n_sessions").alias("__tot"))
        ranked_paths = (counts.crossJoin(F.broadcast(total))
                        .withColumn("share",
                                    F.col("n_sessions")
                                    / F.col("__tot").cast("double"))
                        .withColumn("rank", F.row_number().over(
                            Window.orderBy(F.desc("n_sessions"),
                                           F.asc("path"))))
                        .filter(F.col("rank") <= topn))
        return ranked_paths.select("path", "n_sessions", "share",
                                   "rank")


class ConversionLagAnalyzer(AlgoOperator):
    """Anchor→target conversion lag with a horizon — the CEP-style
    "did B follow A within T, and how fast" readout (time-to-convert
    percentiles, abandonment rate): for every ANCHOR event (type A),
    find the next TARGET event (type B) of the same key strictly
    after it; it converts if the lag is ≤ ``horizonSec``.

    ``transform(df)`` returns one row per anchor::

        <keyCol>, <timeCol>   the anchor
        lag_sec               seconds to the next target (NULL if the
                              key never emits one after this anchor)
        converted             lag_sec ≤ horizonSec

    ``evaluate(df, group_cols)`` rolls anchors up (default: one
    global row)::

        n_anchors, n_converted, conversion_rate,
        p50_lag, p90_lag     exact percentiles over CONVERTED lags

    100 TB design: no join — ONE per-key window pass computes each
    row's next-target time (min over the FOLLOWING frame of the
    target-time column), so the cost is the keyed sort Spark already
    pays for any per-key sequence op; percentiles aggregate the
    anchor-sized output.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "entity key column",
                   TypeConverters.toString)
    typeCol = Param(Params._dummy(), "typeCol", "event-type column",
                    TypeConverters.toString)
    anchorType = Param(Params._dummy(), "anchorType", "type A",
                       TypeConverters.toString)
    targetType = Param(Params._dummy(), "targetType", "type B",
                       TypeConverters.toString)
    horizonSec = Param(Params._dummy(), "horizonSec",
                       "conversion window (seconds)",
                       TypeConverters.toFloat)

    _defaults = dict(timeCol="ts", keyCol="user_id",
                     typeCol="event_type", horizonSec=3600.0)

    def setPattern(self, anchor: str, target: str):
        if anchor == target:
            raise ValueError("anchor and target types must differ")
        return self._set(anchorType=anchor, targetType=target)

    def setHorizonSec(self, v):
        if v <= 0:
            raise ValueError("horizonSec must be positive")
        return self._set(horizonSec=float(v))

    def _anchors(self, df: DataFrame) -> DataFrame:
        if (not self.isDefined(self.anchorType)
                or not self.isDefined(self.targetType)):
            raise ValueError("setPattern(anchor, target) is required")
        from pyspark.sql import Window

        a = self.getOrDefault(self.anchorType)
        b = self.getOrDefault(self.targetType)
        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        ty = F.col(self.getOrDefault(self.typeCol)).cast("string")
        hz_us = int(self.getOrDefault(self.horizonSec) * 1_000_000)
        base = (df.filter(F.col(t).isNotNull() & F.col(k).isNotNull()
                          & ty.isin(a, b))
                .select(F.col(k).alias("__k"),
                        F.unix_micros(F.col(t)).alias("__us"),
                        ty.alias("__ty"), F.col(t).alias("__t"),
                        "*"))
        # (time, type) order: deterministic across engines when an
        # anchor and a target share a timestamp (same-instant targets
        # sort first and therefore do NOT convert the anchor)
        w = (Window.partitionBy("__k").orderBy("__us", "__ty")
             .rowsBetween(1, Window.unboundedFollowing))
        next_b = F.min(F.when(F.col("__ty") == b,
                              F.col("__us"))).over(w)
        lag = (next_b - F.col("__us")) / 1e6
        return (base.withColumn("__lag", lag)
                .filter(F.col("__ty") == a)
                .withColumn("lag_sec", F.col("__lag"))
                .withColumn("converted",
                            F.coalesce(F.col("__lag")
                                       <= hz_us / 1e6, F.lit(False))))

    def transform(self, df: DataFrame) -> DataFrame:
        k = self.getOrDefault(self.keyCol)
        t = self.getOrDefault(self.timeCol)
        return self._anchors(df).select(
            F.col("__k").alias(k), F.col("__t").alias(t),
            "lag_sec", "converted")

    def evaluate(self, df: DataFrame,
                 group_cols: list[str] | None = None) -> DataFrame:
        anchors = self._anchors(df)
        gs = group_cols or []
        conv_lag = F.when(F.col("converted"), F.col("lag_sec"))
        return anchors.groupBy(*gs).agg(
            F.count(F.lit(1)).alias("n_anchors"),
            F.sum(F.col("converted").cast("int")).alias("n_converted"),
            F.avg(F.col("converted").cast("double"))
            .alias("conversion_rate"),
            F.percentile(conv_lag, F.lit(0.5)).alias("p50_lag"),
            F.percentile(conv_lag, F.lit(0.9)).alias("p90_lag"))
