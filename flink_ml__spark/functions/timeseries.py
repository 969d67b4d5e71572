"""Hypertable-style time-bucket rollups with gap filling.

``TimeBucketRollup`` reproduces the continuous-aggregate /
``time_bucket_gapfill`` pattern of time-series stores (TimescaleDB's
``time_bucket_gapfill`` + ``locf``/``interpolate``, InfluxDB's
``aggregateWindow`` + ``fill``): fixed-width per-key bucket aggregates,
densified so every key emits a row for EVERY bucket between its first
and last event, with empty buckets filled by a chosen policy. Spark has
the bucketing (``F.window``) but no gap filling — a naive
per-key driver loop or a calendar cross join both collapse at scale;
the per-key ``sequence`` explode below stays distributed and
proportional to the OUTPUT size.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator

_FILLS = ("null", "zero", "locf", "interp")


class TimeBucketRollup(AlgoOperator):
    """Per-key fixed-width time-bucket aggregation with gap fill.

    ``transform(df)`` returns one row per (key, bucket) for every
    bucket in ``[floor(first event), floor(last event)]`` of that key::

        <keyCol>      the key
        bucket_start  timestamp of the bucket's left edge
        n_events      events in the bucket (0 for gap rows)
        sum_value     sum of ``valueCol`` over the bucket's events
        avg_value     mean of ``valueCol``, gap rows filled per
                      ``fill``: 'null' (leave NULL), 'zero',
                      'locf' (carry the last observed bucket's mean
                      forward), 'interp' (linear between the previous
                      and next observed buckets' means; edges fall
                      back to the nearest observed value)

    ``sum_value`` on gap rows is 0 for fill='zero' and NULL otherwise
    (a carried/interpolated SUM is not meaningful; locf/interp are
    level-fill policies, applied to the level metric ``avg_value``).

    100 TB design: the aggregate is one ``groupBy(key, window)``
    shuffle with map-side partial merge. Densification derives each
    key's bucket span FROM the aggregate output (O(keys·buckets), not
    O(events)) and explodes a per-key ``sequence`` — output-
    proportional, no calendar table broadcast, no driver loop. The
    fill pass is a per-key window over BUCKET rows, whose count is
    bounded by time_range/width per key (thousands, not the event
    count) — WindowExec state stays small no matter how many raw
    events a key has. Skewed keys therefore cost what their time span
    costs, not what their event volume costs.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "numeric metric column",
                     TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "bucket width in seconds",
                           TypeConverters.toFloat)
    fill = Param(Params._dummy(), "fill",
                 "gap policy for avg_value: null|zero|locf|interp",
                 TypeConverters.toString)

    _defaults = dict(timeCol="ts", keyCol="user_id", valueCol="value",
                     bucketWidthSec=86400.0, fill="locf")

    def setFill(self, v):
        if v not in _FILLS:
            raise ValueError(f"fill must be one of {_FILLS}")
        return self._set(fill=v)

    def bucket_aggregates(self, df: DataFrame) -> DataFrame:
        """(key, __bk bucket index, n_events, sum_value, avg_value) —
        observed buckets only; the one event-volume shuffle."""
        k, t, v = self.getKeyCol(), self.getTimeCol(), self.getValueCol()
        bw_us = int(self.getBucketWidthSec() * 1_000_000)
        if bw_us <= 0:
            raise ValueError("bucketWidthSec must be > 0")
        bk = F.floor(F.unix_micros(F.col(t).cast("timestamp")) / bw_us)
        # __nv (non-NULL value count) rides along so merge_aggregates
        # can recompute the mean exactly: n_events counts ALL rows,
        # which is the wrong avg denominator when valueCol has NULLs
        return (df.filter(F.col(t).isNotNull())
                .groupBy(F.col(k), bk.alias("__bk"))
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.count(v).alias("__nv"),
                     F.sum(v).alias("sum_value"),
                     F.avg(v).alias("avg_value")))

    def merge_aggregates(self, old: DataFrame,
                         new_df: DataFrame) -> DataFrame:
        """Incremental continuous-aggregate maintenance: fold a new
        batch of raw events into an existing :meth:`bucket_aggregates`
        table WITHOUT rescanning history — count/sum merge additively
        and the mean recomputes from them, so
        ``merge_aggregates(bucket_aggregates(a), b) ==
        bucket_aggregates(a ∪ b)`` (bit-equal counts; sums/means up
        to fp summation order). Per-batch cost is one
        aggregation over the BATCH plus a groupBy over touched-bucket
        rows (the hypertable refresh shape; the foreachBatch body of
        a streaming rollup)."""
        k = self.getKeyCol()
        merged = old.unionByName(self.bucket_aggregates(new_df))
        return (merged.groupBy(k, "__bk")
                .agg(F.sum("n_events").alias("n_events"),
                     F.sum("__nv").alias("__nv"),
                     F.sum("sum_value").alias("sum_value"))
                .withColumn("avg_value",
                            # F.avg semantics: NULL when no non-NULL
                            # values (a 0 denominator), NULLs excluded
                            F.when(F.col("__nv") > 0,
                                   F.col("sum_value") / F.col("__nv"))))

    def gapfill(self, agg: DataFrame) -> DataFrame:
        """Densify + fill a :meth:`bucket_aggregates` (or
        :meth:`merge_aggregates`) table — the finalize step of the
        incremental path; ``transform`` = ``gapfill(bucket_aggregates
        (df))``."""
        k = self.getKeyCol()
        bw_us = int(self.getBucketWidthSec() * 1_000_000)
        # per-key span from the AGGREGATE (bucket-count sized, not
        # event sized); dense axis via sequence explode
        dense = (agg.groupBy(k)
                 .agg(F.min("__bk").alias("__b0"), F.max("__bk").alias("__b1"))
                 .select(k, F.explode(F.sequence("__b0", "__b1"))
                         .alias("__bk")))
        out = dense.join(agg.drop("__nv"), [k, "__bk"], "left")
        out = out.withColumn("n_events",
                             F.coalesce("n_events", F.lit(0)))
        fill = self.getFill()
        if fill == "zero":
            out = (out.withColumn("sum_value",
                                  F.coalesce("sum_value", F.lit(0.0)))
                   .withColumn("avg_value",
                               F.coalesce("avg_value", F.lit(0.0))))
        elif fill == "locf":
            w = (Window.partitionBy(k).orderBy("__bk")
                 .rowsBetween(Window.unboundedPreceding, 0))
            out = out.withColumn(
                "avg_value",
                F.coalesce("avg_value",
                           F.last("avg_value", ignorenulls=True).over(w)))
        elif fill == "interp":
            wp = (Window.partitionBy(k).orderBy("__bk")
                  .rowsBetween(Window.unboundedPreceding, 0))
            wn = (Window.partitionBy(k).orderBy("__bk")
                  .rowsBetween(0, Window.unboundedFollowing))
            obs_bk = F.when(F.col("avg_value").isNotNull(), F.col("__bk"))
            pv = F.last("avg_value", ignorenulls=True).over(wp)
            pb = F.last(obs_bk, ignorenulls=True).over(wp)
            nv = F.first("avg_value", ignorenulls=True).over(wn)
            nb = F.first(obs_bk, ignorenulls=True).over(wn)
            frac = ((F.col("__bk") - pb).cast("double")
                    / (nb - pb).cast("double"))
            interp = F.when(
                pv.isNull(), nv).when(
                nv.isNull(), pv).otherwise(pv + (nv - pv) * frac)
            out = out.withColumn(
                "avg_value", F.coalesce("avg_value", interp))
        return (out.withColumn(
            "bucket_start",
            F.timestamp_micros((F.col("__bk") * bw_us).cast("bigint")))
            .select(k, "bucket_start", "n_events", "sum_value",
                    "avg_value"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.gapfill(self.bucket_aggregates(df))


class TrendingItems(AlgoOperator):
    """Per-time-bucket top-k items by occurrence ("trending now" /
    windowed leaderboard): one bucket-keyed aggregation plus a keyed
    top-k. Output::

        bucket_start  timestamp of the bucket's left edge
        <itemCol>     the item
        n             occurrences in the bucket
        rank          1-based within the bucket (count desc, item asc)

    100 TB design: ``groupBy(bucket, item)`` is one partial-merged
    shuffle; the per-bucket top-k compiles to ``WindowGroupLimit``
    (running top-k pushed BELOW the window sort, per partition), so no
    bucket's full item list is ever materialized or globally sorted.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    itemCol = Param(Params._dummy(), "itemCol", "item column",
                    TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "bucket width in seconds",
                           TypeConverters.toFloat)
    topK = Param(Params._dummy(), "topK", "items per bucket",
                 TypeConverters.toInt)

    _defaults = dict(timeCol="ts", itemCol="event_type",
                     bucketWidthSec=86400.0, topK=3)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        item = self.getOrDefault(self.itemCol)
        bw_us = int(self.getOrDefault(self.bucketWidthSec) * 1_000_000)
        if bw_us <= 0:
            raise ValueError("bucketWidthSec must be > 0")
        bk = F.floor(F.unix_micros(F.col(t).cast("timestamp")) / bw_us)
        counts = (df.filter(F.col(t).isNotNull()
                            & F.col(item).isNotNull())
                  .groupBy(bk.alias("__bk"), F.col(item))
                  .agg(F.count(F.lit(1)).alias("n")))
        w = (Window.partitionBy("__bk")
             .orderBy(F.desc("n"), F.asc(item)))
        return (counts.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.getOrDefault(self.topK))
                .withColumn("bucket_start", F.timestamp_micros(
                    (F.col("__bk") * bw_us).cast("bigint")))
                .select("bucket_start", item, "n", "rank"))


class CohortRetention(AlgoOperator):
    """Cohort retention matrix over an event stream: users are
    cohorted by the time bucket of their FIRST event; for every
    (cohort, bucket-offset) cell the output counts how many of the
    cohort's users were active ``age`` buckets later. Output::

        cohort_start   timestamp of the cohort's bucket
        age            bucket offset >= 0 (0 = the cohort bucket)
        n_active       distinct cohort users active in that bucket
        cohort_size    distinct users in the cohort
        retention      n_active / cohort_size

    100 TB design: three bounded aggregations — (user, bucket)
    distinct activity (the only event-volume shuffle; partial
    map-side dedup), per-user min bucket (O(users)), and the final
    (cohort, age) count (O(users·active-buckets) input, O(cells)
    output). The cohort-assignment join is keyed on user — AQE
    broadcasts the O(users) side when small and shuffles co-keyed
    otherwise; no window functions, no per-cohort sort anywhere.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    userCol = Param(Params._dummy(), "userCol", "user id column",
                    TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "cohort/activity bucket width in seconds",
                           TypeConverters.toFloat)

    _defaults = dict(timeCol="ts", userCol="user_id",
                     bucketWidthSec=7 * 86400.0)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        u = self.getOrDefault(self.userCol)
        bw_us = int(self.getOrDefault(self.bucketWidthSec) * 1_000_000)
        if bw_us <= 0:
            raise ValueError("bucketWidthSec must be > 0")
        bk = F.floor(F.unix_micros(F.col(t).cast("timestamp")) / bw_us)
        active = (df.filter(F.col(t).isNotNull() & F.col(u).isNotNull())
                  .select(F.col(u).alias("__u"), bk.alias("__bk"))
                  .distinct())
        cohorts = active.groupBy("__u").agg(F.min("__bk").alias("__c"))
        sizes = cohorts.groupBy("__c").agg(
            F.count(F.lit(1)).alias("cohort_size"))
        cells = (active.join(cohorts, "__u")
                 .groupBy("__c", (F.col("__bk") - F.col("__c"))
                          .alias("age"))
                 .agg(F.count(F.lit(1)).alias("n_active")))
        return (cells.join(sizes, "__c")
                .withColumn("retention",
                            F.col("n_active") / F.col("cohort_size"))
                .withColumn("cohort_start", F.timestamp_micros(
                    (F.col("__c") * bw_us).cast("bigint")))
                .select("cohort_start", "age", "n_active",
                        "cohort_size", "retention"))


class FunnelAnalyzer(AlgoOperator):
    """Ordered-funnel conversion over an event stream: for a step
    sequence ``[s1, s2, ..., sK]``, a user completes step i when an
    event of type ``s_i`` occurs STRICTLY AFTER their completing
    event of step i-1 (earliest-completion semantics — each step
    binds to its first eligible event, the standard product-analytics
    funnel rule). ``transform(df)`` returns one row per user who
    completed at least step 1::

        <userCol>   the user
        t_step1..K  completion timestamps (NULL once the funnel broke)
        n_steps     number of completed steps (>= 1)

    ``summary(df)`` folds that into one row per step:
    ``(step, step_name, n_users, conversion)`` where conversion is
    relative to step-1 completers.

    100 TB design: NO per-user event sort (the window/sessionize
    formulation buffers each user's history; a skewed user pins one
    task). Step i is a ``groupBy(user).min(ts)`` over ONLY the
    ``s_i``-typed events joined against the step-(i-1) table on user
    — K tiny aggregations over type-filtered slices (each a pushed
    parquet predicate at the scan), each shuffling O(users) rows.
    Earliest-completion needs nothing else: min(eligible ts) is
    exactly the binding rule.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    userCol = Param(Params._dummy(), "userCol", "user id column",
                    TypeConverters.toString)
    typeCol = Param(Params._dummy(), "typeCol", "event type column",
                    TypeConverters.toString)
    steps = Param(Params._dummy(), "steps",
                  "ordered event types forming the funnel",
                  TypeConverters.toListString)

    _defaults = dict(timeCol="ts", userCol="user_id",
                     typeCol="event_type", steps=[])

    def setSteps(self, *v):
        steps = list(v[0]) if len(v) == 1 and isinstance(v[0], (list, tuple)) else list(v)
        if len(steps) < 1:
            raise ValueError("need at least one funnel step")
        return self._set(steps=steps)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        u = self.getOrDefault(self.userCol)
        ty = self.getOrDefault(self.typeCol)
        steps = self.getOrDefault(self.steps)
        if not steps:
            raise ValueError("setSteps(...) first")
        ev = df.filter(F.col(t).isNotNull() & F.col(u).isNotNull())
        cur = (ev.filter(F.col(ty) == steps[0])
               .groupBy(u).agg(F.min(t).alias("t_step1")))
        for i, s in enumerate(steps[1:], start=2):
            nxt = (ev.filter(F.col(ty) == s)
                   .select(F.col(u), F.col(t).alias("__t"))
                   .join(cur.select(u, f"t_step{i-1}"), u)
                   .filter(F.col("__t") > F.col(f"t_step{i-1}"))
                   .groupBy(u).agg(F.min("__t").alias(f"t_step{i}")))
            cur = cur.join(nxt.select(u, f"t_step{i}"), u, "left")
        n = sum([F.when(F.col(f"t_step{i}").isNotNull(), 1).otherwise(0)
                 for i in range(1, len(steps) + 1)])
        return cur.withColumn("n_steps", n.cast("int"))

    def summary(self, df: DataFrame) -> DataFrame:
        steps = self.getOrDefault(self.steps)
        per_user = self.transform(df)
        aggs = [F.count(F.col(f"t_step{i}")).alias(f"c{i}")
                for i in range(1, len(steps) + 1)]
        counts = per_user.agg(*aggs).collect()[0]
        spark = df.sparkSession
        base = counts["c1"] or 0
        return spark.createDataFrame(
            [(i, steps[i - 1], int(counts[f"c{i}"]),
              (counts[f"c{i}"] / base) if base else 0.0)
             for i in range(1, len(steps) + 1)],
            "step int, step_name string, n_users long, conversion double")


class RollingAnomalyDetector(AlgoOperator):
    """Rolling z-score anomaly flags over a per-key bucketed series
    (the monitoring companion of :class:`TimeBucketRollup`: feed it
    the rollup output, or any (key, time, value) frame). For each row,
    the mean and sample standard deviation of the PRIOR ``window``
    rows of the same key (current row excluded — no self-masking)
    give::

        roll_mean   trailing mean (NULL until `minPeriods` priors)
        roll_std    trailing sample std (NULL likewise, or when the
                    trailing window is constant)
        zscore      (value - roll_mean) / roll_std
        is_anomaly  |zscore| >= threshold (false where zscore NULL)

    100 TB design: one per-key window pass whose frame holds at most
    ``window`` rows — state is O(window) per task regardless of key
    volume; feed BUCKETED series (rollup output), not raw events, so
    partition row counts are time-span-bounded. Pure Catalyst window
    aggregates, no Python.
    """

    timeCol = Param(Params._dummy(), "timeCol", "ordering column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    window = Param(Params._dummy(), "window",
                   "trailing rows in the baseline", TypeConverters.toInt)
    minPeriods = Param(Params._dummy(), "minPeriods",
                       "prior rows required before scoring",
                       TypeConverters.toInt)
    threshold = Param(Params._dummy(), "threshold",
                      "|z| at/above which is_anomaly is true",
                      TypeConverters.toFloat)

    _defaults = dict(timeCol="bucket_start", keyCol="user_id",
                     valueCol="avg_value", window=24, minPeriods=5,
                     threshold=3.0)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = self.getOrDefault(self.valueCol)
        n = self.getOrDefault(self.window)
        mp = self.getOrDefault(self.minPeriods)
        w = (Window.partitionBy(k).orderBy(t)
             .rowsBetween(-n, -1))
        cnt = F.count(F.col(v)).over(w)
        mean = F.when(cnt >= mp, F.avg(F.col(v)).over(w))
        std = F.when(cnt >= mp, F.stddev_samp(F.col(v)).over(w))
        z = F.when(F.col("roll_std") > 0,
                   (F.col(v) - F.col("roll_mean")) / F.col("roll_std"))
        return (df.withColumn("roll_mean", mean)
                .withColumn("roll_std", std)
                .withColumn("zscore", z)
                .withColumn("is_anomaly",
                            F.coalesce(
                                F.abs(F.col("zscore"))
                                >= self.getOrDefault(self.threshold),
                                F.lit(False))))


class SCD2Builder(AlgoOperator):
    """Type-2 slowly-changing-dimension history from a change stream:
    ``transform(df)`` turns (key, ts, attributes) change records into
    validity intervals::

        <keyCol>     the dimension key
        <attrCols>   the tracked attribute columns
        valid_from   this version's first effective time
        valid_to     next version's start (exclusive; NULL = current)
        is_current   valid_to IS NULL

    Consecutive records whose tracked attributes are UNCHANGED
    collapse into one interval (change compression — re-stating the
    same value does not open a new version); the earliest record wins
    ties at the same timestamp deterministically via a stable
    tiebreak on the attribute tuple. NULL attribute values compare
    via null-safe equality (NULL == NULL is "unchanged").

    100 TB design: one per-key window pass over CHANGE records (not
    raw fact volume — upstream dedup/CDC extraction bounds per-key
    rows), a lag comparison for compression, then a lead for the
    interval close. Pure Catalyst, no Python, no joins.
    """

    keyCol = Param(Params._dummy(), "keyCol", "dimension key column",
                   TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol", "change-time column",
                    TypeConverters.toString)
    attrCols = Param(Params._dummy(), "attrCols",
                     "tracked attribute columns",
                     TypeConverters.toListString)

    _defaults = dict(keyCol="user_id", timeCol="ts", attrCols=[])

    def setAttrCols(self, *v):
        cols = (list(v[0]) if len(v) == 1 and isinstance(v[0], (list, tuple))
                else list(v))
        if not cols:
            raise ValueError("need at least one attribute column")
        return self._set(attrCols=cols)

    def transform(self, df: DataFrame) -> DataFrame:
        k = self.getOrDefault(self.keyCol)
        t = self.getOrDefault(self.timeCol)
        attrs = self.getOrDefault(self.attrCols)
        if not attrs:
            raise ValueError("setAttrCols(...) first")
        src = df.filter(F.col(k).isNotNull() & F.col(t).isNotNull()) \
            .select(k, t, *attrs)
        order = [F.col(t).asc()] + [F.col(a).asc_nulls_first()
                                    for a in attrs]
        w = Window.partitionBy(k).orderBy(*order)
        changed = F.lit(False)
        for a in attrs:
            changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
        first = F.lag(t).over(w).isNull()
        versions = (src
                    .withColumn("__new", first | changed)
                    .filter(F.col("__new")).drop("__new"))
        w2 = Window.partitionBy(k).orderBy(*order)
        return (versions
                .withColumn("valid_from", F.col(t))
                .withColumn("valid_to", F.lead(t).over(w2))
                .withColumn("is_current", F.col("valid_to").isNull())
                .drop(t))


class MeanShiftDetector(AlgoOperator):
    """Sliding two-window change-point scoring over a per-key series
    — the "window" method of the change-point literature (cf. Truong,
    Oudre & Vayatis 2020's review; for the sequential CUSUM
    alternative see :class:`CusumDetector`): at each
    row, compare the mean of the ``window`` rows BEFORE against the
    mean of the ``window`` rows starting AT the row.

    Appends::

        mean_before  trailing-window mean (NULL until full)
        mean_after   leading-window mean, current row included
                     (NULL until full)
        shift        |mean_after − mean_before| (NULL likewise)
        is_shift     shift >= threshold (false where NULL)

    Feed a BUCKETED series (e.g. :class:`TimeBucketRollup` output)
    so (key, time) is unique — duplicate timestamps make window
    frames order-ambiguous.

    100 TB design: one per-key window pass, frame ≤ 2·``window``
    rows, state O(window) per task; pure Catalyst window aggregates,
    no Python, exact SQL replay with the same ROWS BETWEEN frames.
    """

    timeCol = Param(Params._dummy(), "timeCol", "ordering column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    window = Param(Params._dummy(), "window",
                   "rows per side of the contrast",
                   TypeConverters.toInt)
    threshold = Param(Params._dummy(), "threshold",
                      "shift at/above which is_shift is true",
                      TypeConverters.toFloat)

    _defaults = dict(timeCol="bucket_start", keyCol="user_id",
                     valueCol="avg_value", window=12,
                     threshold=1.0)

    def setWindow(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"window must be >= 1, got {v}")
        return self._set(window=v)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = self.getOrDefault(self.valueCol)
        n = self.getOrDefault(self.window)
        base = Window.partitionBy(k).orderBy(t)
        wb = base.rowsBetween(-n, -1)
        wa = base.rowsBetween(0, n - 1)
        mb = F.when(F.count(F.col(v)).over(wb) == n,
                    F.avg(F.col(v)).over(wb))
        ma = F.when(F.count(F.col(v)).over(wa) == n,
                    F.avg(F.col(v)).over(wa))
        out = (df.withColumn("mean_before", mb)
               .withColumn("mean_after", ma)
               .withColumn("shift",
                           F.abs(F.col("mean_after")
                                 - F.col("mean_before"))))
        return out.withColumn(
            "is_shift",
            F.coalesce(F.col("shift")
                       >= self.getOrDefault(self.threshold),
                       F.lit(False)))


class ExponentialSmoother(AlgoOperator):
    """Exponentially weighted moving average + one-step-ahead forecast
    over a per-key series (Brown/Holt simple exponential smoothing;
    weighting identical to pandas ``ewm(alpha, adjust=True)`` truncated
    at ``maxLag`` terms). For each row (ordered by ``timeCol`` within
    ``keyCol``)::

        ewma        Σ r^lag·x / Σ r^lag over the trailing maxLag
                    values INCLUDING the current row (r = 1 − alpha)
        forecast    the most recent PRIOR non-NULL ewma — the classic
                    one-step-ahead SES forecast for this row
        residual    value − forecast (NULL on each key's first row)

    Truncation at ``maxLag`` is the scale design, not a shortcut: the
    untruncated recurrence either runs sequentially per key or needs
    r^-lag partial sums that overflow float64 within a few thousand
    rows, while the truncated weighted mean is ONE bounded window frame
    — O(maxLag) state per row, relative error ≤ r^maxLag (≈1e-8 at
    r=0.7, maxLag=50; pick maxLag ≥ ln(ε)/ln(r)). Pure Catalyst:
    ``collect_list`` over the frame + indexed-``transform`` dot
    product; NULL values are dropped from the frame (pandas
    ``ignore_na=True`` semantics) but keep their own NULL-ewma row.
    """

    timeCol = Param(Params._dummy(), "timeCol", "ordering column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    alpha = Param(Params._dummy(), "alpha",
                  "smoothing factor in (0, 1]", TypeConverters.toFloat)
    maxLag = Param(Params._dummy(), "maxLag",
                   "trailing terms kept (truncation horizon)",
                   TypeConverters.toInt)

    _defaults = dict(timeCol="bucket_start", keyCol="user_id",
                     valueCol="avg_value", alpha=0.3, maxLag=50)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = self.getOrDefault(self.valueCol)
        a = self.getOrDefault(self.alpha)
        lag_n = self.getOrDefault(self.maxLag)
        if not (0.0 < a <= 1.0):
            raise ValueError(f"alpha must be in (0, 1], got {a}")
        r = 1.0 - a
        frame = (Window.partitionBy(k).orderBy(t)
                 .rowsBetween(-(lag_n - 1), 0))
        # collect_list drops NULLs from the frame; the newest kept
        # value sits at index size-1
        xs = F.collect_list(F.col(v).cast("double")).over(frame)
        n = F.size("__xs")
        num = F.aggregate(
            F.transform("__xs",
                        lambda x, i: x * F.pow(F.lit(r), n - 1 - i)),
            F.lit(0.0), lambda acc, x: acc + x)
        # Σ r^lag, lag = 0..n-1 — closed form (α=1 ⇒ r=0 ⇒ den=1)
        den = (F.when(F.lit(r) == 0.0, F.lit(1.0))
               .otherwise((1 - F.pow(F.lit(r), n)) / F.lit(1.0 - r)))
        ordered = Window.partitionBy(k).orderBy(t)
        out = (df.withColumn("__xs", xs)
               .withColumn("ewma",
                           F.when(F.col(v).isNotNull()
                                  & (n > 0), num / den))
               .drop("__xs"))
        fc = F.last("ewma", ignorenulls=True).over(
            ordered.rowsBetween(Window.unboundedPreceding, -1))
        return (out.withColumn("forecast", fc)
                .withColumn("residual", F.col(v) - F.col("forecast")))


class InterArrivalProfiler(AlgoOperator):
    """Inter-arrival-time profile per series key — the burstiness
    telemetry that separates steady heartbeats from bursty/flaky
    event sources (Goh & Barabási, "Burstiness and memory in complex
    systems", EPL 2008)::

        n_events     rows for the key
        n_gaps       n_events − 1 (NULL-ts rows dropped)
        mean_gap_s   mean inter-arrival seconds
        std_gap_s    sample stddev of the gaps (NULL for < 2 gaps)
        cv           std/mean coefficient of variation
        burstiness   (cv − 1)/(cv + 1): −1 periodic, 0 Poisson,
                     → 1 maximally bursty

    One ``lag`` window pass (key-partitioned, time-ordered; ties break
    on a deterministic second key so both engines difference the same
    sequence) feeding one aggregate — two exchanges total, output
    O(keys)."""

    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    tieCol = Param(Params._dummy(), "tieCol",
                   "deterministic tie-break column within equal "
                   "timestamps", TypeConverters.toString)

    _defaults = dict(keyCol="event_type", timeCol="ts",
                     tieCol="event_id")

    def transform(self, df: DataFrame) -> DataFrame:
        k = self.getOrDefault(self.keyCol)
        t = self.getOrDefault(self.timeCol)
        tb = self.getOrDefault(self.tieCol)
        base = df.filter(F.col(t).isNotNull())
        w = Window.partitionBy(k).orderBy(t, tb)
        us = F.unix_micros(F.col(t).cast("timestamp"))
        gap = (us - F.lag(us).over(w)) / F.lit(1e6)
        gaps = base.withColumn("__gap", gap)
        out = (gaps.groupBy(k).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("__gap").alias("n_gaps"),
            F.avg("__gap").alias("mean_gap_s"),
            F.stddev_samp("__gap").alias("std_gap_s")))
        cv = (F.when(F.col("mean_gap_s") > 0,
                     F.col("std_gap_s") / F.col("mean_gap_s")))
        return out.select(
            k, "n_events", "n_gaps",
            (F.floor((F.col("mean_gap_s")) * 1e6 + 0.5) / 1e6).alias("mean_gap_s"),
            (F.floor((F.col("std_gap_s")) * 1e6 + 0.5) / 1e6).alias("std_gap_s"),
            (F.floor((cv) * 1e6 + 0.5) / 1e6).alias("cv"),
            (F.floor(((cv - 1) / (cv + 1)) * 1e6 + 0.5) / 1e6).alias("burstiness"))


class HoltForecaster(AlgoOperator):
    """Holt double exponential smoothing (Holt, "Forecasting seasonals
    and trends by exponentially weighted moving averages", 1957) —
    level + linear trend per series key, the standard next tier above
    :class:`ExponentialSmoother` when series drift::

        l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    initialized ``l_1 = x_1, b_1 = 0``; NULL values are dropped from
    the series. Output one row per key::

        n          non-NULL observations folded
        level      final l_T
        trend      final b_T (per observation step)
        forecast   l_T + horizon·b_T

    The recursion is inherently sequential, so it folds ONCE per key
    over the time-sorted value array (``array_sort(collect_list)`` +
    ``F.aggregate``): state is O(1), the shuffle carries each series
    once, and the per-key memory bound is the series length — the same
    contract as :class:`SeasonalDecomposer` (resample/bucket first for
    billion-point keys; at 100 TB the series per entity is the small
    dimension). The fold order is deterministic (ties on the time
    column break by value), so the DuckDB ``list_reduce`` oracle
    replays the EXACT IEEE-double sequence — no tolerance band."""

    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol", "ordering column",
                    TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    alpha = Param(Params._dummy(), "alpha",
                  "level smoothing factor in (0, 1]",
                  TypeConverters.toFloat)
    beta = Param(Params._dummy(), "beta",
                 "trend smoothing factor in [0, 1]",
                 TypeConverters.toFloat)
    horizon = Param(Params._dummy(), "horizon",
                    "forecast steps ahead (>= 1)", TypeConverters.toInt)

    _defaults = dict(keyCol="event_type", timeCol="ts",
                     valueCol="value", alpha=0.5, beta=0.3,
                     horizon=1)

    def setAlpha(self, v):
        v = float(v)
        if not (0.0 < v <= 1.0):
            raise ValueError(f"alpha must be in (0, 1], got {v}")
        return self._set(alpha=v)

    def setBeta(self, v):
        v = float(v)
        if not (0.0 <= v <= 1.0):
            raise ValueError(f"beta must be in [0, 1], got {v}")
        return self._set(beta=v)

    def setHorizon(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"horizon must be >= 1, got {v}")
        return self._set(horizon=v)

    def transform(self, df: DataFrame) -> DataFrame:
        k = self.getOrDefault(self.keyCol)
        t = self.getOrDefault(self.timeCol)
        v = self.getOrDefault(self.valueCol)
        a = F.lit(self.getOrDefault(self.alpha))
        b = F.lit(self.getOrDefault(self.beta))
        h = self.getOrDefault(self.horizon)

        series = (df.filter(F.col(v).isNotNull())
                  .groupBy(k)
                  .agg(F.array_sort(F.collect_list(F.struct(
                      F.col(t).alias("t"),
                      F.col(v).cast("double").alias("x"))))
                      .alias("__s")))
        xs = F.transform("__s", lambda s: s["x"])

        def step(acc, x):
            lvl = a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
            return F.struct(
                lvl.alias("l"),
                (b * (lvl - acc["l"])
                 + (F.lit(1.0) - b) * acc["b"]).alias("b"))

        zero = F.struct(F.element_at(xs, 1).alias("l"),
                        F.lit(0.0).alias("b"))
        fin = F.aggregate(F.slice(xs, 2, F.greatest(
            F.size(xs) - 1, F.lit(0))), zero, step)
        return (series
                .withColumn("__f", fin)
                .select(k,
                        F.size("__s").alias("n"),
                        (F.floor((F.col("__f.l")) * 1e6 + 0.5) / 1e6).alias("level"),
                        (F.floor((F.col("__f.b")) * 1e6 + 0.5) / 1e6).alias("trend"),
                        (F.floor((F.col("__f.l")
                                + F.lit(float(h)) * F.col("__f.b")) * 1e6 + 0.5) / 1e6)
                        .alias("forecast")))


class TransitionMatrix(AlgoOperator):
    """First-order Markov transition profile over per-key event
    sequences: for every observed (state → next_state) pair, the
    count and the row-normalized transition probability — the standard
    behavioral-flow readout (what do users do after a click?).

    Semantics: events are ordered by ``timeCol`` WITHIN each
    ``keyCol`` (ties broken by the state value so the result is
    layout-independent); the last event of each key has no successor
    and contributes no pair; NULL states/keys/times are excluded.

    Scale shape: one keyed window (``lead`` over the per-key order —
    a single shuffle on the key, the engine's sessionizer shape, never
    a global sort) followed by one hash aggregation whose output is
    O(states²) — a model-sized table. ``probabilities()`` adds the
    per-source normalization via a broadcast-sized self-aggregation.
    """

    keyCol = Param(Params._dummy(), "keyCol", "sequence key column",
                   TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol", "event-order column",
                    TypeConverters.toString)
    stateCol = Param(Params._dummy(), "stateCol", "state label column",
                     TypeConverters.toString)

    _defaults = dict(keyCol="user_id", timeCol="ts",
                     stateCol="event_type")

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        k = F.col(self.getOrDefault(self.keyCol))
        t = F.col(self.getOrDefault(self.timeCol))
        s = F.col(self.getOrDefault(self.stateCol)).cast("string")
        base = (df.filter(k.isNotNull() & t.isNotNull() & s.isNotNull())
                .select(k.alias("__k"), t.alias("__t"), s.alias("__s")))
        w = Window.partitionBy("__k").orderBy(F.col("__t").asc(),
                                              F.col("__s").asc())
        pairs = (base.withColumn("__next", F.lead("__s").over(w))
                 .filter(F.col("__next").isNotNull()))
        counts = (pairs.groupBy(F.col("__s").alias("state"),
                                F.col("__next").alias("next_state"))
                  .agg(F.count(F.lit(1)).alias("n")))
        tot = counts.groupBy("state").agg(F.sum("n").alias("__tot"))
        return (counts.join(F.broadcast(tot), "state")
                .withColumn("prob", F.col("n") / F.col("__tot"))
                .drop("__tot"))


class OhlcRollup(AlgoOperator):
    """Per-key fixed-width OHLC (open/high/low/close) time-bucket
    rollup — the candlestick shape every metrics/financial downsampler
    needs, and the piece ``TimeBucketRollup`` (sum/avg) doesn't cover
    because open/close are ORDER statistics, not algebraic aggregates.

    One row per observed (key, bucket)::

        <keyCol>, bucket_start,
        open   first value by (time, value) in the bucket
        high   max value
        low    min value
        close  last value by (time, value)
        n_events

    Open/close order by ``(timeCol, valueCol)`` — the value tie-break
    makes equal-timestamp buckets deterministic under any partitioning
    (same contract as ``TransitionMatrix``). NULL values/times/keys
    are excluded.

    100 TB shape: ONE ``groupBy(key, bucket)`` aggregation; open and
    close ride the same hash aggregate as ``min_by``/``max_by`` over a
    (time, value) struct — no per-bucket window, no row sort, map-side
    partial merge like any min/max.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "numeric metric column",
                     TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "bucket width in seconds",
                           TypeConverters.toFloat)

    _defaults = dict(timeCol="ts", keyCol="event_type",
                     valueCol="value", bucketWidthSec=3600.0)

    def setBucketWidthSec(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError("bucketWidthSec must be > 0")
        return self._set(bucketWidthSec=v)

    def transform(self, df: DataFrame) -> DataFrame:
        k = F.col(self.getOrDefault(self.keyCol))
        t = F.col(self.getOrDefault(self.timeCol))
        v = F.col(self.getOrDefault(self.valueCol)).cast("double")
        w_us = int(self.getOrDefault(self.bucketWidthSec) * 1_000_000)
        base = (df.filter(k.isNotNull() & t.isNotNull() & v.isNotNull())
                .select(k.alias("__k"), v.alias("__v"),
                        F.unix_micros(t).alias("__us")))
        # floor division, NOT us - (us % w): Spark's % takes the
        # dividend's sign, so pre-1970 (negative-micros) timestamps
        # would round toward zero instead of flooring — diverging from
        # the F.window() alignment the streaming twin (stream_ohlc)
        # uses. floor() keeps both sides bucket-identical everywhere.
        bucket = F.timestamp_micros(
            (F.floor(F.col("__us") / w_us) * w_us).cast("bigint"))
        order = F.struct(F.col("__us"), F.col("__v"))
        return (base
                .groupBy(F.col("__k").alias(self.getOrDefault(self.keyCol)),
                         bucket.alias("bucket_start"))
                .agg(F.min_by("__v", order).alias("open"),
                     F.max("__v").alias("high"),
                     F.min("__v").alias("low"),
                     F.max_by("__v", order).alias("close"),
                     F.count(F.lit(1)).alias("n_events")))


class AutocorrelationAnalyzer(AlgoOperator):
    """Sample autocorrelation function (ACF) per key: for each lag
    ``1..maxLag`` over a per-key series ordered by ``timeCol``,

        acf(k) = Σ_t (x_t − x̄)(x_{t−k} − x̄) / Σ_t (x_t − x̄)²

    with the key's full-series mean x̄ (the standard biased sample
    ACF — numerator over n−k pairs, denominator over all n). The
    argmax lag of a strongly positive ACF is the classic
    seasonality-period detector for bucketed telemetry.

    One row per (key, lag)::

        <keyCol>   the key
        lag        1..maxLag (lags with zero overlapping pairs —
                   series shorter than the lag — emit no row)
        n_pairs    overlapping pairs at that lag
        acf        NULL for constant series (zero variance)

    Feed a BUCKETED series (e.g. :class:`TimeBucketRollup` output) so
    (key, time) is unique — duplicate timestamps make lag frames
    order-ambiguous. NULL values/times/keys are dropped first.

    100 TB design: one window sort per key computes all ``maxLag``
    lagged copies in a single pass (no self-joins), an inline
    explode reshapes to (key, lag) rows map-side, and one hash
    aggregation finishes — 2 shuffles total, state O(maxLag) per row.
    Exact SQL window replay; no Python in the plan.
    """

    timeCol = Param(Params._dummy(), "timeCol", "ordering column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    maxLag = Param(Params._dummy(), "maxLag",
                   "largest lag to evaluate", TypeConverters.toInt)

    _defaults = dict(timeCol="bucket_start", keyCol="user_id",
                     valueCol="avg_value", maxLag=12)

    def setMaxLag(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"maxLag must be >= 1, got {v}")
        return self._set(maxLag=v)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = self.getOrDefault(self.valueCol)
        lags = self.getOrDefault(self.maxLag)
        base = (df.filter(F.col(k).isNotNull() & F.col(t).isNotNull()
                          & F.col(v).isNotNull())
                .select(F.col(k).alias("__k"), F.col(t).alias("__t"),
                        F.col(v).cast("double").alias("__x")))
        part = Window.partitionBy("__k")
        w = part.orderBy("__t")
        # per-key mean and centered-square denominator, carried on
        # every row by unbounded window aggregates (no join)
        dev = F.col("__x") - F.avg("__x").over(part)
        rows = base.withColumn("__dev", dev).withColumn(
            "__den", F.sum(dev * dev).over(part))
        # materialize every lagged deviation in ONE window pass, then
        # explode plain columns (window expressions are not allowed
        # inside a generator)
        lagged = rows.select(
            "__k", "__den", "__dev",
            *[F.lag("__dev", i).over(w).alias(f"__lag_{i}")
              for i in range(1, lags + 1)])
        pairs = lagged.select(
            "__k", "__den",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("lag"),
                         (F.col("__dev")
                          * F.col(f"__lag_{i}")).alias("prod"))
                for i in range(1, lags + 1)])).alias("p"))
        return (pairs.select("__k", "__den", "p.lag", "p.prod")
                .filter(F.col("prod").isNotNull())
                .groupBy(F.col("__k").alias(k), "lag")
                .agg(F.count(F.lit(1)).alias("n_pairs"),
                     F.when(F.first("__den") > 0,
                            F.sum("prod") / F.first("__den"))
                      .alias("acf")))


class SeasonalDecomposer(AlgoOperator):
    """Phase-mean seasonal decomposition of a per-key bucketed series
    — the classical-decomposition seasonal step (seasonal component =
    mean of all observations sharing a phase), the natural companion
    to :class:`AutocorrelationAnalyzer`: detect the period from the
    ACF peak, then remove it here before anomaly/trend logic.

    Buckets are derived from the raw timestamp: ``bucket = floor(us /
    width)``, ``phase = bucket mod period``. Appends::

        phase           0..period-1
        phase_mean      key's mean of ``valueCol`` at that phase
        deseasonalized  value − phase_mean + key_mean (seasonal
                        swing removed, level preserved)

    NULL key/time rows drop; NULL values pass through (they join
    their phase's mean but contribute nothing to it).

    100 TB design: two window aggregates over the same (key[, phase])
    partitioning — no joins, no Python; one shuffle on (key) with
    phase computed in the projection. Exact SQL window replay.
    """

    timeCol = Param(Params._dummy(), "timeCol", "timestamp column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "bucket width in seconds",
                           TypeConverters.toFloat)
    period = Param(Params._dummy(), "period",
                   "season length in buckets", TypeConverters.toInt)

    _defaults = dict(timeCol="ts", keyCol="user_id",
                     valueCol="value", bucketWidthSec=3600.0,
                     period=24)

    def setBucketWidthSec(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError(f"bucketWidthSec must be > 0, got {v}")
        return self._set(bucketWidthSec=v)

    def setPeriod(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"period must be >= 2, got {v}")
        return self._set(period=v)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = self.getOrDefault(self.valueCol)
        w_us = int(self.getOrDefault(self.bucketWidthSec) * 1_000_000)
        p = self.getOrDefault(self.period)
        base = df.filter(F.col(k).isNotNull() & F.col(t).isNotNull())
        phase = F.pmod(F.floor(F.unix_micros(F.col(t)) / w_us),
                       F.lit(p)).cast("int")
        out = base.withColumn("phase", phase)
        by_phase = Window.partitionBy(k, "phase")
        by_key = Window.partitionBy(k)
        x = F.col(v).cast("double")
        out = (out
               .withColumn("phase_mean", F.avg(x).over(by_phase))
               .withColumn("deseasonalized",
                           x - F.col("phase_mean")
                           + F.avg(x).over(by_key)))
        return out


class CusumDetector(AlgoOperator):
    """Two-sided CUSUM change detection (Page 1954) over a per-key
    ordered series — the sequential-analysis classic for small
    persistent mean shifts, complementing
    :class:`MeanShiftDetector`'s sliding two-window contrast.

    The textbook recursion ``S⁺_t = max(0, S⁺_{t−1} + x_t − μ − k)``
    LOOKS unexpressible in window functions, but has the closed form

        S⁺_t = P_t − min(0, min_{j≤t} P_j),   P_t = Σ_{i≤t}(x_i − μ − k)

    (a prefix sum minus its running minimum floored at 0), so the
    whole detector is two cumulative windows per side — no recursion,
    no Python, exact SQL replay. μ defaults to the key's series mean
    (retrospective monitoring); pass ``setTargetMean`` for a known
    process target.

    Appends::

        cusum_pos   S⁺ (upward-shift statistic)
        cusum_neg   S⁻ (downward-shift statistic)
        is_alarm    max(S⁺, S⁻) >= threshold

    Feed a BUCKETED series so (key, time) is unique. NULL values
    break CUSUM continuity and are rejected — filter or impute first.

    100 TB design: one window sort per key serves the prefix sums
    and running minima of both sides; frames are cumulative (O(1)
    running state per row), ONE exchange on the key.
    """

    timeCol = Param(Params._dummy(), "timeCol", "ordering column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "series key column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    slack = Param(Params._dummy(), "slack",
                  "per-step allowance k (half the shift to detect)",
                  TypeConverters.toFloat)
    threshold = Param(Params._dummy(), "threshold",
                      "alarm level h", TypeConverters.toFloat)
    targetMean = Param(Params._dummy(), "targetMean",
                       "process target mu; NaN = per-key series mean",
                       TypeConverters.toFloat)

    _defaults = dict(timeCol="bucket_start", keyCol="user_id",
                     valueCol="avg_value", slack=0.5,
                     threshold=5.0, targetMean=float("nan"))

    def setSlack(self, v):
        v = float(v)
        if v < 0:
            raise ValueError(f"slack must be >= 0, got {v}")
        return self._set(slack=v)

    def setThreshold(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError(f"threshold must be > 0, got {v}")
        return self._set(threshold=v)

    def transform(self, df: DataFrame) -> DataFrame:
        import math

        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = self.getOrDefault(self.valueCol)
        kk = self.getOrDefault(self.slack)
        h = self.getOrDefault(self.threshold)
        mu_param = self.getOrDefault(self.targetMean)
        x = F.col(v).cast("double")
        part = Window.partitionBy(k)
        cum = part.orderBy(t).rowsBetween(Window.unboundedPreceding, 0)
        mu = (F.lit(mu_param) if not math.isnan(mu_param)
              else F.avg(x).over(part))
        # prefix sums via cumsum(x) − n·(μ±k), NOT cumsum(x−μ−k): one
        # accumulation over the raw metric means integer-valued inputs
        # (counts, cents) stay EXACT under any summation order — the
        # determinism the SQL-oracle gate and cross-run stability rely
        # on. Materialized first: running-min-of-running-sum is a
        # nested window, which Spark (rightly) rejects inline.
        csum = F.sum(x).over(cum)
        n = F.row_number().over(part.orderBy(t)).cast("double")
        staged = (df.withColumn("__pp",
                                csum - n * (mu + F.lit(kk)))
                  .withColumn("__pn",
                              n * (mu - F.lit(kk)) - csum))
        s_pos = (F.col("__pp")
                 - F.least(F.lit(0.0), F.min("__pp").over(cum)))
        s_neg = (F.col("__pn")
                 - F.least(F.lit(0.0), F.min("__pn").over(cum)))
        return (staged.withColumn("cusum_pos", s_pos)
                .withColumn("cusum_neg", s_neg)
                .withColumn("is_alarm",
                            F.greatest("cusum_pos", "cusum_neg")
                            >= F.lit(h))
                .drop("__pp", "__pn"))


class WindowedQuantileProfiler(AlgoOperator):
    """Per-key, per-time-bucket EXACT quantiles of a metric — the
    batch p50/p95/p99 SLA readout (the streaming twin,
    ``streaming.stream_quantile_monitor``, swaps in the mergeable
    Greenwald-Khanna sketch for bounded state; this batch form uses
    Catalyst's exact ``percentile`` aggregate, whose linear
    interpolation matches ANSI ``quantile_cont`` bit-for-bit).

    One row per (key, bucket): ``bucket_start``, ``n``, one
    ``q_<pct>`` column per requested probability. NULL time/key/value
    rows drop.

    100 TB design: one hash aggregation; exact percentile state is
    the bucket's value multiset — size buckets so (key, bucket)
    groups stay executor-sized (the same contract as any exact
    median), or use the streaming twin's sketch when they cannot.
    """

    timeCol = Param(Params._dummy(), "timeCol", "timestamp column",
                    TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "grouping column",
                   TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "metric column",
                     TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "bucket width in seconds",
                           TypeConverters.toFloat)
    probs = Param(Params._dummy(), "probs",
                  "quantile probabilities in (0, 1)",
                  TypeConverters.toListFloat)

    _defaults = dict(timeCol="ts", keyCol="event_type",
                     valueCol="value", bucketWidthSec=86400.0,
                     probs=[0.5, 0.95, 0.99])

    def setBucketWidthSec(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError(f"bucketWidthSec must be > 0, got {v}")
        return self._set(bucketWidthSec=v)

    def setProbs(self, v):
        v = [float(x) for x in v]
        if not v or any(not 0 < x < 1 for x in v):
            raise ValueError(f"probs must lie in (0, 1), got {v}")
        return self._set(probs=v)

    @staticmethod
    def _qname(p: float) -> str:
        return "q_" + str(p).replace("0.", "")

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        k = self.getOrDefault(self.keyCol)
        v = F.col(self.getOrDefault(self.valueCol)).cast("double")
        w_us = int(self.getOrDefault(self.bucketWidthSec) * 1_000_000)
        base = df.filter(F.col(t).isNotNull() & F.col(k).isNotNull()
                         & v.isNotNull())
        bucket = F.timestamp_micros(
            (F.floor(F.unix_micros(F.col(t)) / w_us) * w_us)
            .cast("bigint"))
        aggs = [F.count(F.lit(1)).alias("n")]
        for p in self.getOrDefault(self.probs):
            aggs.append(F.percentile(v, F.lit(p))
                        .alias(self._qname(p)))
        return (base.groupBy(F.col(k), bucket.alias("bucket_start"))
                .agg(*aggs))


def _bucketed_series(df: DataFrame, key: str, ts: str, value: str,
                     bucket_us: int, max_buckets: int) -> DataFrame:
    """Per-key bucketed series bounded to the most recent buckets:
    (key, __b bucket index, __y per-bucket mean value).

    The shared prep for the robust-trend family (Theil–Sen,
    Mann–Kendall): bucketing first makes the point set per key
    DETERMINISTIC (per-bucket mean — no tie-order sensitivity) and
    BOUNDED (``max_buckets`` most recent), so the O(m²) pairwise pass
    downstream is O(max_buckets²) per key regardless of data size —
    the same "aggregate to a fixed grid, then run the quadratic
    statistic on the grid" shape every 100 TB trend monitor uses.

    Consumers reference this frame several times (medians + both pair
    sides); the (key, bucket) exchanges canonicalize identically, so
    at runtime Spark's ReuseExchange runs the data-sized scan +
    partial aggregate ONCE (verified: 2 ReusedExchange nodes in the
    executed Theil–Sen plan).
    """
    v = F.col(value).cast("double")
    per = (df.filter(F.col(ts).isNotNull() & v.isNotNull()
                     & F.col(key).isNotNull())
           .groupBy(F.col(key).alias("__k"),
                    # floor division (not cast-truncate) so pre-1970
                    # negative-micros timestamps bucket identically to
                    # F.window / the SQL oracle's floor()
                    F.floor(F.unix_micros(F.col(ts)) / F.lit(bucket_us))
                    .cast("bigint").alias("__b"))
           .agg(F.avg(v).alias("__y")))
    rk = F.row_number().over(
        Window.partitionBy("__k").orderBy(F.desc("__b")))
    return per.withColumn("__r", rk).filter(
        F.col("__r") <= max_buckets).drop("__r")


class _RobustTrendBase(AlgoOperator):
    """Shared params/prep for :class:`TheilSenTrendEstimator` and
    :class:`MannKendallTrendTest`."""

    keyCol = Param(Params._dummy(), "keyCol",
                   "series key column", TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol",
                    "event-time column", TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol",
                     "numeric metric column", TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "bucket width in seconds",
                           TypeConverters.toFloat)
    maxBuckets = Param(Params._dummy(), "maxBuckets",
                       "most-recent buckets kept per key (bounds the "
                       "pairwise pass)", TypeConverters.toInt)

    _defaults = dict(keyCol="key", timeCol="ts", valueCol="value",
                     bucketWidthSec=86400.0, maxBuckets=128)

    def setBucketWidthSec(self, v):
        if v <= 0:
            raise ValueError("bucketWidthSec must be positive")
        return self._set(bucketWidthSec=float(v))

    def setMaxBuckets(self, v):
        if v < 2:
            raise ValueError("maxBuckets must be at least 2")
        return self._set(maxBuckets=int(v))

    def _series(self, df: DataFrame) -> DataFrame:
        return _bucketed_series(
            df, self.getOrDefault(self.keyCol),
            self.getOrDefault(self.timeCol),
            self.getOrDefault(self.valueCol),
            int(self.getOrDefault(self.bucketWidthSec) * 1_000_000),
            self.getOrDefault(self.maxBuckets))

    def _pairs(self, ser: DataFrame) -> DataFrame:
        a = ser.select(F.col("__k"), F.col("__b").alias("__b1"),
                       F.col("__y").alias("__y1"))
        b = ser.select(F.col("__k"), F.col("__b").alias("__b2"),
                       F.col("__y").alias("__y2"))
        return a.join(b, on="__k").filter(F.col("__b1") < F.col("__b2"))


class TheilSenTrendEstimator(_RobustTrendBase):
    """Theil–Sen robust slope per series: the median of all pairwise
    slopes over the key's bucketed recent history (Theil 1950, Sen
    1968 — up to ~29% outlier breakdown vs 0% for OLS; the standard
    robust-trend readout for noisy operational metrics).

    ``transform(df)`` returns one row per key::

        <keyCol>    series key
        n_points    buckets entering the estimate (≤ maxBuckets)
        n_pairs     n_points·(n_points−1)/2 pairwise slopes
        slope       median pairwise slope, in value-units PER BUCKET
        intercept   median(y) − slope·median(b) (b = bucket index),
                    so ŷ(b) = slope·b + intercept

    Keys with <2 buckets emit no row. Scale shape: per-bucket mean
    aggregation (one shuffle on (key, bucket)) → maxBuckets-bounded
    per-key self-join (co-partitioned on the key, never a cartesian
    across keys) → exact interpolated median via ``percentile``.
    The quadratic is against the BUCKET GRID, not the data: 128
    buckets → ≤ 8,128 pairs per key at any input size.
    """

    def transform(self, df: DataFrame) -> DataFrame:
        ser = self._series(df)
        meds = ser.groupBy("__k").agg(
            F.count(F.lit(1)).alias("n_points"),
            F.percentile(F.col("__y"), F.lit(0.5)).alias("__my"),
            F.percentile(F.col("__b").cast("double"),
                         F.lit(0.5)).alias("__mb"))
        sl = (self._pairs(ser)
              .withColumn("__s", (F.col("__y2") - F.col("__y1"))
                          / (F.col("__b2") - F.col("__b1")))
              .groupBy("__k")
              .agg(F.count(F.lit(1)).alias("n_pairs"),
                   F.percentile(F.col("__s"), F.lit(0.5))
                   .alias("slope")))
        key = self.getOrDefault(self.keyCol)
        return (meds.join(sl, on="__k")
                .select(F.col("__k").alias(key), "n_points", "n_pairs",
                        "slope",
                        (F.col("__my") - F.col("slope") * F.col("__mb"))
                        .alias("intercept")))


class MannKendallTrendTest(_RobustTrendBase):
    """Mann–Kendall monotonic-trend test per series (Mann 1945,
    Kendall 1975): S = Σ_{i<j} sign(y_j − y_i) over the bucketed
    recent history, with the tie-corrected normal approximation —
    the hypothesis-test companion to :class:`TheilSenTrendEstimator`'s
    effect size.

    ``transform(df)`` returns one row per key::

        <keyCol>    series key
        n_points    buckets entering the test
        s_stat      Kendall S (positive = rising)
        var_s       tie-corrected Var(S) =
                    [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18
        z_stat      continuity-corrected (S∓1)/√Var(S); 0 when S=0;
                    NULL when Var(S)=0
        trend       'increasing' / 'decreasing' at |z| > 1.96, else
                    'no_trend'

    Keys with <2 buckets emit no row. Same bounded scale shape as
    Theil–Sen: the pairwise pass runs on the ≤maxBuckets bucket grid,
    co-partitioned per key; the tie term is one extra aggregation on
    the same grid.
    """

    def transform(self, df: DataFrame) -> DataFrame:
        ser = self._series(df)
        s = (self._pairs(ser)
             .groupBy("__k")
             .agg(F.sum(F.signum(F.col("__y2") - F.col("__y1"))
                        .cast("bigint")).alias("s_stat")))
        n = ser.groupBy("__k").agg(F.count(F.lit(1)).alias("n_points"))
        ties = (ser.groupBy("__k", "__y")
                .agg(F.count(F.lit(1)).alias("__t"))
                .groupBy("__k")
                .agg(F.sum(F.col("__t") * (F.col("__t") - 1)
                           * (2 * F.col("__t") + 5)).alias("__tie")))
        joined = n.join(s, on="__k").join(ties, on="__k")
        nn = F.col("n_points").cast("double")
        var_s = (nn * (nn - 1) * (2 * nn + 5)
                 - F.col("__tie").cast("double")) / 18.0
        ss = F.col("s_stat").cast("double")
        z = F.when(var_s > 0,
                   F.when(ss > 0, (ss - 1) / F.sqrt(var_s))
                    .when(ss < 0, (ss + 1) / F.sqrt(var_s))
                    .otherwise(F.lit(0.0)))
        key = self.getOrDefault(self.keyCol)
        return joined.select(
            F.col("__k").alias(key), "n_points", "s_stat",
            var_s.alias("var_s"), z.alias("z_stat"),
            F.when(z > 1.96, F.lit("increasing"))
             .when(z < -1.96, F.lit("decreasing"))
             .otherwise(F.lit("no_trend")).alias("trend"))


class KaplanMeierEstimator(AlgoOperator):
    """Kaplan–Meier product-limit survival estimator (Kaplan & Meier
    1958) with right censoring — the standard time-to-event readout
    (retention, churn, time-to-conversion) when not every subject has
    reached the event yet.

    Input: one row per subject, ``durationCol`` (time observed, any
    non-negative numeric) and ``eventCol`` (truthy = the event was
    observed at ``duration``; falsy = censored at ``duration``).

    ``evaluate(df)`` returns one row per DISTINCT duration::

        t           the duration
        n_risk      subjects with duration ≥ t
        n_events    events observed at exactly t
        n_censored  subjects censored at exactly t
        survival    S(t) = Π_{u ≤ t} (1 − d_u / n_u), computed as
                    exp(Σ ln factors) with an explicit 0 once any
                    factor hits 0 (everyone at risk died) — no
                    ln(0)/NaN leakage on either engine

    Scale shape: ONE hash aggregation collapses subjects to the
    distinct-duration grid; the cumulative windows then run over the
    GRID, not the subjects. The window is deliberately unpartitioned —
    correct only because the grid is bounded; for continuous durations
    bucket first (hours/days), exactly like the trend family's
    ``bucketWidthSec`` contract.
    """

    durationCol = Param(Params._dummy(), "durationCol",
                        "observed time column", TypeConverters.toString)
    eventCol = Param(Params._dummy(), "eventCol",
                     "1/true = event observed, 0/false = censored",
                     TypeConverters.toString)

    _defaults = dict(durationCol="duration", eventCol="event")

    def evaluate(self, df: DataFrame) -> DataFrame:
        t = F.col(self.getOrDefault(self.durationCol)).cast("double")
        e = F.col(self.getOrDefault(self.eventCol)).cast("boolean")
        grid = (df.filter(t.isNotNull() & (t >= 0) & e.isNotNull())
                .groupBy(t.alias("t"))
                .agg(F.sum(F.when(e, 1).otherwise(0)).alias("n_events"),
                     F.sum(F.when(e, 0).otherwise(1))
                     .alias("n_censored")))
        w_all = Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        w_prior = Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, -1)
        w_upto = Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        total = F.sum(F.col("n_events") + F.col("n_censored")).over(w_all)
        gone = F.coalesce(
            F.sum(F.col("n_events") + F.col("n_censored")).over(w_prior),
            F.lit(0))
        at_risk = (total - gone).alias("n_risk")
        g = grid.withColumn("n_risk", total - gone)
        factor = ((F.col("n_risk") - F.col("n_events"))
                  / F.col("n_risk").cast("double"))
        g = g.withColumn("__f", factor)
        died_out = F.max(F.when(F.col("__f") <= 0, 1).otherwise(0)) \
                    .over(w_upto)
        log_s = F.sum(F.when(F.col("__f") > 0, F.log("__f"))
                      .otherwise(F.lit(0.0))).over(w_upto)
        surv = F.when(died_out == 1, F.lit(0.0)).otherwise(F.exp(log_s))
        return g.select("t", "n_risk", "n_events", "n_censored",
                        surv.alias("survival"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class ForecastAccuracyEvaluator(AlgoOperator):
    """Forecast-accuracy rollup (Hyndman & Koehler 2006): MAE / RMSE /
    sMAPE of a one-step forecast column, plus MASE — the error scaled
    by the naive last-value forecast's error, the one metric that is
    comparable across series with different units (MASE < 1 = beats
    naive).

    Input: per-row series data carrying a forecast column (e.g.
    :class:`ExponentialSmoother` / :class:`HoltForecaster` output).
    The naive benchmark forecast is the previous non-NULL value within
    ``seriesCol`` (same IGNORE-NULLS convention the smoother uses for
    its own one-step forecast).

    ``evaluate(df)`` returns one row per ``groupCols`` (default: per
    series)::

        n_forecasts   rows with value AND forecast
        mae, rmse     forecast errors
        smape         mean 2|y−f| / (|y|+|f|) over rows where the
                      denominator > 0
        naive_mae     mean |y − prev y|
        mase          mae / naive_mae (NULL when naive_mae = 0)

    Scale shape: one keyed lag window + ONE aggregation.
    """

    seriesCol = Param(Params._dummy(), "seriesCol",
                      "series key (naive-lag partition)",
                      TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol", "order column",
                    TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "actual column",
                     TypeConverters.toString)
    forecastCol = Param(Params._dummy(), "forecastCol",
                        "forecast column", TypeConverters.toString)
    groupCols = Param(Params._dummy(), "groupCols",
                      "output grouping ([] = seriesCol)",
                      TypeConverters.toListString)

    _defaults = dict(seriesCol="key", timeCol="ts",
                     valueCol="value", forecastCol="forecast",
                     groupCols=[])

    def setGroupCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        return self._set(groupCols=cols)

    def evaluate(self, df: DataFrame) -> DataFrame:
        s = self.getOrDefault(self.seriesCol)
        t = self.getOrDefault(self.timeCol)
        y = F.col(self.getOrDefault(self.valueCol)).cast("double")
        f = F.col(self.getOrDefault(self.forecastCol)).cast("double")
        gs = self.getOrDefault(self.groupCols) or [s]
        w = (Window.partitionBy(s).orderBy(t)
             .rowsBetween(Window.unboundedPreceding, -1))
        naive = F.last(y, ignorenulls=True).over(w)
        aug = df.withColumn("__naive", naive)
        err = F.when(y.isNotNull() & f.isNotNull(), F.abs(y - f))
        nerr = F.when(y.isNotNull() & F.col("__naive").isNotNull(),
                      F.abs(y - F.col("__naive")))
        sden = F.abs(y) + F.abs(f)
        sm = F.when(err.isNotNull() & (sden > 0), 2 * err / sden)
        out = aug.groupBy(*gs).agg(
            F.count(err).alias("n_forecasts"),
            F.avg(err).alias("mae"),
            F.sqrt(F.avg(err * err)).alias("rmse"),
            F.avg(sm).alias("smape"),
            F.avg(nerr).alias("naive_mae"))
        return out.withColumn(
            "mase", F.when(F.col("naive_mae") > 0,
                           F.col("mae") / F.col("naive_mae")))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class LogRankTest(AlgoOperator):
    """Two-group log-rank test (Mantel 1966; Peto & Peto 1972): are
    two survival curves the same? The hypothesis-test companion to
    :class:`KaplanMeierEstimator` — per distinct event time the
    observed events in group A are compared with the expectation under
    the pooled-hazard null, and the standardized sum is χ²(1)-normal.

    Input rows: (durationCol, eventCol, groupCol). ``evaluate(df)``
    returns ONE row::

        n_a, n_b      subjects per group
        n_times       distinct times with ≥1 event
        observed_a    total events in group A
        expected_a    Σ_t d_t · n_at / n_t
        var_sum       Σ_t d_t (n_at/n_t)(1−n_at/n_t)(n_t−d_t)/(n_t−1)
                      (hypergeometric variance; t with n_t=1 skipped)
        z_stat        (O−E)/√V (NULL when V=0)
        significant   |z| > 1.96

    Scale shape: one aggregation to the (time, group) grid, cumulative
    windows over the DISTINCT-time grid (bounded — bucket durations
    first for continuous data, the KM contract), one 1-row fold.
    """

    durationCol = Param(Params._dummy(), "durationCol",
                        "observed time column", TypeConverters.toString)
    eventCol = Param(Params._dummy(), "eventCol",
                     "true = event observed, false = censored",
                     TypeConverters.toString)
    groupCol = Param(Params._dummy(), "groupCol", "group label column",
                     TypeConverters.toString)
    groupA = Param(Params._dummy(), "groupA", "label of group A",
                   TypeConverters.toString)
    groupB = Param(Params._dummy(), "groupB", "label of group B",
                   TypeConverters.toString)

    _defaults = dict(durationCol="duration", eventCol="event",
                     groupCol="group")

    def setGroups(self, a: str, b: str):
        if a == b:
            raise ValueError("groupA and groupB must differ")
        return self._set(groupA=a, groupB=b)

    def evaluate(self, df: DataFrame) -> DataFrame:
        if (not self.isDefined(self.groupA)
                or not self.isDefined(self.groupB)):
            raise ValueError("setGroups(a, b) is required")
        a = self.getOrDefault(self.groupA)
        b = self.getOrDefault(self.groupB)
        t = F.col(self.getOrDefault(self.durationCol)).cast("double")
        e = F.col(self.getOrDefault(self.eventCol)).cast("boolean")
        g = F.col(self.getOrDefault(self.groupCol)).cast("string")
        is_a = g == a
        grid = (df.filter(t.isNotNull() & (t >= 0) & e.isNotNull()
                          & g.isin(a, b))
                .groupBy(t.alias("t"))
                .agg(F.sum(F.when(e, 1).otherwise(0)).alias("__d"),
                     F.sum(F.when(e & is_a, 1).otherwise(0))
                     .alias("__da"),
                     F.sum(F.when(is_a, 1).otherwise(0)).alias("__ca"),
                     F.sum(F.when(is_a, 0).otherwise(1))
                     .alias("__cb"),
                     F.count(F.lit(1)).alias("__c")))
        w_all = Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        w_prior = Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, -1)
        n_t = (F.sum("__c").over(w_all)
               - F.coalesce(F.sum("__c").over(w_prior), F.lit(0)))
        n_at = (F.sum("__ca").over(w_all)
                - F.coalesce(F.sum("__ca").over(w_prior), F.lit(0)))
        staged = (grid.withColumn("__nt", n_t)
                  .withColumn("__nat", n_at)
                  .filter(F.col("__d") > 0))
        d = F.col("__d").cast("double")
        nt = F.col("__nt").cast("double")
        nat = F.col("__nat").cast("double")
        p_a = nat / nt
        var_t = F.when(nt > 1,
                       d * p_a * (1 - p_a) * (nt - d) / (nt - 1)) \
            .otherwise(F.lit(0.0))
        tot = staged.agg(
            F.count(F.lit(1)).alias("n_times"),
            F.sum("__da").alias("observed_a"),
            F.sum(d * p_a).alias("expected_a"),
            F.sum(var_t).alias("var_sum"))
        counts = (df.filter(t.isNotNull() & (t >= 0) & e.isNotNull()
                            & g.isin(a, b))
                  .agg(F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
                       F.sum(F.when(is_a, 0).otherwise(1))
                       .alias("n_b")))
        z = F.when(F.col("var_sum") > 0,
                   (F.col("observed_a") - F.col("expected_a"))
                   / F.sqrt("var_sum"))
        return counts.crossJoin(tot).select(
            "n_a", "n_b", "n_times", "observed_a",
            F.col("expected_a"), "var_sum", z.alias("z_stat"),
            F.coalesce(F.abs(z) > 1.96, F.lit(False))
            .alias("significant"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class WeibullFitter(AlgoOperator):
    """Parametric Weibull fit of the survival curve via the classic
    Weibull plot (median-rank regression): over the Kaplan–Meier
    points with ``0 < S(t) < 1`` and ``t > 0``, ``ln(−ln S(t))`` is
    linear in ``ln t`` with slope = shape k and intercept = −k·ln λ —
    one OLS over the duration grid, no iterative MLE.

    ``evaluate(df)`` (same (durationCol, eventCol) input contract as
    :class:`KaplanMeierEstimator`) returns ONE row::

        n_points        KM points entering the fit
        weibull_shape   k  (k < 1 = infant mortality / heavy early
                        churn, k ≈ 1 = memoryless, k > 1 = wear-out)
        weibull_scale   λ  (the 63.2% lifetime)
        fit_r2          r² of the Weibull plot (low = not Weibull)

    Scale shape: the KM grid aggregation is the only data-sized step;
    the regression runs on the ≤ distinct-duration grid.
    """

    durationCol = Param(Params._dummy(), "durationCol",
                        "observed time column", TypeConverters.toString)
    eventCol = Param(Params._dummy(), "eventCol",
                     "true = event observed, false = censored",
                     TypeConverters.toString)

    _defaults = dict(durationCol="duration", eventCol="event")

    def evaluate(self, df: DataFrame) -> DataFrame:
        km = (KaplanMeierEstimator()
              .setDurationCol(self.getOrDefault(self.durationCol))
              .setEventCol(self.getOrDefault(self.eventCol))
              .evaluate(df))
        pts = km.filter((F.col("survival") > 0)
                        & (F.col("survival") < 1) & (F.col("t") > 0))
        x = F.log(F.col("t"))
        y = F.log(-F.log(F.col("survival")))
        m = pts.agg(F.count(F.lit(1)).alias("n_points"),
                    F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
                    F.sum(x * x).alias("__sxx"),
                    F.sum(x * y).alias("__sxy"),
                    F.sum(y * y).alias("__syy"))
        n = F.col("n_points").cast("double")
        vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
        vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
        cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
        k = F.when(vx > 0, cov / vx)
        intercept = (F.col("__sy") - k * F.col("__sx")) / n
        r2 = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
        return m.select(
            "n_points", k.alias("weibull_shape"),
            F.when(k.isNotNull() & (k != 0),
                   F.exp(-intercept / k)).alias("weibull_scale"),
            r2.alias("fit_r2"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)


class CohortValueCurve(AlgoOperator):
    """Cohort LTV curve: cumulative value per cohort member by cohort
    age — the money companion to :class:`CohortRetention` ("a January
    signup is worth X by week 4"), the payback/LTV readout every
    acquisition decision runs on.

    Users cohort by the bucket of their FIRST event (same rule as the
    retention matrix); per (cohort, age) the curve accumulates the
    cohort's TOTAL value through that age divided by cohort size::

        cohort_start    timestamp of the cohort bucket
        age             bucket offset ≥ 0
        bucket_value    value the cohort generated IN that bucket
        cum_value       cohort value through that age
        cohort_size     distinct users in the cohort
        ltv             cum_value / cohort_size

    Ages are densified per cohort (a bucket with no value still emits
    a row, carrying the running total) so every curve is contiguous.

    100 TB design: one (user, bucket) value aggregation (the only
    event-volume shuffle), per-user min bucket, one (cohort, age)
    aggregation, then a per-cohort ``sequence`` explode densifies to
    O(cells) and ONE cohort-partitioned window accumulates — no
    data-sized window, same shape as the gap-filled rollup.
    """

    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    userCol = Param(Params._dummy(), "userCol", "user id column",
                    TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "value column",
                     TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "cohort/age bucket width in seconds",
                           TypeConverters.toFloat)

    _defaults = dict(timeCol="ts", userCol="user_id",
                     valueCol="value", bucketWidthSec=7 * 86400.0)

    def setBucketWidthSec(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError("bucketWidthSec must be > 0")
        return self._set(bucketWidthSec=v)

    def transform(self, df: DataFrame) -> DataFrame:
        t = self.getOrDefault(self.timeCol)
        u = self.getOrDefault(self.userCol)
        v = F.col(self.getOrDefault(self.valueCol)).cast("double")
        bw_us = int(self.getOrDefault(self.bucketWidthSec) * 1_000_000)
        bk = F.floor(F.unix_micros(F.col(t).cast("timestamp")) / bw_us)
        per_ub = (df.filter(F.col(t).isNotNull()
                            & F.col(u).isNotNull() & v.isNotNull())
                  .groupBy(F.col(u).alias("__u"), bk.alias("__bk"))
                  .agg(F.sum(v).alias("__v")))
        cohorts = per_ub.groupBy("__u").agg(F.min("__bk").alias("__c"))
        sizes = cohorts.groupBy("__c").agg(
            F.count(F.lit(1)).alias("cohort_size"))
        cells = (per_ub.join(cohorts, "__u")
                 .groupBy("__c", (F.col("__bk") - F.col("__c"))
                          .alias("__age"))
                 .agg(F.sum("__v").alias("__bv")))
        span = cells.groupBy("__c").agg(F.max("__age").alias("__mx"))
        dense = (span.select("__c", F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("__mx")))
            .alias("__age")))
        filled = (dense.join(cells, ["__c", "__age"], "left")
                  .withColumn("__bv", F.coalesce("__bv", F.lit(0.0))))
        w = (Window.partitionBy("__c").orderBy("__age")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = (filled.withColumn("cum_value", F.sum("__bv").over(w))
               .join(sizes, "__c"))
        return out.select(
            F.timestamp_micros((F.col("__c") * bw_us).cast("bigint"))
            .alias("cohort_start"),
            F.col("__age").alias("age"),
            F.col("__bv").alias("bucket_value"), "cum_value",
            "cohort_size",
            (F.col("cum_value") / F.col("cohort_size"))
            .alias("ltv"))
