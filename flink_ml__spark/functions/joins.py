"""Temporal joins Spark's built-in operators don't express directly.

``AsOfJoiner`` — the backward as-of join (for each left row, the
LATEST right row with ``right.ts <= left.ts`` per key): feature lookup
at event time, quote-at-trade-time, config-active-at-timestamp. Spark
has no asof relation operator (pandas-on-Spark's ``merge_asof``
delegates to a union+window plan much like this one); a naive
range-join formulation explodes to O(|L|·|R|) per key before
aggregation, which is why the union trick below is the standard
scale-safe shape.

``RangeJoiner`` — point-in-interval join (every (point, interval)
pair with ``start <= t <= end`` per key): event-to-session
attribution, trade-to-auction-window, reading-to-maintenance-window.
Catalyst plans a non-equi range predicate as BroadcastNestedLoopJoin
(small side) or a per-key cartesian — both quadratic. The standard
scale rewrite (used by e.g. Databricks' range-join optimization and
the interval-join operators of stream engines) buckets time into
fixed bins: each interval replicates into the bins it overlaps, each
point lands in exactly ONE bin, and the join becomes a shuffled
equi-join on (key, bin) with the exact range predicate as a residual
filter — no duplicate elimination needed, fanout bounded by
interval_length / bin_width.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator
from flink_ml__spark.functions.sketches import BloomBitset


class AsOfJoiner(AlgoOperator):
    """As-of join (backward, forward, or nearest).

    ``join(left, right, value_cols)`` returns ``left`` with, per row,
    the ``value_cols`` of ONE matching ``right`` row for the same key
    (NULLs when none exists, like a left join), plus ``asof_ts`` — the
    matched right row's time. ``direction`` picks the match:

    * ``backward`` (default) — the LATEST right row with
      ``right.ts <= left.ts`` (feature value as-of event time);
    * ``forward`` — the EARLIEST right row with
      ``right.ts >= left.ts`` (next reading after the event);
    * ``nearest`` — whichever of the two is closer in time, ties to
      the backward match (pandas ``merge_asof`` semantics).

    Rows of ``right`` sharing the left row's exact timestamp DO match
    in every direction. With ``tolerance`` (interval seconds > 0),
    matches farther than ``tolerance`` are nulled out — the staleness
    bound every feature-lookup pipeline wants.

    100 TB design: tag and UNION both sides, ONE shuffle on the key,
    and a running ``last(..., ignorenulls)`` (resp. ``first`` over the
    following frame for forward) over the per-key time-sorted stream
    carries each right payload to the left rows around it —
    O(|L| + |R|) rows through one exchange, no per-key loop, no
    range-join explosion. ``nearest`` evaluates both frames over the
    SAME sorted exchange (two window functions, one sort). Within one
    timestamp the right row sorts on the matching side of the left
    row, which is exactly the inclusive contract.
    """

    keyCol = Param(Params._dummy(), "keyCol", "join key column",
                   TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol", "event-time column",
                    TypeConverters.toString)
    toleranceSec = Param(Params._dummy(), "toleranceSec",
                         "max staleness in seconds (0 = unbounded)",
                         TypeConverters.toFloat)
    direction = Param(Params._dummy(), "direction",
                      "backward | forward | nearest",
                      TypeConverters.toString)

    _defaults = dict(keyCol="user_id", timeCol="ts", toleranceSec=0.0,
                     direction="backward")

    def setDirection(self, v):
        if v not in ("backward", "forward", "nearest"):
            raise ValueError("direction must be backward|forward|nearest")
        return self._set(direction=v)

    def join(self, left: DataFrame, right: DataFrame,
             value_cols: list[str]) -> DataFrame:
        k, t = self.getKeyCol(), self.getTimeCol()
        d = self.getDirection()
        tol = self.getToleranceSec()
        payload = F.struct(F.col(t).alias("__rt"),
                           *[F.col(c) for c in value_cols])
        # SQL join semantics: a NULL key or NULL time on the right can
        # never match (the window would otherwise group NULL keys
        # together and sort NULL times first, fabricating matches)
        r = (right
             .filter(F.col(k).isNotNull() & F.col(t).isNotNull())
             .select(F.col(k), F.col(t), payload.alias("__rv"),
                     F.lit(0).alias("__side")))
        l = left.withColumn("__rv", F.lit(None).cast(
            r.schema["__rv"].dataType)).withColumn(
                "__side", F.lit(1))
        u = l.unionByName(r, allowMissingColumns=True)

        # side order within a timestamp decides inclusivity: the right
        # row must sort on the side of the left row its frame reads
        side = (F.col("__side").desc() if d == "forward"
                else F.col("__side").asc())
        base = Window.partitionBy(k).orderBy(F.col(t).asc(), side)
        wb = base.rowsBetween(Window.unboundedPreceding, 0)
        wf = base.rowsBetween(0, Window.unboundedFollowing)
        back = F.last("__rv", ignorenulls=True).over(wb)
        fwd = F.first("__rv", ignorenulls=True).over(wf)

        bdt = (F.col(t).cast("double")
               - F.col("__b.__rt").cast("double"))
        fdt = (F.col("__f.__rt").cast("double")
               - F.col(t).cast("double"))
        if d == "backward":
            out = u.withColumn("__b", back).filter(F.col("__side") == 1)
            chosen = F.col("__b") if tol <= 0 else F.when(bdt <= tol,
                                                          F.col("__b"))
            out = out.withColumn("__c", chosen).drop("__b")
        elif d == "forward":
            out = u.withColumn("__f", fwd).filter(F.col("__side") == 1)
            chosen = F.col("__f") if tol <= 0 else F.when(fdt <= tol,
                                                          F.col("__f"))
            out = out.withColumn("__c", chosen).drop("__f")
        else:  # nearest: both frames over ONE sorted exchange; an
            # equal-timestamp right row lands in the backward frame
            # with distance 0, which always wins — so the forward
            # frame skipping it is harmless, and backward wins ties
            out = (u.withColumn("__b", back).withColumn("__f", fwd)
                   .filter(F.col("__side") == 1))
            if tol > 0:
                out = (out.withColumn("__b", F.when(bdt <= tol,
                                                    F.col("__b")))
                       .withColumn("__f", F.when(fdt <= tol,
                                                 F.col("__f"))))
            chosen = (F.when(F.col("__b").isNull(), F.col("__f"))
                      .when(F.col("__f").isNull(), F.col("__b"))
                      .when(fdt < bdt, F.col("__f"))
                      .otherwise(F.col("__b")))
            out = out.withColumn("__c", chosen).drop("__b", "__f")
        # a NULL left time compares NULL against any right time — no
        # match in any direction (the forward frame would otherwise
        # hand the nulls-first row a fabricated future match)
        out = out.withColumn("__c", F.when(F.col(t).isNotNull(),
                                           F.col("__c")))
        out = out.withColumn("asof_ts", F.col("__c.__rt"))
        for c in value_cols:
            out = out.withColumn(c, F.col(f"__c.{c}"))
        return out.drop("__rv", "__side", "__c")


class RangeJoiner(AlgoOperator):
    """Bucketed point-in-interval join.

    ``join(points, intervals, value_cols)`` returns one row per
    (point, containing interval) pair — ``points``'s columns plus the
    interval's ``value_cols`` and ``range_start`` / ``range_end`` (the
    matched interval bounds). A point inside k overlapping intervals
    emits k rows (inner semantics); ``setHow("left")`` additionally
    keeps unmatched points with NULL interval columns (requires
    ``pointIdCol`` to be a unique point key). Containment is inclusive
    on both bounds; intervals with ``end < start`` and NULL
    bounds/times never match.

    100 TB design (see module doc): intervals explode into the
    ``bucketWidthSec``-wide time bins they overlap (fanout =
    ceil(length/width)+1, bounded and chosen by the caller to match
    typical interval length); points map to exactly one bin, so the
    bin equi-join needs NO post-join dedup. One shuffle per side on
    the uniform (key, bin) pair; the residual ``start <= t <= end``
    filter runs inside the join's codegen stage. Contrast the naive
    non-equi formulation: BroadcastNestedLoopJoin, O(|P|·|I|).
    """

    keyCol = Param(Params._dummy(), "keyCol", "join key column",
                   TypeConverters.toString)
    timeCol = Param(Params._dummy(), "timeCol",
                    "point event-time column", TypeConverters.toString)
    startCol = Param(Params._dummy(), "startCol",
                     "interval start column", TypeConverters.toString)
    endCol = Param(Params._dummy(), "endCol",
                   "interval end column (inclusive)",
                   TypeConverters.toString)
    bucketWidthSec = Param(Params._dummy(), "bucketWidthSec",
                           "time-bin width in seconds; tune to the "
                           "typical interval length",
                           TypeConverters.toFloat)
    how = Param(Params._dummy(), "how", "'inner' or 'left'",
                TypeConverters.toString)
    pointIdCol = Param(Params._dummy(), "pointIdCol",
                       "unique point id (only used by how='left')",
                       TypeConverters.toString)

    _defaults = dict(keyCol="user_id", timeCol="ts",
                     startCol="range_start", endCol="range_end",
                     bucketWidthSec=3600.0, how="inner",
                     pointIdCol="event_id")

    def setHow(self, v):
        if v not in ("inner", "left"):
            raise ValueError("how must be 'inner' or 'left'")
        return self._set(how=v)

    @staticmethod
    def _us(col) -> "F.Column":
        return F.unix_micros(F.col(col).cast("timestamp"))

    def join(self, points: DataFrame, intervals: DataFrame,
             value_cols: list[str]) -> DataFrame:
        k, t = self.getKeyCol(), self.getTimeCol()
        s, e = self.getStartCol(), self.getEndCol()
        bw_us = int(self.getBucketWidthSec() * 1_000_000)
        if bw_us <= 0:
            raise ValueError("bucketWidthSec must be > 0")

        p = points.withColumn("__bin", F.floor(self._us(t) / bw_us))
        ivs = (intervals
               .filter(F.col(s).isNotNull() & F.col(e).isNotNull()
                       & (F.col(e) >= F.col(s)))
               .select(F.col(k).alias("__ik"),
                       F.col(s).alias("range_start"),
                       F.col(e).alias("range_end"),
                       *[F.col(c) for c in value_cols])
               .withColumn("__bin", F.explode(F.sequence(
                   F.floor(self._us("range_start") / bw_us),
                   F.floor(self._us("range_end") / bw_us)))))
        cond = ((p[k] == ivs["__ik"]) & (p["__bin"] == ivs["__bin"])
                & (p[t] >= ivs["range_start"])
                & (p[t] <= ivs["range_end"]))
        matched = (p.join(ivs, cond, "inner")
                   .drop("__ik").drop(p["__bin"]).drop(ivs["__bin"]))
        if self.getHow() == "inner":
            return matched
        pid = self.getPointIdCol()
        missing = (p.drop("__bin")
                   .join(matched.select(pid), pid, "left_anti"))
        for c in ["range_start", "range_end", *value_cols]:
            missing = missing.withColumn(
                c, F.lit(None).cast(dict(matched.dtypes)[c]))
        return matched.unionByName(missing)


class SaltedJoiner(AlgoOperator):
    """Skew-mitigated equi-join: when one join key carries a large
    share of the big side's rows (the power-law user, the default
    enum value), a plain shuffled join funnels that key through ONE
    reducer. Salting splits each key ``numSalts`` ways: the big side
    gets a deterministic per-row salt, the small side replicates
    once per salt, and the join runs on (keys + salt) — same result
    set, hot key spread over ``numSalts`` tasks.

    ``join(big, small, on, how)`` supports ``inner`` and ``left``
    (outer semantics are per BIG-side row, which replication
    preserves: an unmatched big row still appears exactly once).
    The default salt is ``pmod(xxhash64(all hashable big-side
    columns), numSalts)`` — layout-invariant, so retries and resumed
    jobs salt identically. LIMITATION of that determinism: big-side
    rows that are FULL duplicates hash to the same salt, so a hot key
    whose rows are identical still lands on one reducer (map-typed
    columns are excluded from the hash — xxhash64 rejects them — which
    widens "identical" to "identical on the hashable columns").
    ``setDeterministic(False)`` trades retry-stable salting for a
    physical-placement salt (``spark_partition_id`` +
    ``monotonically_increasing_id``) that spreads duplicates evenly.

    Prefer AQE's runtime skew-join splitting when it fires
    (sort-merge joins with statistics); this operator is the
    explicit, plan-time fallback for the cases AQE cannot split —
    broadcast-ineligible skewed aggregation feeds, deterministic
    replays, or engines/pipelines with AQE disabled. Replication
    multiplies the SMALL side by ``numSalts`` — size it so
    small × numSalts still fits comfortably in the shuffle.

    100 TB design: one projection on the big side (no extra shuffle —
    the join's own exchange partitions by (keys, salt)), an
    ``explode(sequence(...))`` on the small side, and the equi-join.
    The gate proves result-set equivalence against the plain SQL
    join.
    """

    numSalts = Param(Params._dummy(), "numSalts",
                     "ways each key is split", TypeConverters.toInt)
    deterministic = Param(Params._dummy(), "deterministic",
                          "True: layout-invariant content-hash salt "
                          "(retry-stable, but full-duplicate rows share "
                          "a salt); False: physical-placement salt "
                          "(spreads duplicates)",
                          TypeConverters.toBoolean)

    _defaults = dict(numSalts=16, deterministic=True)

    def setNumSalts(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numSalts must be >= 2, got {v}")
        return self._set(numSalts=v)

    def setDeterministic(self, v):
        return self._set(deterministic=bool(v))

    def join(self, big: DataFrame, small: DataFrame, on: list,
             how: str = "inner") -> DataFrame:
        from pyspark.sql.types import MapType

        if how not in ("inner", "left"):
            raise ValueError(f"how must be inner or left, got {how!r}")
        s = self.getOrDefault(self.numSalts)
        overlap = set(big.columns) & set(small.columns) - set(on)
        if overlap:
            raise ValueError(
                f"non-key columns appear on both sides: {sorted(overlap)}")
        if self.getOrDefault(self.deterministic):
            # xxhash64 rejects map-typed columns at analysis — exclude
            hashable = [f.name for f in big.schema.fields
                        if not isinstance(f.dataType, MapType)]
            if not hashable:
                raise ValueError("no hashable big-side columns to salt "
                                 "on; use setDeterministic(False)")
            salt_src = F.xxhash64(*[F.col(c) for c in hashable])
        else:
            salt_src = F.xxhash64(F.spark_partition_id(),
                                  F.monotonically_increasing_id())
        salted_big = big.withColumn(
            "__salt", F.pmod(salt_src, F.lit(s)).cast("int"))
        rep_small = small.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
        out = salted_big.join(rep_small, on + ["__salt"], how)
        return out.drop("__salt")

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise TypeError("SaltedJoiner is binary — call "
                        "join(big, small, on, how)")


class BloomJoinFilter(AlgoOperator, BloomBitset):
    """Bloom-filter semi-join reduction (Bloom 1970; the classic
    distributed-join optimization, e.g. Mackert & Lohman "R* join
    site selection" 1986): build a bitset over the SMALL side's join
    keys once, then drop big-side rows that cannot possibly match
    BEFORE the join's shuffle — at 100 TB the shuffle is the cost, so
    removing the non-matching fraction map-side is the single
    highest-leverage join optimization after broadcasting. False
    positives only let a few extra rows through to die in the real
    join (result-identical — gated by an exact plain-join oracle);
    false negatives are impossible.

    Spark-side notes: Spark can inject its own runtime bloom only for
    some shapes (and `bloom_filter_agg` is not SQL-registered here);
    this operator makes the technique explicit, deterministic, and
    reusable against a PERSISTED filter (``save``/``load`` — ship the
    bitset to the ingest job instead of the dimension table). Build =
    one pass over the small side (per-partition partial bitsets,
    OR-merged); apply = map-only Arrow pass with the bitset broadcast
    once per executor. Positions are Kirsch–Mitzenmacher double
    hashes of the md5 hex of the '\\x1f'-joined key columns —
    engine-portable, so a SQL oracle can replay even the FP set.
    NULL keys never match a join and are dropped.
    """

    keyCols = Param(Params._dummy(), "keyCols", "join key columns",
                    TypeConverters.toListString)

    _state = ("_bits",)

    _defaults = dict(keyCols=[], numBits=1 << 20, numHashes=4)

    def setKeyCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(keyCols=list(v))

    def _fp(self) -> F.Column:
        cols = self.getOrDefault(self.keyCols)
        if not cols:
            raise ValueError("no key columns — call setKeyCols(...)")
        anynull = None
        for c in cols:
            n = F.col(c).isNull()
            anynull = n if anynull is None else (anynull | n)
        joined = F.concat_ws("\x1f",
                             *[F.col(c).cast("string") for c in cols])
        return F.when(~anynull, F.md5(joined))

    def fit(self, small: DataFrame) -> "BloomJoinFilter":
        self._fit_bits(small.select(self._fp().alias("__fp")))
        return self

    def transform(self, big: DataFrame) -> DataFrame:
        """Big side with can't-match rows (and NULL-key rows)
        removed."""
        if self._bits is None:
            raise ValueError("fit(small) before transform(big)")
        return (big.withColumn("__bjf", self._might_contain(
                    big.sparkSession, self._fp()))
                .filter(F.col("__bjf")).drop("__bjf"))

    def filtered_join(self, big: DataFrame, small: DataFrame,
                      how: str = "inner") -> DataFrame:
        """``transform(big).join(small, keyCols, how)`` — fit() is
        called on ``small`` if the filter is empty. Only join types
        where dropping non-matching BIG rows is sound are accepted
        (inner / left_semi — a right/outer join needs those rows)."""
        if how not in ("inner", "left_semi", "semi"):
            raise ValueError(f"unsupported join type for a big-side "
                             f"pre-filter: {how}")
        if self._bits is None:
            self.fit(small)
        return self.transform(big).join(
            small, self.getOrDefault(self.keyCols), how)

