"""Record linkage, snapshot diffing and declarative data-quality
validation — the structured-data half of a curation pipeline.

``FuzzyRecordLinker`` — blocking + edit-distance entity resolution:
find record pairs whose string key (a product name, an address, an
org name) is within ``maxDistance`` Levenshtein edits. The naive
formulation is an O(n²) cross join; the standard scale shape (every
record-linkage system since Fellegi-Sunter toolkits) is *blocking*:
an equi-join on a cheap deterministic block key (here: the first
token, a prefix, or a length band) so only same-block pairs are ever
compared, then the exact edit-distance predicate as a residual
filter. Levenshtein runs JVM-side (`F.levenshtein` is a codegen
expression) — no Python in the loop.

``SnapshotDiffer`` — keyed CDC between two table snapshots: one FULL
OUTER join on the primary key classifies every row as ``insert`` /
``delete`` / ``update`` / unchanged and reports exactly which columns
changed. This is the extract side of every incremental pipeline
(feed it yesterday's and today's crawl shard; ship the diff, not the
table). One shuffle, null-safe comparison semantics
(``IS DISTINCT FROM``), no UDFs.

``ExpectationValidator`` — declarative data-quality rules evaluated
in as few passes as the rule mix allows: all row-local rules
(``not_null`` / ``range`` / ``regex``) fold into ONE aggregate over
ONE scan (a sum of boolean violations each), ``unique`` adds one
groupBy per distinct key-tuple, ``referential`` adds one broadcast
anti-join per foreign key. Output is one row per rule with the
violation count — the shape a 100 TB ingest gate wants (tiny result,
bounded passes, no row blow-up).
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator, HasInputCol
from flink_ml__spark.functions.dedup import HasIdColMixin


class FuzzyRecordLinker(AlgoOperator, HasInputCol, HasIdColMixin):
    """Blocked fuzzy matching on a string column.

    ``link(df)`` (self-linkage) returns one row per unordered record
    pair in the same block with
    ``levenshtein(a, b) <= maxDistance``::

        a_id, b_id        ids with a_id < b_id
        distance          edit distance (int)
        similarity        1 - distance / greatest(len(a), len(b))

    ``link(df, other)`` links two datasets (a_id from ``df``, b_id
    from ``other``, no ordering constraint) — the incremental shape:
    match today's batch against the master list.

    Blocking (``blocker``):

    * ``first_token`` (default) — records must share their first
      whitespace token (product lines, "LastName, First" rosters);
    * ``prefix`` — share the first ``blockLen`` characters;
    * ``length`` — length within the same ``blockLen``-wide band
      (coarse; note a pair straddling a band boundary — e.g. lengths
      3 and 4 with ``blockLen=4`` — is missed, like every fixed-band
      scheme; prefer ``prefix``/``first_token`` when edit-distance
      recall matters more than block size).

    A pair in *different* blocks is never compared — that is the
    deliberate recall/cost trade every blocking scheme makes; pick
    the blocker to match how your strings diverge.

    100 TB design: the block key is a map-side projection; the join
    is a shuffled equi-join on it (skewed mega-blocks split fine
    under AQE skew-join); ``levenshtein`` is a JVM codegen residual.
    Cost is sum over blocks of |block|², not n² — the operator's
    contract is that the blocker keeps blocks small.
    """

    maxDistance = Param(Params._dummy(), "maxDistance",
                        "max Levenshtein distance for a match",
                        TypeConverters.toInt)
    blocker = Param(Params._dummy(), "blocker",
                    "first_token | prefix | length",
                    TypeConverters.toString)
    blockLen = Param(Params._dummy(), "blockLen",
                     "prefix length / length-band width",
                     TypeConverters.toInt)

    _defaults = dict(inputCol="text", idCol="doc_id", maxDistance=2,
                     blocker="first_token", blockLen=4)

    def _block_key(self, col):
        how = self.getOrDefault(self.blocker)
        n = self.getOrDefault(self.blockLen)
        if how == "first_token":
            return F.split(F.trim(col), r"\s+").getItem(0)
        if how == "prefix":
            return F.substring(col, 1, n)
        if how == "length":
            return (F.length(col) / n).cast("bigint")
        raise ValueError(f"unknown blocker: {how}")

    def link(self, df: DataFrame, other: DataFrame | None = None
             ) -> DataFrame:
        idc, col = self.getIdCol(), self.getInputCol()
        max_d = self.getOrDefault(self.maxDistance)

        def side(d, tag):
            return d.filter(F.col(col).isNotNull()).select(
                F.col(idc).alias(f"{tag}_id"),
                F.col(col).alias(f"__{tag}"),
                self._block_key(F.col(col)).alias("__blk"))

        a = side(df, "a")
        b = side(df if other is None else other, "b")
        pairs = a.join(b, "__blk")
        if other is None:
            pairs = pairs.filter(F.col("a_id") < F.col("b_id"))
        dist = F.levenshtein("__a", "__b")
        # max-length floor of 1: two empty/whitespace strings block
        # together with distance 0, and a bare 0/0 division would emit
        # NULL similarity in Spark (and engine-divergent NaN in SQL
        # replays) for what is an exact match — floor makes it 1.0
        max_len = F.greatest(F.length("__a"), F.length("__b"), F.lit(1))
        return (pairs
                .filter(dist <= max_d)
                .select("a_id", "b_id", dist.alias("distance"),
                        (1.0 - dist / max_len).alias("similarity")))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.link(df)


class SnapshotDiffer(AlgoOperator):
    """Keyed diff of two snapshots of the same table (CDC extract).

    ``diff(old, new)`` returns one row per key whose row was
    inserted, deleted, or updated between the snapshots::

        <key cols>        from whichever side has them
        op                'insert' | 'delete' | 'update'
        changed_cols      sorted names of compared columns that
                          differ (empty for insert/delete)

    Unchanged rows produce NO output — on a 100 TB table with 0.1%
    churn the diff is 0.1% of the table, which is the point.
    Comparison is null-safe (NULL vs NULL is *unchanged*, NULL vs
    value is a change — SQL ``IS DISTINCT FROM`` semantics).
    ``compareCols`` defaults to every shared non-key column.

    100 TB design: ONE full-outer shuffled join on the key — the
    minimum possible for an unordered diff; with both snapshots
    bucketed by the key (``write_bucketed_table``) even that shuffle
    disappears. All predicates are codegen expressions.
    """

    keyCols = Param(Params._dummy(), "keyCols", "primary-key columns",
                    TypeConverters.toListString)
    compareCols = Param(Params._dummy(), "compareCols",
                        "columns to compare ([] = all shared non-key)",
                        TypeConverters.toListString)
    emitPayload = Param(Params._dummy(), "emitPayload",
                        "also emit the new-side value of every compared "
                        "column (NULL row for deletes)",
                        TypeConverters.toBoolean)

    _defaults = dict(keyCols=["id"], compareCols=[], emitPayload=False)

    def setKeyCols(self, *v):
        # accept both setKeyCols('a', 'b') and setKeyCols(['a', 'b'])
        # — the HasInputCols convention in base.py
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(keyCols=list(v))

    def setCompareCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(compareCols=list(v))

    def setEmitPayload(self, v: bool = True):
        """With the payload, the diff is a complete CDC record:
        ``apply(old, diff)`` reconstructs the new snapshot exactly."""
        return self._set(emitPayload=bool(v))

    RESERVED = ("op", "changed_cols")

    def diff(self, old: DataFrame, new: DataFrame) -> DataFrame:
        keys = self.getOrDefault(self.keyCols)
        cmp_cols = self.getOrDefault(self.compareCols)
        if not cmp_cols:
            shared = [c for c in old.columns
                      if c in set(new.columns) and c not in set(keys)]
            cmp_cols = shared
        clash = [c for c in (*keys, *cmp_cols) if c in self.RESERVED]
        if clash and (self.getOrDefault(self.emitPayload)
                      or any(k in self.RESERVED for k in keys)):
            # payload columns keep their original names in the output,
            # so a data column called 'op'/'changed_cols' would collide
            # with the diff's own columns (duplicate names break every
            # downstream filter and parquet write)
            raise ValueError(
                f"column(s) {clash} collide with the diff output's "
                f"reserved names {self.RESERVED} — rename them or "
                "drop them from compareCols")

        o = old.select(*keys, *[F.col(c).alias(f"__o_{c}")
                                for c in cmp_cols],
                       F.lit(True).alias("__in_o"))
        n = new.select(*keys, *[F.col(c).alias(f"__n_{c}")
                                for c in cmp_cols],
                       F.lit(True).alias("__in_n"))
        j = o.join(n, keys, "full_outer")

        changed = F.array_sort(F.filter(F.array(*[
            F.when(~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")),
                   F.lit(c))
            for c in cmp_cols]), lambda x: x.isNotNull())) \
            if cmp_cols else F.array().cast("array<string>")

        op = (F.when(F.col("__in_o").isNull(), F.lit("insert"))
               .when(F.col("__in_n").isNull(), F.lit("delete"))
               .otherwise(F.lit("update")))
        out = (j.withColumn("op", op)
                .withColumn("changed_cols",
                            F.when(F.col("op") == "update", changed)
                             .otherwise(F.array().cast("array<string>")))
                .filter((F.col("op") != "update")
                        | (F.size("changed_cols") > 0)))
        cols = [*keys, "op", "changed_cols"]
        if self.getOrDefault(self.emitPayload):
            cols += [F.col(f"__n_{c}").alias(c) for c in cmp_cols]
        return out.select(*cols)

    def apply(self, old: DataFrame, diff: DataFrame) -> DataFrame:
        """Replay a payload-carrying diff onto ``old``, returning the
        reconstructed new snapshot — the consume side of the CDC
        contract (``apply(old, diff(old, new)) == new`` up to column
        subset, property-tested). ``diff`` must come from
        ``setEmitPayload(True)`` and carry every compared column.

        One shuffled left join on the key (deletes and updates
        resolve map-side from the joined row) plus the insert slice —
        the same single-exchange budget as the diff itself."""
        keys = self.getOrDefault(self.keyCols)
        payload = [c for c in diff.columns
                   if c not in set(keys) | {"op", "changed_cols"}]
        if not payload:
            raise ValueError("diff carries no payload — produce it with "
                             "setEmitPayload(True)")
        extra = [c for c in old.columns
                 if c not in set(keys) | set(payload)]
        if extra:
            # inserts carry no values for columns outside the payload,
            # so "reconstructing" them would silently corrupt the
            # table (NULLs where the new snapshot has data) — refuse
            raise ValueError(
                f"old snapshot has columns {extra} the diff does not "
                "carry — diff with the full column set (default "
                "compareCols) to apply, or project old down to "
                "keys + payload first")
        d = diff.select(*keys, "op",
                        *[F.col(c).alias(f"__p_{c}") for c in payload])
        merged = (old.join(d, keys, "left")
                  .filter(F.col("op").isNull() | (F.col("op") != "delete"))
                  .select(*keys,
                          *[F.when(F.col("op") == "update",
                                   F.col(f"__p_{c}"))
                             .otherwise(F.col(c)).alias(c)
                            for c in payload]))
        inserts = (diff.filter(F.col("op") == "insert")
                   .select(*keys, *payload))
        return merged.unionByName(inserts)

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise TypeError("SnapshotDiffer is binary — call diff(old, new)")


class ExpectationValidator(AlgoOperator):
    """Declarative data-quality gate: evaluate a rule list against a
    DataFrame and return one row per rule::

        rule          user-visible rule name
        rule_type     not_null | range | regex | unique | referential
        n_violations  rows violating the rule
        passed        n_violations == 0

    Rules are added fluently::

        (ExpectationValidator()
            .expect_not_null("pk", "o_orderkey")
            .expect_unique("pk_unique", "o_orderkey")
            .expect_range("price_sane", "o_totalprice", 0.0, 1e7)
            .expect_regex("status_enum", "o_orderstatus", "^[OFP]$")
            .expect_referential("fk_cust", "o_custkey",
                                dim_df, "c_custkey")
            .validate(orders))

    Semantics (all NULL-explicit):

    * ``not_null``      — violation iff the value IS NULL;
    * ``range``         — violation iff NULL or outside [lo, hi];
    * ``regex``         — violation iff NULL or not fully matching;
    * ``unique``        — every row of a key-tuple occurring >1 times
                          counts (a key seen 3× = 3 violations);
    * ``referential``   — violation iff the (non-NULL) value has no
                          match in the dimension (NULL FK passes —
                          add ``not_null`` if it must not).

    100 TB design: all row-local rules (not_null/range/regex) compile
    into ONE aggregate over ONE scan — adding a 10th regex rule adds
    a codegen expression, not a pass. ``unique`` adds one groupBy per
    distinct key-tuple; ``referential`` one join per FK against the
    *distinct* dimension keys (broadcast when the dim is small, which
    FK dimensions are). The result is O(rules) rows.
    """

    def __init__(self):
        super().__init__()
        self._row_rules: list[tuple[str, str, object]] = []
        self._unique_rules: list[tuple[str, list[str]]] = []
        self._ref_rules: list[tuple[str, str, DataFrame, str]] = []

    def expect_not_null(self, name: str, col: str):
        self._row_rules.append((name, "not_null",
                                F.col(col).isNull()))
        return self

    def expect_range(self, name: str, col: str, lo, hi):
        c = F.col(col)
        self._row_rules.append((name, "range",
                                c.isNull() | (c < lo) | (c > hi)))
        return self

    def expect_regex(self, name: str, col: str, pattern: str):
        # rlike is substring-find; the documented contract is FULL
        # match, so anchor the user's pattern (non-capturing group
        # keeps any internal alternation intact). Idempotent for
        # already-anchored patterns.
        c = F.col(col)
        self._row_rules.append((name, "regex",
                                c.isNull()
                                | ~c.rlike(f"^(?:{pattern})$")))
        return self

    def expect_unique(self, name: str, *cols: str):
        """Key tuples must not repeat. ANSI UNIQUE-constraint NULL
        semantics: a tuple with ANY NULL key column never violates
        (NULLs compare distinct), so N all-NULL keys count 0 — use
        :meth:`expect_not_null` alongside when NULL keys themselves
        are a defect."""
        self._unique_rules.append((name, list(cols)))
        return self

    def expect_referential(self, name: str, col: str,
                           dim: DataFrame, dim_col: str):
        self._ref_rules.append((name, col, dim, dim_col))
        return self

    def validate(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        parts: list[DataFrame] = []

        if self._row_rules:
            aggs = [F.sum(viol.cast("bigint")).alias(name)
                    for name, _t, viol in self._row_rules]
            row = df.agg(*aggs)
            # one scan → one row; melt it to the per-rule shape
            stack = F.explode(F.array(*[
                F.struct(F.lit(name).alias("rule"),
                         F.lit(t).alias("rule_type"),
                         F.coalesce(F.col(name), F.lit(0))
                          .alias("n_violations"))
                for name, t, _v in self._row_rules])).alias("r")
            parts.append(row.select(stack).select("r.*"))

        for name, cols in self._unique_rules:
            keyed = df
            for c in cols:
                # ANSI UNIQUE: any-NULL key tuples are exempt
                keyed = keyed.filter(F.col(c).isNotNull())
            dup = (keyed.groupBy(*cols).count()
                     .filter(F.col("count") > 1)
                     .agg(F.coalesce(F.sum("count"), F.lit(0))
                           .alias("n_violations")))
            parts.append(dup.select(F.lit(name).alias("rule"),
                                    F.lit("unique").alias("rule_type"),
                                    "n_violations"))

        for name, col, dim, dim_col in self._ref_rules:
            keys = F.broadcast(dim.select(F.col(dim_col).alias(col))
                                  .distinct())
            miss = (df.filter(F.col(col).isNotNull())
                      .join(keys, col, "left_anti")
                      .agg(F.count(F.lit(1)).alias("n_violations")))
            parts.append(miss.select(
                F.lit(name).alias("rule"),
                F.lit("referential").alias("rule_type"),
                "n_violations"))

        if not parts:
            return spark.createDataFrame(
                [], "rule string, rule_type string, n_violations bigint,"
                    " passed boolean")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.withColumn("passed", F.col("n_violations") == 0)

    def transform(self, df: DataFrame) -> DataFrame:
        return self.validate(df)


class DatasetFingerprint(AlgoOperator):
    """Order-independent dataset checksum — the reproducibility
    primitive for 100 TB snapshots: two datasets with equal
    fingerprints contain identical ROWS (over the selected columns)
    regardless of partitioning, file layout, or row order, so an
    ingest job can assert "this rebuild equals last week's snapshot"
    without a sort or a join.

    ``transform(df)`` returns ONE row::

        n_rows        bigint
        checksum      string  hex of the commutative sum (mod 2^61)
                      of per-row md5-derived 60-bit values over the
                      '\\x1f'-joined selected columns (NULL → the
                      '\\x00' sentinel, so NULL ≠ empty string);
                      summed in decimal(38,0) — a plain long sum
                      silently wraps past ~8 large rows
        n_distinct    bigint  distinct row-value count

    A commutative SUM of per-row hashes is the standard mergeable
    content signature (any partitioning yields the same total; two
    shards' fingerprints ADD). Collision odds follow the birthday
    bound on 60 bits (~1e-9 at 10^5 rows... still ~1e-4 at 10^9 —
    pair with ``n_rows``/``n_distinct`` which must also match).
    Engine-portable: md5 exists everywhere, so a SQL oracle replays
    the exact checksum."""

    inputCols = Param(Params._dummy(), "inputCols",
                      "columns folded into the fingerprint "
                      "(default: all, in schema order)",
                      TypeConverters.toListString)

    _defaults = dict(inputCols=[])

    def setInputCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(inputCols=list(v))

    _MOD = 1 << 61

    def _row_hash(self, cols: list[str]) -> F.Column:
        joined = F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in cols])
        # top 15 md5 hex chars = 60 bits — fits a long with headroom
        return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10) \
                .cast("long")

    def transform(self, df: DataFrame) -> DataFrame:
        cols = self.getOrDefault(self.inputCols) or df.columns
        h = self._row_hash(cols)
        joined = F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in cols])
        total = F.sum(F.col("__h").cast("decimal(38,0)"))
        chk = F.conv(F.pmod(total, F.lit(self._MOD))
                     .cast("long").cast("string"), 10, 16)
        return (df.select(h.alias("__h"), joined.alias("__j"))
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     chk.alias("checksum"),
                     F.count_distinct("__j").alias("n_distinct")))


class TableProfiler(AlgoOperator):
    """One-pass per-column table profile — the first thing a data
    audit runs on an unfamiliar 100 TB table::

        column        string
        n             bigint   total rows
        n_null        bigint
        null_frac     double
        n_distinct    bigint   exact, or HLL++ when rsd > 0
        min_value     string   (stringified; numeric min/max for
        max_value     string    numeric columns, lexicographic else)
        mean_value    double   numeric columns only, else NULL

    Scale shape: every statistic for every profiled column folds into
    ONE scan aggregation (count/sum/min/max/count_distinct are all
    partial-merge aggregates), producing a single wide row that a
    bounded ``stack`` projection pivots into O(columns) rows. Exact
    ``count_distinct`` adds a distinct-expansion cost per column —
    ``setRsd(>0)`` switches to the mergeable HLL++ sketch, the 100 TB
    default (same contract as ``DistinctCounter``).
    """

    columns = Param(Params._dummy(), "columns",
                    "columns to profile (default: all)",
                    TypeConverters.toListString)
    rsd = Param(Params._dummy(), "rsd",
                "0.0 = exact distinct counts; > 0 = HLL++ at this "
                "relative standard deviation", TypeConverters.toFloat)

    _defaults = dict(rsd=0.0)

    def setColumns(self, *v):
        cols = list(v[0]) if len(v) == 1 and not isinstance(v[0], str) \
            else list(v)
        return self._set(columns=cols)

    def setRsd(self, v):
        v = float(v)
        if not 0.0 <= v < 1.0:
            raise ValueError("rsd must be in [0, 1)")
        return self._set(rsd=v)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import types as T

        cols = (self.getOrDefault(self.columns)
                if self.isDefined(self.columns) else df.columns)
        rsd = self.getOrDefault(self.rsd)
        numeric = {f.name for f in df.schema.fields
                   if isinstance(f.dataType, T.NumericType)}
        # aliases are POSITIONAL (__null_0, __dist_0, ...), never the
        # raw column name: a profiler's whole job is unfamiliar tables,
        # where names with spaces/dots/quotes would break alias
        # resolution and the stack() expression string. The display
        # name enters only as a bound literal.
        aggs = [F.count(F.lit(1)).alias("__n")]
        dist_aggs = []
        for i, c in enumerate(cols):
            # backtick-quote (doubling embedded backticks) so dots,
            # spaces and quotes in the name are literal, not multipart
            col = F.col("`%s`" % c.replace("`", "``"))
            aggs += [
                F.count(F.when(col.isNull(), 1)).alias(f"__null_{i}"),
                F.min(col).cast("string").alias(f"__min_{i}"),
                F.max(col).cast("string").alias(f"__max_{i}"),
                (F.avg(col.cast("double")) if c in numeric
                 else F.lit(None).cast("double")).alias(f"__mean_{i}"),
            ]
            if rsd > 0:
                # HLL++ sketches merge like any other partial — they
                # ride the one keyless fold
                aggs.append(
                    F.approx_count_distinct(col, rsd).alias(f"__dist_{i}"))
            else:
                dist_aggs.append(
                    F.count_distinct(col).alias(f"__dist_{i}"))
        wide = df.agg(*aggs)
        if dist_aggs:
            # exact multi-column distinct goes through Catalyst's
            # Expand rewrite, which turns the fold into an aggregation
            # KEYED by (all profiled columns, gid). Kept in the same
            # agg as min/max the keyed pass inherits their string
            # buffers and falls back to SortAggregate — two full-width
            # sorts of the column-count-times-expanded table. Split
            # out, the expanded pass carries no buffers at all and
            # both its levels stay hash aggregations; the min/max/mean
            # fold above is keyless, so it never sorts either. Costs
            # one extra scan, saves the expanded sort — the trade
            # scales with table width times row count.
            wide = wide.join(F.broadcast(df.agg(*dist_aggs)))
        rows = F.explode(F.array(*[
            F.struct(F.lit(c).alias("column"),
                     F.col(f"__null_{i}").alias("n_null"),
                     F.col(f"__dist_{i}").alias("n_distinct"),
                     F.col(f"__min_{i}").alias("min_value"),
                     F.col(f"__max_{i}").alias("max_value"),
                     F.col(f"__mean_{i}").alias("mean_value"))
            for i, c in enumerate(cols)])).alias("r")
        return wide.select("__n", rows).select("__n", "r.*").select(
            "column", F.col("__n").alias("n"), "n_null",
            F.when(F.col("__n") > 0,
                   F.col("n_null") / F.col("__n")).alias("null_frac"),
            "n_distinct", "min_value", "max_value", "mean_value")


class JsonSchemaProfiler(AlgoOperator, HasInputCol):
    """Schema inference over a semi-structured JSON string column —
    the first pass over an unfamiliar event/metadata feed: which
    top-level keys exist, how often, with what value types.

    Output, one row per top-level key::

        key             top-level object key
        n_present       documents containing the key (any value,
                        including JSON null)
        frac_present    n_present / parsed-object count
        n_string n_number n_boolean n_null n_object n_array
                        value-type tallies (JSON type classes;
                        ints and floats both count as number)
        dominant_type   the most frequent class (ties alphabetical)

    Documents that are NULL, malformed JSON, or non-objects are
    excluded from the denominator. Top-level keys only by design —
    re-apply the profiler to an extracted subdocument
    (``get_json_object(col, '$.nested')``) to descend one level.

    100 TB design: Catalyst has no dynamic-typed per-key extraction,
    so typing is ONE Arrow ``mapInPandas`` pass that emits per-BATCH
    partial counts (key, type, count) — traffic is O(distinct keys ×
    7 types) per batch, never per row — followed by a single
    O(keys·types) aggregation; the parsed-doc denominator rides the
    same stream as a sentinel row, so the whole profile is one scan
    plus one tiny shuffle.
    """

    def transform(self, df: DataFrame) -> DataFrame:
        c = self.getInputCol()
        sch = "key string, vtype string, cnt long"

        def partials(batches):
            import json
            from collections import Counter

            import pandas as pd

            def vclass(v):
                if v is None:
                    return "null"
                if isinstance(v, bool):   # before int: bool <: int
                    return "boolean"
                if isinstance(v, (int, float)):
                    return "number"
                if isinstance(v, str):
                    return "string"
                if isinstance(v, dict):
                    return "object"
                return "array"

            for pdf in batches:
                counts: Counter = Counter()
                n_docs = 0
                for s in pdf[c]:
                    if s is None:
                        continue
                    try:
                        obj = json.loads(s)
                    except (ValueError, TypeError):
                        continue
                    if not isinstance(obj, dict):
                        continue
                    n_docs += 1
                    for k, v in obj.items():
                        counts[(k, vclass(v))] += 1
                out = [(k, t, n) for (k, t), n in counts.items()]
                out.append(("", "__doc__", n_docs))
                yield pd.DataFrame(out, columns=["key", "vtype", "cnt"])

        from flink_ml__spark.base import ensure_min_parallelism

        parts = (ensure_min_parallelism(df.select(c))
                 .mapInPandas(partials, sch))
        from pyspark.sql import Window

        merged = (parts.groupBy("key", "vtype")
                  .agg(F.sum("cnt").alias("n")))
        # the parsed-doc denominator rides merged as a sentinel row; a
        # GLOBAL window over the O(keys·types) merged frame attaches it
        # to every row, so merged — and the Arrow scan feeding it — is
        # referenced once (the old separate docs-aggregate branch
        # recomputed the whole scan: drift() paid 4 passes, not 2)
        merged = merged.withColumn(
            "__docs", F.coalesce(
                F.sum(F.when(F.col("vtype") == "__doc__",
                             F.col("n"))).over(Window.partitionBy()),
                F.lit(0)))
        types = ["string", "number", "boolean", "null", "object",
                 "array"]
        pivoted = (merged.filter(F.col("vtype") != "__doc__")
                   .groupBy("key", "__docs")
                   .pivot("vtype", types).agg(F.first("n"))
                   .na.fill(0, types))
        present = sum((F.col(t) for t in types[1:]), F.col(types[0]))
        dom = F.array_sort(F.array(*[
            F.struct((-F.col(t)).alias("neg"), F.lit(t).alias("t"))
            for t in types]))[0]["t"]
        return (pivoted
                .select(
                    "key",
                    present.alias("n_present"),
                    F.when(F.col("__docs") > 0,
                           present / F.col("__docs"))
                     .alias("frac_present"),
                    *[F.col(t).alias(f"n_{t}") for t in types],
                    dom.alias("dominant_type")))

    def drift(self, ref: DataFrame, cur: DataFrame) -> DataFrame:
        """Schema drift between two snapshots of a JSON feed: profile
        both frames and report, per top-level key::

            status          'added' | 'removed' | 'common'
            ref_present cur_present      presence counts (0 if absent)
            ref_frac cur_frac            presence rates (0.0 if absent)
            frac_shift                   cur_frac - ref_frac
            ref_dominant cur_dominant    dominant type class (NULL if
                                         absent on that side)
            type_changed                 dominant class differs (common
                                         keys only; False otherwise)

        The upstream-producer alarms a pipeline wants before a
        deploy: new keys, dropped keys, a field that silently went
        from number to string, a mostly-present field going sparse.
        Cost is two profiler passes (one scan each) joined on the
        O(keys) results.
        """
        p_ref = self.transform(ref).select(
            "key", F.col("n_present").alias("ref_present"),
            F.col("frac_present").alias("ref_frac"),
            F.col("dominant_type").alias("ref_dominant"))
        p_cur = self.transform(cur).select(
            "key", F.col("n_present").alias("cur_present"),
            F.col("frac_present").alias("cur_frac"),
            F.col("dominant_type").alias("cur_dominant"))
        j = p_ref.join(p_cur, "key", "full_outer")
        status = (F.when(F.col("ref_present").isNull(), F.lit("added"))
                  .when(F.col("cur_present").isNull(), F.lit("removed"))
                  .otherwise(F.lit("common")))
        return j.select(
            "key", status.alias("status"),
            F.coalesce("ref_present", F.lit(0)).alias("ref_present"),
            F.coalesce("cur_present", F.lit(0)).alias("cur_present"),
            F.coalesce("ref_frac", F.lit(0.0)).alias("ref_frac"),
            F.coalesce("cur_frac", F.lit(0.0)).alias("cur_frac"),
            (F.coalesce("cur_frac", F.lit(0.0))
             - F.coalesce("ref_frac", F.lit(0.0))).alias("frac_shift"),
            "ref_dominant", "cur_dominant",
            F.when(F.col("ref_dominant").isNotNull()
                   & F.col("cur_dominant").isNotNull(),
                   F.col("ref_dominant") != F.col("cur_dominant"))
             .otherwise(F.lit(False)).alias("type_changed"))


class GoldenRecordBuilder(AlgoOperator):
    """Survivorship / golden-record construction over clustered
    records — the step after blocked fuzzy matching
    (:class:`FuzzyRecordLinker`) and duplicate clustering
    (:class:`~flink_ml__spark.functions.curation.DuplicateClusterer`):
    collapse each entity cluster to ONE record whose every attribute
    is the cluster's modal (most frequent) non-NULL value, ties
    broken by the smallest value string — deterministic, so repair
    runs are reproducible.

    ``transform(df)`` expects ``clusterCol`` plus ``valueCols`` and
    returns one row per cluster::

        <clusterCol>   the entity id
        n_members      records merged
        <each valueCol>   its modal value AS STRING (cast upstream
                          if typed output is needed); NULL when the
                          column is NULL across the whole cluster

    100 TB design: every attribute resolves in ONE pass — a map-side
    melt to (cluster, attr, value) rows, one count aggregation, a
    per-(cluster, attr) max_by pick, and a pivot-back aggregation.
    Shuffle volume is O(rows × attrs) once, never per-attribute jobs.
    """

    clusterCol = Param(Params._dummy(), "clusterCol",
                       "entity-cluster id column",
                       TypeConverters.toString)
    valueCols = Param(Params._dummy(), "valueCols",
                      "attribute columns to survive",
                      TypeConverters.toListString)

    _defaults = dict(clusterCol="cluster")

    def setValueCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        if not cols:
            raise ValueError("valueCols must be non-empty")
        return self._set(valueCols=cols)

    def transform(self, df: DataFrame) -> DataFrame:
        c = self.getOrDefault(self.clusterCol)
        cols = self.getOrDefault(self.valueCols)
        base = df.filter(F.col(c).isNotNull())
        members = (base.groupBy(F.col(c))
                   .agg(F.count(F.lit(1)).alias("n_members")))
        melted = (base.select(
            F.col(c), F.explode(F.array(*[
                F.struct(F.lit(a).alias("__attr"),
                         F.col(a).cast("string").alias("__val"))
                for a in cols])).alias("m"))
            .select(c, "m.__attr", "m.__val")
            .filter(F.col("__val").isNotNull()))
        counts = (melted.groupBy(c, "__attr", "__val")
                  .agg(F.count(F.lit(1)).alias("__n")))
        # modal pick: min_by over (−count, value) — largest count,
        # ties to the smallest value; one aggregation, no window sort
        picked = (counts.groupBy(c, "__attr")
                  .agg(F.min_by(
                      "__val",
                      F.struct((-F.col("__n")).alias("nn"),
                               F.col("__val").alias("v")))
                      .alias("__win")))
        wide = (picked.groupBy(c)
                .agg(*[F.max(F.when(F.col("__attr") == a,
                                    F.col("__win"))).alias(a)
                       for a in cols]))
        return (members.join(wide, c, "left")
                .select(c, "n_members", *cols))


class FunctionalDependencyProfiler(AlgoOperator):
    """Functional-dependency audit: for declared rules ``a -> b``, how
    often does one ``a`` value map to MORE than one ``b``? The
    warehouse-hygiene check behind "is this column a reliable lookup
    key" — broken FDs are where silent fan-out joins and golden-record
    conflicts come from (companion to :class:`ExpectationValidator`'s
    row-level gates and :class:`GoldenRecordBuilder`'s survivorship).

    ``transform(df)`` returns one row per rule::

        rule               "a->b"
        n_keys             distinct non-NULL a values
        n_violating_keys   a values mapping to >1 distinct b
                           (NULL b counts as its own value)
        violation_rate     n_violating_keys / n_keys
        max_fanout         most distinct b seen under one a

    ONE melt pass builds every rule's (key, value) table (the
    :class:`~flink_ml__spark.functions.stats.CategoricalAssociation`
    cell pattern), then two count aggregates — all O(Σ distinct
    pairs), never data-sized on the reduce side."""

    rules = Param(Params._dummy(), "rules",
                  "dependencies as 'a->b' strings",
                  TypeConverters.toListString)

    NULL_VAL = "␀"  # sentinel so NULL b is its own value

    _defaults = dict(rules=[])

    def setRules(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        out = []
        for r in v:
            if r.count("->") != 1:
                raise ValueError(f"rule must be 'a->b', got {r!r}")
            out.append(r)
        return self._set(rules=out)

    def transform(self, df: DataFrame) -> DataFrame:
        rules = [tuple(r.split("->")) for r in
                 self.getOrDefault(self.rules)]
        if not rules:
            raise ValueError("no rules set — call setRules('a->b', ...)")
        cells = F.explode(F.filter(F.array(*[
            F.when(F.col(a).isNotNull(),
                   F.struct(F.lit(f"{a}->{b}").alias("rule"),
                            F.col(a).cast("string").alias("k"),
                            F.coalesce(F.col(b).cast("string"),
                                       F.lit(self.NULL_VAL)).alias("v")))
            for a, b in rules]), lambda c: c.isNotNull()))
        pairs = (df.select(cells.alias("__c"))
                 .select("__c.rule", "__c.k", "__c.v").distinct())
        per_key = (pairs.groupBy("rule", "k")
                   .agg(F.count(F.lit(1)).alias("__nv")))
        return (per_key.groupBy("rule").agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.when(F.col("__nv") > 1, 1).otherwise(0))
            .alias("n_violating_keys"),
            (F.floor((F.avg(F.when(F.col("__nv") > 1, 1.0)
                          .otherwise(0.0))) * 1e6 + 0.5) / 1e6).alias("violation_rate"),
            F.max("__nv").alias("max_fanout")))


class PartitionHealthAuditor(AlgoOperator):
    """Per-partition ingestion health: row counts and key-column null
    rates for every value of a partition column (ingest date, source,
    region), with the row-count delta against the PREVIOUS partition —
    the "did yesterday's load look like today's" report that catches
    half-loaded partitions and upstream schema accidents before any
    model does.

    ``transform(df)`` → one row per (partition value, checked column)::

        <partitionCol>   the partition value (string; NULL = missing)
        column           checked column name
        n_rows           rows in the partition
        n_null           NULLs of the column in the partition
        null_frac        n_null / n_rows
        prev_n_rows      previous partition's row count (order by
                         partition value ascending; NULL for first)
        row_delta_frac   (n_rows − prev) / prev

    ONE melt aggregation over the data (O(partitions · cols) output)
    plus a lag window over the aggregated table. At 100 TB the scan
    prunes to the partitions selected upstream; nothing here is ever
    wider than the partition × column grid."""

    partitionCol = Param(Params._dummy(), "partitionCol",
                         "partition column", TypeConverters.toString)
    checkCols = Param(Params._dummy(), "checkCols",
                      "columns whose null rates are audited",
                      TypeConverters.toListString)

    _defaults = dict(partitionCol="ds", checkCols=[])

    def setCheckCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        if not v:
            raise ValueError("need at least one check column")
        return self._set(checkCols=list(v))

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        p = self.getOrDefault(self.partitionCol)
        cols = self.getOrDefault(self.checkCols)
        if not cols:
            raise ValueError("no check columns — call setCheckCols")
        per = (df.groupBy(F.col(p).cast("string").alias(p))
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    *[F.sum(F.col(c).isNull().cast("bigint"))
                      .alias(f"__n_{i}") for i, c in enumerate(cols)]))
        w = Window.orderBy(p)
        per = per.withColumn("prev_n_rows", F.lag("n_rows").over(w))
        rows = F.explode(F.array(*[
            F.struct(F.lit(c).alias("column"),
                     F.col(f"__n_{i}").alias("n_null"))
            for i, c in enumerate(cols)]))
        return (per.select(p, "n_rows", "prev_n_rows",
                           rows.alias("__r"))
                .select(p, F.col("__r.column").alias("column"),
                        "n_rows", F.col("__r.n_null").alias("n_null"),
                        # floor-quantized (not round()): the integer
                        # ratios are bit-identical doubles across
                        # engines, and floor is too — round() impls
                        # differ at half-even boundaries
                        (F.floor(F.col("__r.n_null")
                                 / F.col("n_rows") * 1e6 + 0.5) / 1e6)
                        .alias("null_frac"),
                        "prev_n_rows",
                        (F.floor((F.col("n_rows")
                                  - F.col("prev_n_rows"))
                                 / F.col("prev_n_rows") * 1e6 + 0.5) / 1e6)
                        .alias("row_delta_frac")))


class CompactionPlanner(AlgoOperator):
    """Small-files compaction planning: given an inventory of items
    (files, chunks, documents) with sizes, assign each item to a
    target output group so every group lands near ``targetSize`` —
    the planning half of the OPTIMIZE/compaction maintenance job every
    large table needs (small-file proliferation is the classic 100 TB
    lakehouse failure: a 1 TB partition in 100k 10 MB files reads 100×
    slower than in 1k 1 GB files).

    Assignment is the deterministic first-fit-by-order rule: within
    each partition key, items are taken in ``orderCol`` order and a
    running size total is kept; item i goes to group
    ``floor(cumsum_before_i / targetSize)``. Groups can overshoot by
    at most one item (the standard streaming bin-packing bound) and
    the rule is pure SQL — one window cumsum — so any engine replays
    the exact same plan.

    ``transform(df)`` returns one row per planned output group::

        <keyCols...>   partition columns, passed through
        file_seq       group index within the partition (0-based)
        n_items        items merged into this group
        total_size     sum of their sizes
        first_id       min orderCol in the group   (the merge range —
        last_id        max orderCol in the group    contiguous by rule)

    Scale note: compaction planning runs over the item INVENTORY
    (file listing / manifest), which is metadata-sized — the window
    cumsum partitions by the table's partition key, so no single
    window sees more than one partition's listing. The data movement
    itself is the executor job that consumes this plan, not this
    operator.
    """

    keyCols = Param(Params._dummy(), "keyCols",
                    "partition columns", TypeConverters.toListString)
    sizeCol = Param(Params._dummy(), "sizeCol",
                    "item size column (bytes)", TypeConverters.toString)
    orderCol = Param(Params._dummy(), "orderCol",
                     "deterministic within-partition order column",
                     TypeConverters.toString)
    targetSize = Param(Params._dummy(), "targetSize",
                       "target output size per group (bytes)",
                       TypeConverters.toInt)

    _defaults = dict(keyCols=[], sizeCol="size", orderCol="path",
                     targetSize=128 * 1024 * 1024)

    def setKeyCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        return self._set(keyCols=cols)

    def setTargetSize(self, v):
        v = int(v)
        if v <= 0:
            raise ValueError(f"targetSize must be positive, got {v}")
        return self._set(targetSize=v)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        keys = self.getOrDefault(self.keyCols)
        size = F.col(self.getOrDefault(self.sizeCol)).cast("bigint")
        oc = self.getOrDefault(self.orderCol)
        tgt = self.getOrDefault(self.targetSize)
        w = (Window.partitionBy(*[F.col(k) for k in keys])
             if keys else Window.partitionBy())
        cum_before = (F.sum(size).over(
            w.orderBy(F.col(oc)).rowsBetween(
                Window.unboundedPreceding, Window.currentRow)) - size)
        base = (df.filter(size.isNotNull() & F.col(oc).isNotNull())
                .withColumn("__grp", F.floor(cum_before / F.lit(tgt))
                            .cast("bigint")))
        return (base.groupBy(*keys, F.col("__grp").alias("file_seq"))
                .agg(F.count(F.lit(1)).alias("n_items"),
                     F.sum(size).alias("total_size"),
                     F.min(oc).alias("first_id"),
                     F.max(oc).alias("last_id")))


class UpsertMerger(AlgoOperator):
    """Keyed MERGE (upsert) between a target snapshot and an updates
    batch — the batch-side of the Delta/Iceberg ``MERGE INTO``
    pattern: updates matching a target key REPLACE the row, new keys
    INSERT, targets without updates carry over unchanged; an optional
    boolean ``deleteCol`` on the updates side deletes the key.

    ``merge(target, updates)`` returns the merged table (target
    schema; the delete column never leaks through).
    ``merge_stats(target, updates)`` returns ONE audit row::

        n_target, n_updates
        n_inserted     update keys absent from the target
        n_updated      matched keys whose non-key payload CHANGED
        n_unchanged_matched
                       matched keys with identical payload (no-op
                       writes — the wasted-write smell)
        n_deleted      matched keys flagged by deleteCol
        n_carried      target keys untouched by the batch
        n_result       rows in the merged table

    Duplicate update keys are an error upstream; this operator keeps
    the LAST by ``orderCol`` when given, else rejects duplicates.

    100 TB design: ONE full-outer equi-join on the key (both sides
    shuffle once; pre-bucketed tables co-locate); change detection
    compares md5 over the concatenated payload map-side. The stats
    variant aggregates the join output without materializing the
    merge.
    """

    keyCols = Param(Params._dummy(), "keyCols", "merge key columns",
                    TypeConverters.toListString)
    deleteCol = Param(Params._dummy(), "deleteCol",
                      "boolean delete-flag column on updates ('' = "
                      "no deletes)", TypeConverters.toString)
    orderCol = Param(Params._dummy(), "orderCol",
                     "dedup order for duplicate update keys ('' = "
                     "duplicates are an error)", TypeConverters.toString)

    _defaults = dict(keyCols=[], deleteCol="", orderCol="")

    def setKeyCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        if not cols:
            raise ValueError("keyCols must be non-empty")
        return self._set(keyCols=cols)

    def _prep(self, target: DataFrame, updates: DataFrame):
        from pyspark.sql import Window

        keys = self.getOrDefault(self.keyCols)
        dcol = self.getOrDefault(self.deleteCol)
        ocol = self.getOrDefault(self.orderCol)
        payload = [c for c in target.columns if c not in keys]
        upd = updates
        if ocol:
            w = Window.partitionBy(*keys).orderBy(F.desc(ocol))
            upd = (upd.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
        del_flag = (F.col(dcol).cast("boolean") if dcol
                    else F.lit(False))
        upd = upd.select(
            *keys, *[F.col(c).alias(f"__u_{c}") for c in payload],
            F.coalesce(del_flag, F.lit(False)).alias("__del"))

        def fp(prefix=""):
            return F.md5(F.concat_ws(
                "\x1f", *[F.coalesce(F.col(prefix + c).cast("string"),
                                     F.lit("\x00")) for c in payload]))

        tgt = target.withColumn("__t_fp", fp())
        upd = upd.withColumn("__u_fp", fp("__u_"))
        joined = tgt.join(upd, keys, "full_outer")
        return joined, keys, payload

    def merge(self, target: DataFrame, updates: DataFrame) -> DataFrame:
        joined, keys, payload = self._prep(target, updates)
        has_u = F.col("__u_fp").isNotNull()
        keep = ~(has_u & F.col("__del"))
        cols = [F.col(k) for k in keys] + [
            F.when(has_u, F.col(f"__u_{c}")).otherwise(F.col(c))
            .alias(c) for c in payload]
        return joined.filter(keep).select(*cols)

    def merge_stats(self, target: DataFrame,
                    updates: DataFrame) -> DataFrame:
        joined, keys, payload = self._prep(target, updates)
        has_t = F.col("__t_fp").isNotNull()
        has_u = F.col("__u_fp").isNotNull()
        deleted = has_t & has_u & F.col("__del")
        inserted = ~has_t & has_u & ~F.col("__del")
        updated = (has_t & has_u & ~F.col("__del")
                   & (F.col("__t_fp") != F.col("__u_fp")))
        unchanged = (has_t & has_u & ~F.col("__del")
                     & (F.col("__t_fp") == F.col("__u_fp")))
        carried = has_t & ~has_u

        def cnt(c, name):
            return F.sum(c.cast("int")).alias(name)

        return joined.agg(
            cnt(has_t, "n_target"), cnt(has_u, "n_updates"),
            cnt(inserted, "n_inserted"), cnt(updated, "n_updated"),
            cnt(unchanged, "n_unchanged_matched"),
            cnt(deleted, "n_deleted"), cnt(carried, "n_carried"),
            cnt(~(has_t & has_u & F.col("__del"))
                & (has_t | (has_u & ~F.col("__del"))), "n_result"))

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError("use merge(target, updates)")


class ReferentialIntegrityChecker(AlgoOperator):
    """Foreign-key orphan audit: for each configured FK
    ``child.col → parent.col``, count child rows whose key has no
    parent — the referential-integrity expectation a warehouse runs
    after every load (a nonzero orphan rate means a partial load, a
    late dimension, or key drift).

    ``check(children)`` takes ``{fk_name: (child_df, child_col,
    parent_df, parent_col)}`` and returns one row per FK::

        fk          the name
        n_rows      child rows with a non-null key
        n_null      child rows with a NULL key (reported, not orphans)
        n_orphans   rows whose key misses the parent
        orphan_rate n_orphans / n_rows (NULL when n_rows = 0)

    100 TB design: per FK, the child aggregates to DISTINCT keys with
    counts first (the shuffle carries keys, not rows), then ONE
    left-anti join against the parent's distinct keys — no row-level
    join ever happens.
    """

    def check(self, fks: dict) -> DataFrame:
        if not fks:
            raise ValueError("no foreign keys configured")
        out = None
        for name, (child, ccol, parent, pcol) in fks.items():
            keyed = (child.select(F.col(ccol).alias("__k"))
                     .groupBy("__k")
                     .agg(F.count(F.lit(1)).alias("__c")))
            nulls = keyed.filter(F.col("__k").isNull())
            nonnull = keyed.filter(F.col("__k").isNotNull())
            orphans = nonnull.join(
                parent.select(F.col(pcol).alias("__k")).distinct(),
                "__k", "left_anti")
            row = (nonnull.agg(F.sum("__c").alias("n_rows"))
                   .crossJoin(nulls.agg(
                       F.coalesce(F.sum("__c"), F.lit(0))
                       .alias("n_null")))
                   .crossJoin(orphans.agg(
                       F.coalesce(F.sum("__c"), F.lit(0))
                       .alias("n_orphans")))
                   .select(F.lit(name).alias("fk"),
                           F.coalesce("n_rows", F.lit(0))
                           .alias("n_rows"), "n_null", "n_orphans"))
            out = row if out is None else out.unionAll(row)
        return out.withColumn(
            "orphan_rate",
            F.when(F.col("n_rows") > 0,
                   F.col("n_orphans") / F.col("n_rows")
                   .cast("double")))

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError("use check({name: (child, col, "
                                  "parent, col)})")


class KAnonymityAuditor(AlgoOperator):
    """k-anonymity audit over quasi-identifier columns (Sweeney 2002):
    every combination of quasi-identifiers shared by fewer than ``k``
    rows is a re-identification risk — the privacy gate a
    training-data release runs before shipping tabular data or
    metadata columns alongside text.

    ``evaluate(df)`` returns ONE summary row::

        n_rows         rows audited
        n_combos       distinct quasi-identifier combinations
        n_violating    combos with fewer than k rows
        rows_at_risk   rows living in violating combos
        risk_share     rows_at_risk / n_rows
        min_class      the smallest equivalence-class size (1 =
                       somebody is unique)
        k              the threshold audited

    ``violations(df)`` returns the violating combos themselves
    (quasi columns + ``class_size``), for suppression/generalization
    downstream.

    Scale shape: ONE hash aggregation on the quasi columns (the
    equivalence classes), then an O(classes) rollup — nothing
    row-sized leaves the first aggregation. NULL is a value here
    (NULL zip + NULL age is itself an identifiable pattern), so
    grouping keeps NULLs — the SQL ``GROUP BY`` convention.
    """

    quasiCols = Param(Params._dummy(), "quasiCols",
                      "quasi-identifier columns",
                      TypeConverters.toListString)
    k = Param(Params._dummy(), "k", "minimum class size",
              TypeConverters.toInt)

    _defaults = dict(quasiCols=[], k=5)

    def setQuasiCols(self, *cols):
        cols = list(cols[0]) if len(cols) == 1 and not isinstance(
            cols[0], str) else list(cols)
        if not cols:
            raise ValueError("quasiCols must be non-empty")
        return self._set(quasiCols=cols)

    def setK(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"k must be >= 2, got {v}")
        return self._set(k=v)

    def _classes(self, df: DataFrame) -> DataFrame:
        qs = self.getOrDefault(self.quasiCols)
        if not qs:
            raise ValueError("quasiCols must be non-empty")
        return df.groupBy(*qs).agg(
            F.count(F.lit(1)).alias("class_size"))

    def violations(self, df: DataFrame) -> DataFrame:
        k = self.getOrDefault(self.k)
        return self._classes(df).filter(F.col("class_size") < k)

    def evaluate(self, df: DataFrame) -> DataFrame:
        k = self.getOrDefault(self.k)
        cls = self._classes(df)
        viol = F.col("class_size") < k
        return cls.agg(
            F.sum("class_size").alias("n_rows"),
            F.count(F.lit(1)).alias("n_combos"),
            F.sum(viol.cast("int")).alias("n_violating"),
            F.sum(F.when(viol, F.col("class_size")).otherwise(0))
            .alias("rows_at_risk"),
            (F.sum(F.when(viol, F.col("class_size")).otherwise(0))
             / F.sum("class_size").cast("double")).alias("risk_share"),
            F.min("class_size").alias("min_class"),
            F.lit(k).alias("k"))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.evaluate(df)
