"""Numeric distribution-drift monitoring between two snapshots of the
same table — the model-ops companion of the token-level
``DomainDivergence`` monitor: a feature pipeline feeding a trained
model needs to know when today's data stopped looking like the data
the model (or the curation thresholds) were fit on.

``DriftMonitor`` computes the Population Stability Index per column:
bucket edges come from the REFERENCE side's exact interpolated
quantiles (the convention every PSI implementation uses — the bins
describe where reference mass sits), both sides histogram against
those fixed edges, and PSI = Σ (p_cur − p_ref) · ln(p_cur / p_ref)
with the standard 1e-6 proportion floor so empty buckets stay finite.
Rule of thumb (Siddiqi, "Credit Risk Scorecards", 2005): PSI < 0.1
stable, 0.1–0.25 moderate shift, > 0.25 action required.

100 TB design: ONE aggregation per side per fit/apply — the quantile
fit is one pass over the reference, the edges fold to O(buckets)
literals, bucket assignment is a map-side sum of comparisons, and each
histogram is a partial+final count aggregate with O(buckets) output.
Nothing driver-side ever exceeds O(columns · buckets). The fit
defaults to exact ``percentile`` (SQL-oracle-replayable, like
``Winsorizer``); at 100 TB set ``relativeError`` (e.g. 0.001) to use
the bounded-memory ``approx_percentile`` sketch instead — exact
percentile merges a full value→count map on one final buffer and OOMs
on high-cardinality columns (see ``HasRelativeError``).
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator, HasRelativeError

_FLOOR = 1e-6


def drift_level(psi_col):
    """stable/moderate/action classification of a PSI column — the
    Siddiqi (2005) thresholds. The SINGLE definition shared by
    :class:`DriftMonitor`, :class:`CategoricalDriftMonitor` and the
    streaming twin (``streaming.online.stream_drift_monitor``) so a
    threshold change cannot desynchronize the three surfaces."""
    return (F.when(psi_col < 0.1, F.lit("stable"))
             .when(psi_col < 0.25, F.lit("moderate"))
             .otherwise(F.lit("action")))


def _psi_summary(report_df: DataFrame) -> DataFrame:
    """Fold a per-(column, bucket|category) PSI report to one row per
    column with the total ``psi`` and its ``drift_level``."""
    return (report_df.groupBy("column")
            .agg(F.sum("psi_term").alias("psi"))
            .withColumn("drift_level", drift_level(F.col("psi"))))


def _psi_terms(out: DataFrame) -> DataFrame:
    """Append floored proportions + psi_term to a joined
    (column, ·, n_ref, n_cur) histogram frame. O(columns · buckets)
    rows — the window runs on the tiny histogram table, never the
    data. The SINGLE arithmetic shared by the two-frame and the
    fitted-profile paths (they cannot diverge)."""
    from pyspark.sql import Window

    w = Window.partitionBy("column")
    p_ref = F.greatest(F.col("n_ref")
                       / F.sum("n_ref").over(w), F.lit(_FLOOR))
    p_cur = F.greatest(F.col("n_cur")
                       / F.sum("n_cur").over(w), F.lit(_FLOOR))
    return (out.withColumn("p_ref", p_ref)
               .withColumn("p_cur", p_cur)
               .withColumn("psi_term",
                           (F.col("p_cur") - F.col("p_ref"))
                           * F.log(F.col("p_cur") / F.col("p_ref"))))


def _bucket_expr(col, edges: list[float]):
    b = F.lit(0)
    for e in edges:
        b = b + (F.col(col) >= F.lit(e)).cast("int")
    return b


def _numeric_hist(df: DataFrame, edges: dict[str, list[float]],
                  tag: str) -> DataFrame:
    """ONE pass histograms every column: each row explodes into its
    per-column (column, bucket) cells (NULLs dropped per column),
    then one partial+final count aggregate."""
    cells = F.explode(F.filter(F.array(*[
        F.when(F.col(c).isNotNull(),
               F.struct(F.lit(c).alias("column"),
                        _bucket_expr(c, e).alias("bucket")))
        for c, e in edges.items()]), lambda x: x.isNotNull()))
    return (df.select(cells.alias("__cell"))
              .groupBy(F.col("__cell.column").alias("column"),
                       F.col("__cell.bucket").alias("bucket"))
              .agg(F.count(F.lit(1)).alias(f"n_{tag}")))


class DriftMonitor(AlgoOperator, HasRelativeError):
    """PSI drift report between a reference and a current DataFrame.

    ``report(reference, current)`` returns one row per (column,
    bucket)::

        column      string
        bucket      int      0-based (``numBuckets`` quantile bins)
        n_ref       bigint   reference rows in the bucket
        n_cur       bigint   current rows in the bucket
        p_ref       double   floored proportions (NULLs excluded)
        p_cur       double
        psi_term    double   (p_cur − p_ref) · ln(p_cur / p_ref)

    ``summary(reference, current)`` aggregates to one row per column
    with the total ``psi``. NULL values are excluded from both sides
    (count them with ``ExpectationValidator`` if NULL-rate drift
    matters). Edges are the reference's exact interpolated quantiles;
    degenerate (constant) columns collapse to one bucket and report
    PSI 0 against an identical current side.
    """

    inputCols = Param(Params._dummy(), "inputCols",
                      "numeric columns to monitor",
                      TypeConverters.toListString)
    numBuckets = Param(Params._dummy(), "numBuckets",
                       "quantile buckets per column",
                       TypeConverters.toInt)

    _defaults = dict(inputCols=[], numBuckets=10)

    def setInputCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(inputCols=list(v))

    def setNumBuckets(self, v):
        v = int(v)
        if v < 2:
            raise ValueError(f"numBuckets must be >= 2, got {v}")
        return self._set(numBuckets=v)

    def _all_edges(self, reference: DataFrame,
                   cols: list[str]) -> dict[str, list[float]]:
        """ONE aggregation computes every column's k−1 exact
        interpolated percentiles (N sequential per-column jobs would
        scan the reference N times)."""
        k = self.getOrDefault(self.numBuckets)
        pcts = [i / k for i in range(1, k)]
        # one percentile/approx_percentile aggregate per column (the
        # list form shares a single sketch across all k-1 cut points)
        row = reference.agg(*[
            F.expr(self._percentile_sql(c, pcts)).alias(f"e_{ci}")
            for ci, c in enumerate(cols)]).collect()[0]
        out: dict[str, list[float]] = {}
        for ci, c in enumerate(cols):
            edges = list(row[f"e_{ci}"]) if row[f"e_{ci}"] is not None \
                else [None]
            if edges and edges[0] is None:
                raise ValueError(f"no non-null values in reference.{c}")
            # constant stretches produce duplicate edges — keep them;
            # duplicate edges simply leave their buckets empty on both
            # sides identically (floored proportions, zero psi term)
            out[c] = [float(e) for e in edges]
        return out

    def fit(self, reference: DataFrame) -> "DriftMonitorModel":
        """Materialize the reference PROFILE — quantile edges + the
        reference histogram, O(columns · buckets) numbers total — so
        daily/streaming monitoring runs scan ONLY the current
        snapshot. The profile persists (``save``/``load``): at 100 TB
        re-scanning a fixed reference on every report is the dominant
        cost, and the profile is also the auditable artifact of WHAT
        the monitor compares against."""
        cols = self.getOrDefault(self.inputCols)
        if not cols:
            raise ValueError("no columns set — call setInputCols(...)")
        k = self.getOrDefault(self.numBuckets)
        edges = self._all_edges(reference, cols)
        ref = {c: [0] * k for c in cols}
        for r in _numeric_hist(reference, edges, "ref").collect():
            ref[r["column"]][r["bucket"]] = r["n_ref"]
        return DriftMonitorModel(cols=cols, edges=edges, ref_hist=ref)

    def report(self, reference: DataFrame, current: DataFrame
               ) -> DataFrame:
        return self.fit(reference).report(current)

    def summary(self, reference: DataFrame, current: DataFrame
                ) -> DataFrame:
        return _psi_summary(self.report(reference, current))

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise TypeError("DriftMonitor is binary — call "
                        "report(reference, current)")


class DriftMonitorModel(AlgoOperator):
    """Fitted numeric-drift reference profile (see
    :meth:`DriftMonitor.fit`). ``report(current)``/``summary(current)``
    histogram the current snapshot against the STORED edges and join
    the STORED reference counts — one aggregation over current, zero
    reference scans. Output is identical to
    ``DriftMonitor.report(reference, current)`` (pinned by test)."""

    _state = ("_cols", "_edges", "_ref")

    def __init__(self, cols=None, edges=None, ref_hist=None):
        super().__init__()
        self._cols = cols or []
        self._edges = edges or {}
        self._ref = ref_hist or {}      # {column: [n_ref per bucket]}

    def report(self, current: DataFrame) -> DataFrame:
        if not self._cols:
            raise ValueError("empty profile — fit() or load() first")
        spark = current.sparkSession
        grid = spark.createDataFrame(
            [(c, b, n) for c in self._cols
             for b, n in enumerate(self._ref[c])],
            "column string, bucket int, n_ref long")
        cur = _numeric_hist(current, self._edges, "cur")
        out = (grid.join(cur, ["column", "bucket"], "left")
               .select("column", "bucket", "n_ref",
                       F.coalesce("n_cur", F.lit(0)).alias("n_cur")))
        return _psi_terms(out)

    def _profile(self) -> list:
        """(column, bucket expression, [(bucket, n_ref)]) per column:
        what ``stream_drift_monitor`` folds per event-time window."""
        return [(c, _bucket_expr(c, self._edges[c]),
                 list(enumerate(self._ref[c])))
                for c in self._cols]

    def summary(self, current: DataFrame) -> DataFrame:
        return _psi_summary(self.report(current))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.report(df)


def _category_value(c: str):
    """Column ``c`` as a category string, NULL as ``__null__``. A DATA
    value literally equal to either sentinel would silently merge with
    the sentinel's population (e.g. nulls pre-stringified by an
    upstream ETL stage), so it fails LOUDLY at execution time via
    ``raise_error`` instead of producing merged counts."""
    null_cat = CategoricalDriftMonitor.NULL_CAT
    v = F.col(c).cast("string")
    return F.coalesce(
        F.when(v.isin(null_cat, CategoricalDriftMonitor.OTHER_CAT),
               F.raise_error(F.concat(
                   F.lit("CategoricalDriftMonitor: column '"
                         f"{c}' contains the literal sentinel value "), v,
                   F.lit(" — rename it upstream; sentinel categories "
                         "must not occur as data"))))
         .otherwise(v),
        F.lit(null_cat))


def _cells(df: DataFrame, values: dict) -> DataFrame:
    """One (column, value) cell per monitored column per row, from
    ``{column: value expression}``."""
    cells = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"), v.alias("value"))
        for c, v in values.items()]))
    return (df.select(cells.alias("__cell"))
              .select(F.col("__cell.column").alias("column"),
                      F.col("__cell.value").alias("value")))


class CategoricalDriftMonitor(AlgoOperator):
    """PSI drift for categorical columns — the complement of
    :class:`DriftMonitor`'s quantile buckets: category frequencies
    compared directly (event types, languages, source domains,
    enum-ish string columns).

    ``report(reference, current)`` returns one row per (column,
    category)::

        column, category   category '__other__' for values outside
                           the reference's top ``maxCategories``;
                           NULL values are '__null__' when
                           '__null__' is in that vocabulary, else
                           '__other__' too
        n_ref, n_cur       counts
        p_ref, p_cur       floored proportions
        psi_term           (p_cur − p_ref) · ln(p_cur / p_ref)

    ``summary(reference, current)`` totals PSI per column with the
    same stable/moderate/action thresholds. The category vocabulary
    comes from the REFERENCE side (top ``maxCategories`` by count,
    ties lexicographic) — a brand-new category in the current
    snapshot lands in ``__other__``, which is exactly the signal a
    schema-drift alert wants.

    100 TB design: ONE exploded count pass over each table — the
    reference is scanned once (its mapped side derives from the
    already-aggregated counts, O(distinct categories) extra work) —
    an O(cols · maxCategories) vocabulary from a keyed window top-k
    (no global sort), O(cols · categories) output. A data value
    literally equal to a sentinel raises at execution time rather
    than silently merging populations.
    """

    inputCols = Param(Params._dummy(), "inputCols",
                      "categorical columns to monitor",
                      TypeConverters.toListString)
    maxCategories = Param(Params._dummy(), "maxCategories",
                          "reference vocabulary cap per column",
                          TypeConverters.toInt)

    NULL_CAT = "__null__"
    OTHER_CAT = "__other__"

    _defaults = dict(inputCols=[], maxCategories=100)

    def setInputCols(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(inputCols=list(v))

    def setMaxCategories(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"maxCategories must be >= 1, got {v}")
        return self._set(maxCategories=v)

    def fit(self, reference: DataFrame) -> "CategoricalDriftModel":
        """Materialize the reference PROFILE — the per-column
        vocabulary plus reference category counts (__other__/__null__
        included), O(columns · maxCategories) values — so recurring
        reports scan ONLY the current snapshot (the numeric
        :meth:`DriftMonitor.fit` rationale)."""
        from pyspark.sql import Window

        cols = self.getOrDefault(self.inputCols)
        if not cols:
            raise ValueError("no columns set — call setInputCols(...)")
        mx = self.getOrDefault(self.maxCategories)

        ref_counts = (_cells(reference, {c: _category_value(c)
                                         for c in cols})
                      .groupBy("column", "value")
                      .agg(F.count(F.lit(1)).alias("n")))
        # reference vocabulary: top-N per column, keyed window top-k
        # (WindowGroupLimit — no global sort)
        w = Window.partitionBy("column").orderBy(
            F.desc("n"), F.asc("value"))
        vocab = (ref_counts.withColumn("__r", F.row_number().over(w))
                 .filter(F.col("__r") <= mx)
                 .select("column", "value"))
        in_vocab = vocab.withColumn("__in", F.lit(True))
        category = (F.when(F.col("__in").isNotNull(), F.col("value"))
                     .otherwise(F.lit(self.OTHER_CAT))
                     .alias("category"))
        # reference side derives from the ALREADY-AGGREGATED
        # ref_counts (O(distinct categories) rows) — re-exploding the
        # reference table would be a second full scan + shuffle
        ref_side = (ref_counts.join(in_vocab, ["column", "value"],
                                    "left")
                    .groupBy("column", category)
                    .agg(F.sum("n").alias("n_ref")))
        return CategoricalDriftModel(
            cols=cols,
            vocab=[(r["column"], r["value"]) for r in vocab.collect()],
            ref_counts=[(r["column"], r["category"], r["n_ref"])
                        for r in ref_side.collect()])

    def report(self, reference: DataFrame, current: DataFrame
               ) -> DataFrame:
        return self.fit(reference).report(current)

    def summary(self, reference: DataFrame, current: DataFrame
                ) -> DataFrame:
        return _psi_summary(self.report(reference, current))

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise TypeError("CategoricalDriftMonitor is binary — call "
                        "report(reference, current)")


class CategoricalDriftModel(AlgoOperator):
    """Fitted categorical-drift reference profile (see
    :meth:`CategoricalDriftMonitor.fit`). ``report(current)`` maps the
    current snapshot through the STORED vocabulary (a literal
    ``isin`` per column, :meth:`_category`) and joins the STORED
    reference counts — one aggregation over current, zero reference
    scans; identical output to the two-frame path (pinned by test).
    ``stream_categorical_drift_monitor`` maps every window by the same
    rule."""

    _state = ("_cols", "_vocab", "_ref")

    def __init__(self, cols=None, vocab=None, ref_counts=None):
        super().__init__()
        self._cols = cols or []
        self._vocab = vocab or []          # [(column, value)]
        self._ref = ref_counts or []       # [(column, category, n_ref)]

    def _category(self, c: str):
        """The fitted category of column ``c``: its value when the value
        is in the vocabulary, else ``__other__`` — so NULL reads
        ``__null__`` only when ``__null__`` made the vocabulary."""
        v = _category_value(c)
        return (F.when(v.isin(*[x for cc, x in self._vocab if cc == c]), v)
                .otherwise(F.lit(CategoricalDriftMonitor.OTHER_CAT)))

    def _profile(self) -> list:
        """(column, category expression, [(category, n_ref)]) per
        column: what ``stream_categorical_drift_monitor`` folds per
        event-time window."""
        ref = {(c, cat): n for c, cat, n in self._ref}
        return [(c, self._category(c),
                 [(cat, ref.get((c, cat), 0))
                  for cat in [x for cc, x in self._vocab if cc == c]
                  + [CategoricalDriftMonitor.OTHER_CAT]])
                for c in self._cols]

    def report(self, current: DataFrame) -> DataFrame:
        if not self._cols:
            raise ValueError("empty profile — fit() or load() first")
        spark = current.sparkSession
        cur_side = (_cells(current, {c: self._category(c)
                                     for c in self._cols})
                    .groupBy("column", F.col("value").alias("category"))
                    .agg(F.count(F.lit(1)).alias("n_cur")))
        ref_side = spark.createDataFrame(
            self._ref, "column string, category string, n_ref long")
        out = (ref_side
               .join(cur_side, ["column", "category"], "full_outer")
               .select("column", "category",
                       F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                       F.coalesce("n_cur", F.lit(0)).alias("n_cur")))
        return _psi_terms(out)

    def summary(self, current: DataFrame) -> DataFrame:
        return _psi_summary(self.report(current))

    def transform(self, df: DataFrame) -> DataFrame:
        return self.report(df)


class EmbeddingDriftMonitor(AlgoOperator):
    """Embedding-space drift between two corpus snapshots — the vector
    companion of the scalar PSI and categorical monitors: a retrieval /
    dedup / semantic-filter stack built on embeddings degrades when the
    EMBEDDING DISTRIBUTION moves (new domains, a new encoder version,
    preprocessing drift), which per-scalar-column monitors never see.

    ``compare(reference, current)`` → one row per dimension::

        pos          0-based dimension
        mean_ref / mean_cur / std_ref / std_cur
        smd          standardized mean difference
                     |Δmean| / sqrt((var_ref + var_cur)/2)
                     (Cohen's d with pooled spread; 0 when both
                     sides are constant), the per-dim drift score

    plus one summary row ``pos = -1`` whose ``smd`` is the COSINE
    between the two mean vectors (1 = aligned centroids) and whose
    mean/std columns carry the row counts.

    100 TB design: ``posexplode`` + one ``groupBy(pos)`` moment
    aggregate per side — O(rows · dims) map work into O(dims) rows, a
    partial-merged aggregation with no driver state beyond the final
    O(dims) frame. No sampling, no iteration.
    """

    embeddingCol = Param(Params._dummy(), "embeddingCol",
                         "array<float/double> embedding column",
                         TypeConverters.toString)

    _defaults = dict(embeddingCol="embedding")

    def _moments(self, df: DataFrame, tag: str) -> DataFrame:
        arr = F.transform(F.col(self.getOrDefault(self.embeddingCol)),
                          lambda x: x.cast("double"))
        ex = df.select(F.posexplode(arr).alias("pos", "__v"))
        return ex.groupBy("pos").agg(
            F.avg("__v").alias(f"mean_{tag}"),
            F.coalesce(F.stddev_samp("__v"), F.lit(0.0))
            .alias(f"std_{tag}"),
            F.count(F.lit(1)).alias(f"__n_{tag}"))

    def compare(self, reference: DataFrame,
                current: DataFrame) -> DataFrame:
        r = self._moments(reference, "ref")
        c = self._moments(current, "cur")
        j = r.join(c, "pos")
        pooled = F.sqrt((F.col("std_ref") * F.col("std_ref")
                         + F.col("std_cur") * F.col("std_cur")) / 2.0)
        smd = (F.when(pooled > 0,
                      F.abs(F.col("mean_cur") - F.col("mean_ref"))
                      / pooled)
               .otherwise(F.lit(0.0)))
        per_dim = j.select(
            "pos",
            (F.floor((F.col("mean_ref")) * 1e6 + 0.5) / 1e6).alias("mean_ref"),
            (F.floor((F.col("mean_cur")) * 1e6 + 0.5) / 1e6).alias("mean_cur"),
            (F.floor((F.col("std_ref")) * 1e6 + 0.5) / 1e6).alias("std_ref"),
            (F.floor((F.col("std_cur")) * 1e6 + 0.5) / 1e6).alias("std_cur"),
            (F.floor((smd) * 1e6 + 0.5) / 1e6).alias("smd"),
            "__n_ref", "__n_cur")
        dot = F.sum(F.col("mean_ref") * F.col("mean_cur"))
        nr = F.sqrt(F.sum(F.col("mean_ref") * F.col("mean_ref")))
        nc = F.sqrt(F.sum(F.col("mean_cur") * F.col("mean_cur")))
        summary = j.agg(
            F.lit(-1).alias("pos"),
            F.max("__n_ref").cast("double").alias("mean_ref"),
            F.max("__n_cur").cast("double").alias("mean_cur"),
            F.lit(0.0).alias("std_ref"),
            F.lit(0.0).alias("std_cur"),
            (F.floor((F.when((nr > 0) & (nc > 0), dot / (nr * nc))
                    .otherwise(F.lit(0.0))) * 1e6 + 0.5) / 1e6).alias("smd"))
        return (per_dim.drop("__n_ref", "__n_cur")
                .unionByName(summary))
