"""AHP / entropy-weight scoring, Spark-first.

Reimplements the semantics of
``/root/reference/src/main/java/cn/swust/algorithms/ahp/AHP.java`` and
``OnlineAHP.java``:

* driver side: judgment-matrix weight vector = mean of the
  geometric-average and arithmetic-average normalized row means
  (``AHP.java:487-536`` — note both accumulators start at 1, a reference
  quirk we preserve for golden parity), consistency ratio
  ``CR = CI / RI[m] < 0.1`` (``AHP.java:462-484``, with the reference's
  off-by-one RI indexing preserved);
* dataflow: per-column min/max → min-max normalize by indicator type
  (1=positive, 0=negative) → column sums → P_ij → entropy
  ``e_j = Σ p·ln p`` → redundancy ``d_j = 1 + k·e_j`` → entropy weights
  ``w_j = d_j / Σ d`` → per-row ``score = Σ norm_ij · w_j · ahp_j``.

Spark plan: exactly **two** aggregation passes over the data
(min/max+count, then Σnorm + Σnorm·ln norm — using the identity
``Σ p ln p = (Σ n ln n)/S − ln S`` so P_ij never needs its own pass), with
all small stats folded back in as literals; the score is one codegen
projection. No UDFs, no joins, no shuffles beyond the implicit partial →
final aggregation merge (which replaces the reference's manual
``countWindowAll(parallelism).reduce``, ``AHP.java:79-99,143-154``).

``OnlineAHP`` applies the same per-window math over event-time tumbling
windows, from one SQL-text kernel shared with the stream
(:func:`ahp_norm_sql`, :func:`ahp_plogp_sql`, :func:`window_score_sql`).
Instead of the reference's parallelism-1 ``ProcessAllWindowFunction``
(``OnlineAHP.java:67-71``), the batch transform computes the per-window
stats with two ``groupBy(window).agg`` passes (partial → final merge, so
no task ever buffers a whole window's rows — analytic window functions
would) and broadcast-joins the tiny stats tables back onto the rows; the
per-row score is one codegen projection. ``streaming.stream_online_ahp``
folds the same kernel over each closed window's collected rows. Note
the reference quirk ``k = 1/ln(#cols)`` in the windowed variant
(``OnlineAHP.java:151``) vs ``k = 1/ln(#rows)`` in batch AHP
(``AHP.java:158``) — both preserved.
"""

from __future__ import annotations

import math

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import (
    AlgoOperator,
    HasInputCols,
    HasOutputCol,
    HasTimeCol,
    HasWindows,
    sql_double,
    sql_ident,
    sql_sum,
)

# average random-consistency index (``AHP.java:48``)
RI = [0, 0, 0.58, 0.89, 1.12, 1.26, 1.36, 1.41, 1.46, 1.49, 1.52, 1.54,
      1.56, 1.58, 1.59]


class AHPParams(HasInputCols, HasOutputCol):
    """``AHPParams.java:9-36``."""

    judgmentMatrix = Param(
        Params._dummy(), "judgmentMatrix",
        "pairwise judgment matrix (list of rows of floats)",
        typeConverter=TypeConverters.identity)
    indicatorType = Param(
        Params._dummy(), "indicatorType",
        "per-column indicator type: 1=positive, 0=negative",
        typeConverter=TypeConverters.toListInt)

    _defaults = dict(judgmentMatrix=None)

    def setJudgmentMatrix(self, value):
        return self._set(judgmentMatrix=[[float(x) for x in row] for row in value])

    def setIndicatorType(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(indicatorType=list(value))

    def _prepare(self):
        """Driver-side validation + judgment-matrix weights (``AHP.java:56-64``)."""
        cols = self.getInputCols()
        matrix = self.getJudgmentMatrix()
        _check_matrix(matrix, cols)
        ahp_w = ahp_weight_vector(matrix)
        cr = consistency_ratio(ahp_w, matrix)
        if not cr < 0.1:
            raise ValueError(
                "CR is too large, please check your judgment matrix")
        _check_indicator_type(self.getIndicatorType(), cols)
        return cols, ahp_w


def ahp_weight_vector(matrix: list[list[float]]) -> list[float]:
    """Judgment-matrix weights (``AHP.java:487-536``).

    Mean of the geometric-average and arithmetic-average methods. Both
    reference implementations initialize their row accumulator to 1 (the
    arithmetic row sum is ``1 + Σ a_ij``) — preserved verbatim because the
    golden outputs depend on it.
    """
    m = len(matrix[0])
    geo = [math.pow(math.prod(matrix[i][j] for j in range(m)), 1.0 / m)
           for i in range(m)]
    geo_total = sum(geo)
    geo = [g / geo_total for g in geo]
    arith = [(1 + sum(matrix[i][j] for j in range(m))) / m for i in range(m)]
    arith_total = sum(arith)
    arith = [a / arith_total for a in arith]
    return [(geo[i] + arith[i]) / 2 for i in range(m)]


def _ieee_div(a: float, b: float) -> float:
    """Java-style double division: x/0 → ±inf, 0/0 → NaN (no exception)."""
    if b == 0.0:
        if a == 0.0 or math.isnan(a):
            return float("nan")
        return math.copysign(float("inf"), a)
    return a / b


def consistency_ratio(weights: list[float], matrix: list[list[float]]) -> float:
    """``AHP.checkConsistency`` (``AHP.java:462-484``).

    Keeps the reference's ``RI[m]`` indexing (RI of an (m+1)-sized matrix)
    so the same matrices pass/fail the CR < 0.1 gate; division follows
    Java double semantics (inf/NaN instead of raising) so degenerate
    matrix sizes (m <= 2) are rejected by the CR gate, not a crash.
    """
    m = len(weights)
    total = 0.0
    for i in range(m):
        row = sum(matrix[i][j] * weights[j] for j in range(m))
        total += _ieee_div(row, weights[i])
    max_eigen = total / m
    ci = _ieee_div(max_eigen - m, m - 1)
    return _ieee_div(ci, RI[m])


def _check_matrix(matrix, input_cols) -> None:
    """``AHP.checkJugleMartix`` (``AHP.java:538-546``).

    The reference admits up to 15 columns but its ``RI[m]`` indexing then
    reads past the 15-entry table (an ArrayIndexOutOfBounds it never
    hits in tests); here the gate honestly rejects what the indexing
    cannot serve."""
    if len(input_cols) >= len(RI):
        raise ValueError(
            "the number of input columns must be <= 14 (RI table size)")
    if matrix is None:
        raise ValueError("the judgment matrix cannot be empty")
    if len(matrix) != len(input_cols) or any(
            len(row) != len(input_cols) for row in matrix):
        raise ValueError(
            "the judgment matrix must be square and match the input "
            "columns (rows AND columns)")


def _check_indicator_type(indicator, input_cols) -> None:
    """``AHP.checkIndicatorType`` (``AHP.java:450-460``)."""
    if indicator is None:
        raise ValueError("indicatorType must be set")
    if len(indicator) != len(input_cols):
        raise ValueError("indicatorType length must equal inputCols length")
    for t in indicator:
        if t not in (0, 1):
            raise ValueError("indicatorType must be 0 or 1")


def ahp_norm_sql(x: str, mn: str, mx: str, positive: bool) -> str:
    """Min-max normalisation of the SQL value ``x`` by indicator type
    (1=positive, 0=negative; ``AHP.java:370-379``). ``mx == mn`` divides
    by zero, so a constant column normalises to NULL."""
    if positive:
        return f"(({x} - {mn}) / ({mx} - {mn}))"
    return f"(({mx} - {x}) / ({mx} - {mn}))"


def ahp_plogp_sql(nm: str) -> str:
    """The entropy term ``n·ln n`` of a normalised value, 0 where n is 0
    or NULL (the guard of ``AHP.java:295-307``). Summed per column it is
    T; with S = Σ n, ``Σ p·ln p = T/S − ln S`` for p = n/S, so P never
    needs its own pass."""
    return f"CASE WHEN ({nm} != 0) THEN ({nm} * ln({nm})) ELSE 0.0D END"


def window_score_sql(nm: list[str], s: list[str], t: list[str],
                     ahp_w: list[float]) -> str:
    """A row's window-local score from its normalised values ``nm`` and
    its window's column sums S (``s``) and T (``t``), all SQL text
    (``OnlineAHP.java:138-172``): entropy ``e_j = T/S − ln S``,
    redundancy ``d_j = 1 + k·e_j`` with the reference's
    ``k = 1/ln(#cols)``, weights ``d_j / Σ d`` and
    ``score = Σ n_j · w_j · ahp_j``. An all-NULL column (min == max)
    leaves S NULL: e_j falls back to the reference's 0 and the score is
    NULL."""
    k = sql_double(1.0 / math.log(len(nm)))
    d = [f"((coalesce((({t[j]} / {s[j]}) - ln({s[j]})), 0.0D) * {k}) + 1)"
         for j in range(len(nm))]
    total = d[0]
    for dj in d[1:]:
        total = f"({total} + {dj})"
    return sql_sum(f"(({nm[j]} * ({d[j]} / {total})) * {sql_double(w)})"
                   for j, w in enumerate(ahp_w))


class AHP(AlgoOperator, AHPParams):
    """Batch entropy-weight + AHP scorer (``AHP.java:41-562``)."""

    def transform(self, df: DataFrame) -> DataFrame:
        cols, ahp_w = self._prepare()
        types = self.getIndicatorType()
        # every expression is SQL text, one F.expr each (base.sql_double)
        x = [f"CAST({sql_ident(c)} AS DOUBLE)" for c in cols]
        n = len(cols)

        # pass 1: per-column min/max (``AHP.java:388-447``)
        stats = df.agg(
            *[F.expr(f"min({x[j]}) AS mn_{j}") for j in range(n)],
            *[F.expr(f"max({x[j]}) AS mx_{j}") for j in range(n)],
        ).collect()[0].asDict()

        # min-max normalization by indicator type (``AHP.java:370-379``)
        norm = [ahp_norm_sql(x[j], sql_double(stats[f"mn_{j}"]),
                             sql_double(stats[f"mx_{j}"]), types[j] == 1)
                for j in range(n)]

        # pass 2: column sums S_j, T_j = Σ n·ln n, row count
        agg2 = df.agg(
            *[F.expr(f"sum({norm[j]}) AS s_{j}") for j in range(n)],
            *[F.expr(f"sum({ahp_plogp_sql(norm[j])}) AS t_{j}")
              for j in range(n)],
            F.count(F.lit(1)).alias("cnt"),
        ).collect()[0].asDict()

        cnt = agg2["cnt"]
        k = 1.0 / math.log(cnt) if cnt > 1 else float("inf")
        d = []
        for j in range(n):
            s, t = agg2[f"s_{j}"], agg2[f"t_{j}"]
            e = t / s - math.log(s) if s else float("nan")
            d.append(1 + k * e)  # redundancy (``AHP.java:157-164``)
        total = sum(d)
        entropy_w = [dj / total for dj in d]  # ``AHP.java:167-177``

        # score = Σ norm_ij · entropy_w_j · ahp_w_j (``AHP.java:181-198``)
        score = sql_sum(f"({norm[j]} * {sql_double(entropy_w[j] * ahp_w[j])})"
                        for j in range(n))
        return df.withColumn(self.getOutputCol(), F.expr(score))


class OnlineAHP(AlgoOperator, AHPParams, HasWindows, HasTimeCol):
    """Windowed AHP scoring (``OnlineAHP.java:34-299``).

    Batch event-time semantics: every tumbling window is scored
    independently with window-local min/max/entropy weights. The plan is
    two ``groupBy(window)`` aggregations (HashAggregate with map-side
    partials — no per-window row buffering) whose tiny per-window stats
    are broadcast-joined back onto the rows, so huge windows and
    low-cardinality window keys cannot pin a single task (vs the
    reference's parallelism-1 ``ProcessAllWindowFunction`` and vs an
    analytic-window-function plan, both of which buffer whole windows).
    """

    def transform(self, df: DataFrame) -> DataFrame:
        cols, ahp_w = self._prepare()
        types = self.getIndicatorType()
        n = len(cols)
        uid = self.uid[-6:]
        win_col = f"__win_{uid}"

        windows = self.getWindows()
        if windows in (None, "global"):
            part = F.lit(1)
        else:
            part = F.window(F.col(self.getTimeCol()), windows)

        x = [f"CAST({sql_ident(c)} AS DOUBLE)" for c in cols]
        df1 = df.withColumn(win_col, part)

        def helper(tag, j):
            return f"__{tag}_{j}_{uid}"

        # pass 1: per-window min/max (partial+final agg)
        stats1 = df1.groupBy(win_col).agg(
            *[F.expr(f"max({x[j]}) AS {helper('mx', j)}") for j in range(n)],
            *[F.expr(f"min({x[j]}) AS {helper('mn', j)}") for j in range(n)],
        )
        norm = [F.expr(
            ahp_norm_sql(x[j], helper("mn", j), helper("mx", j),
                         types[j] == 1) + f" AS {helper('nm', j)}")
            for j in range(n)]
        normed = df1.join(F.broadcast(stats1), win_col).select("*", *norm)

        # pass 2: per-window column sums S_j and T_j
        nm = [helper("nm", j) for j in range(n)]
        stats2 = normed.groupBy(win_col).agg(
            *[F.expr(f"sum({nm[j]}) AS {helper('s', j)}") for j in range(n)],
            *[F.expr(f"sum({ahp_plogp_sql(nm[j])}) AS {helper('t', j)}")
              for j in range(n)],
        )

        out = normed.join(F.broadcast(stats2), win_col).withColumn(
            self.getOutputCol(), F.expr(window_score_sql(
                nm, [helper("s", j) for j in range(n)],
                [helper("t", j) for j in range(n)], ahp_w)))
        # drop exactly the generated helper names — a substring match on
        # the uid could silently swallow a user column
        return out.drop(win_col, *[
            helper(tag, j)
            for tag in ("mx", "mn", "nm", "s", "t") for j in range(n)])
