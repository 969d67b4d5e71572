"""Bit-identical driver-side replacement for exact ``F.percentile`` fits.

Several fitted operators (RankGauss, Lorenz deciles, uplift/qini score
bins, padding-waste buckets, quantile matching) end their fit with::

    df.agg(F.percentile(x, F.array(<k-1 probs>))).first()

``Percentile`` is a ``TypedImperativeAggregate``: every partial buffers
an OpenHashMap of (value, count), the partials serialize to the single
final reducer, and the whole evaluation is interpreted (no codegen).
At sf0.1 that one aggregate measures 4-5 s on a 600 k-row column —
~80 % of the whole rank_gauss_lineitem query (guide §1.1: find the one
thing; §4.2: hand bulk work to vectorized native code).

:func:`exact_percentiles` computes the same edges with ONE Arrow merge
task fed by a PARALLEL scan: the filtered column (only that column —
guide §4.1) is projected/filtered by ordinary parallel scan tasks,
``repartition(1)`` moves the narrow doubles through one exchange to a
single Python task, which ``np.sort``-s them and replays Spark's own
interpolation arithmetic bit-for-bit:

* position ``pos = p * (n - 1)`` (double),
* ``lower = floor(pos)``, ``higher = ceil(pos)``,
* equal keys (including integer ``pos``) short-circuit to the exact
  value with NO interpolation — ``Percentile.getPercentile`` returns
  ``toDoubleValue(lowerKey)`` when ``lower == higher`` or the two keys
  compare equal,
* otherwise ``(higher - pos) * s[lower] + (pos - lower) * s[higher]``
  — Spark's operand order, which differs from ``np.quantile``'s
  ``_lerp`` by 1 ulp on half-boundary fractions (np switches to
  ``b - (b-a)*(1-t)`` for t >= 0.5).

Verified bit-identical against ``F.percentile`` across 7 columns x 6
grid sizes at sf0.1 (see OPTIMIZATION_r12.md).

Small inputs skip the Arrow path entirely: the Python round trip costs
a fixed ~0.25 s, which exceeds the interpreted aggregate it replaces on
tiny columns (measured r12: qini 0.99→1.10 s, lorenz 0.61→0.93 s,
padding_waste 0.54→0.77 s). The routing reads the optimizer's
driver-side size ESTIMATE for the projected column (no extra job);
either branch returns the same bits — ``F.percentile`` IS the reference
implementation the Arrow path was verified against — so the estimate
only ever steers performance, never results.

Scale contract: identical to the exact aggregate it replaces — exact
percentiles fundamentally gather the column to ONE node either way
(Spark's implementation ships every partial's value map to a single
reducer; this ships the raw column once through a shuffle, with no
per-value hashmap or java serialization round trip), and the scan that
feeds the gather stays parallel. Callers that need bounded memory at
100 TB keep their ``approx_percentile`` path (``exactEdges=False`` /
``relativeError > 0``), which is mergeable and unaffected here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

# Below this optimizer size estimate for the projected column the JVM
# aggregate wins (no Python task round trip). The estimate is
# compressed-parquet-scaled (~2.5-4 bytes per double at our SFs), so
# 1 MiB ≈ a few hundred thousand rows: the measured r12 numbers put the
# crossover between the 100 k-row events column (JVM agg faster,
# lorenz 0.61 s vs Arrow 0.82 s) and the 600 k-row lineitem column
# (Arrow 0.75 s vs JVM agg 3.56 s) — their estimates, 409 KB vs
# 1.49 MB, sit either side of 1 MiB with ≥1.4x margin. A plain
# constant: either route returns the same bits, so it only ever steers
# speed.
_SMALL_INPUT_BYTES = 1024 * 1024


def _estimated_bytes(df: DataFrame) -> int:
    """Driver-side optimizer size estimate (no job). Unknown → huge,
    so estimation failure routes to the scalable path."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return 1 << 62


def exact_percentiles(df: DataFrame, col: Column | str,
                      probs: list[float]) -> list[float] | None:
    """Exact percentiles of ``col`` over ``df`` at ``probs``.

    Returns driver-side floats, bit-identical to
    ``df.agg(F.percentile(col, F.array(*probs))).first()`` on
    NaN-free data (nulls are ignored, as ``percentile`` does).
    Returns ``None`` when no non-null values exist (where the
    aggregate yields SQL NULL).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    ps = [float(p) for p in probs]

    narrow = (df.select(c.cast("double").alias("__x"))
              .filter(F.col("__x").isNotNull()))

    if _estimated_bytes(narrow) <= _SMALL_INPUT_BYTES:
        row = narrow.agg(F.percentile(
            "__x", F.array(*[F.lit(p) for p in ps])).alias("__es")).first()
        es = row["__es"]
        return None if es is None else [float(v) for v in es]

    def qt(batches):
        chunks = [b["__x"].to_numpy() for b in batches if len(b)]
        if not chunks:
            return
        s = np.sort(np.concatenate(chunks))
        n = len(s)
        pos = np.asarray(ps, dtype=np.float64) * (n - 1)
        lo = np.floor(pos)
        hi = np.ceil(pos)
        sl = s[lo.astype(np.int64)]
        sh = s[hi.astype(np.int64)]
        vals = np.where(sl == sh, sl, (hi - pos) * sl + (pos - lo) * sh)
        yield pd.DataFrame({"es": [vals.tolist()]})

    # repartition(1), NOT coalesce(1): coalesce is a narrow dependency
    # that would collapse the upstream select+filter into the same
    # single task, serializing the whole scan (r12 verdict item 2).
    # The exchange keeps the scan stage parallel; only the merge task
    # downstream is single. collect(), not first(): first()/take(1)
    # runs the incremental take path (a 1-partition probe job, then a
    # widening job) — two jobs for a frame that is 1 row by
    # construction.
    rows = (narrow
            .repartition(1)
            .mapInPandas(qt, "es array<double>")
            .collect())
    return None if not rows else list(rows[0]["es"])
