"""Degenerate-input and property-based tests (SURVEY §5 edges: constant
columns, empty inputs, k > n, param validation) plus hypothesis
properties checked against plain-numpy replicas of the operator math."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_ml__spark.functions.dedup import (
    ExactDeduplicator,
    MinHashDeduplicator,
    SimHashDeduplicator,
)
from flink_ml__spark.operators import FCM, AHP, Topsis
from pyspark.sql.functions import col as F_col

MATRIX2 = [[1.0, 2.0], [0.5, 1.0]]


def test_ahp_constant_column_propagates_null(spark):
    # min==max → 0/0; the reference does not guard it (``AHP.java:374``)
    # and non-ANSI Spark yields NULL — not a crash
    df = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)],
                               ["a", "b"])
    out = (AHP().setInputCols(["a", "b"]).setJudgmentMatrix(MATRIX2)
           .setIndicatorType([1, 1]).setOutputCol("s").transform(df))
    assert [r["s"] for r in out.collect()] == [None, None, None]


def test_ahp_bad_cr_rejected(spark):
    df = spark.createDataFrame([(1.0, 2.0, 3.0)], ["a", "b", "c"])
    # wildly inconsistent judgments: a>>b, b>>c, but c>>a
    bad = [[1.0, 9.0, 1 / 9], [1 / 9, 1.0, 9.0], [9.0, 1 / 9, 1.0]]
    with pytest.raises(ValueError, match="CR is too large"):
        (AHP().setInputCols(["a", "b", "c"]).setJudgmentMatrix(bad)
         .setIndicatorType([1, 1, 1]).transform(df))


def test_empty_input_dedup(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ExactDeduplicator().transform(empty).count() == 0
    assert MinHashDeduplicator().transform(empty).count() == 0
    assert SimHashDeduplicator().transform(empty).count() == 0


def test_fcm_k_exceeds_points(spark):
    one = spark.createDataFrame([([1.0, 2.0],)], ["features"])
    with pytest.raises(ValueError, match="need at least k=3"):
        FCM().setK(3).fit(one)


def test_topsis_param_validation(spark):
    df = spark.createDataFrame([([1.0, 2.0],)], ["features"])
    with pytest.raises(Exception, match="equal length"):
        Topsis().setCriteriaTypes([1, 2]).setWeights([1.0]).transform(df)


# ---------------------------------------------------------------------------
# hypothesis properties (bounded examples: each draws a Spark job)
# ---------------------------------------------------------------------------

H = settings(max_examples=5, deadline=None,
             suppress_health_check=list(HealthCheck))

finite = st.floats(min_value=-1e6, max_value=1e6,
                   allow_nan=False, allow_infinity=False)


@H
@given(rows=st.lists(st.tuples(finite, finite), min_size=3, max_size=8))
def test_topsis_scores_bounded_and_match_numpy(spark, rows):
    # degenerate frames (constant columns) legitimately yield NaN —
    # restrict to frames with spread in both criteria
    xs = np.array(rows)
    if (xs.max(0) == xs.min(0)).any() or (xs == 0).all():
        return
    df = spark.createDataFrame([([float(a), float(b)],) for a, b in rows],
                               ["features"])
    out = (Topsis().setCriteriaTypes([1, 2]).setWeights([0.5, 0.5])
           .setPredictionCol("score").transform(df))
    got = [r["score"] for r in out.collect()]

    # numpy replica (``Topsis.java:261-385``): positive-ize, normalize,
    # distance to ideal best/worst
    pos = np.stack([xs[:, 0], xs[:, 1].max() - xs[:, 1]], axis=1)
    denom = np.sqrt((pos ** 2).sum(0))
    denom[denom == 0] = np.nan
    u = pos / denom * 0.5
    zmax, zmin = u.max(0), u.min(0)
    dpos = np.sqrt(((u - zmax) ** 2).sum(1))
    dneg = np.sqrt(((u - zmin) ** 2).sum(1))
    expect = dneg / (dpos + dneg)
    for g, e in zip(got, expect):
        if math.isnan(e):
            assert g is None or math.isnan(g)
        else:
            assert g == pytest.approx(e, abs=1e-9)
            assert -1e-9 <= g <= 1 + 1e-9


@H
@given(words=st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6),
    min_size=4, max_size=12))
def test_minhash_identical_docs_always_pair(spark, words):
    text = " ".join(words)
    df = spark.createDataFrame([(1, text), (2, text), (3, "zzz qqq xxx "
                                                          "yyy www vvv")],
                               ["doc_id", "text"])
    op = MinHashDeduplicator().setSeed(7).setThreshold(0.99)
    pairs = {(r["id_keep"], r["id_dup"])
             for r in op.duplicate_pairs(df).collect()}
    # identical text ⇒ identical signature ⇒ same band buckets ⇒ jaccard 1
    assert (1, 2) in pairs


@H
@given(vals=st.lists(finite, min_size=3, max_size=8))
def test_ahp_weights_sum_to_one(spark, vals):
    # entropy weights + judgment weights are convex; with two distinct
    # positive-type columns the scores stay finite when spread exists
    if len(set(vals)) < 2:
        return
    rows = [(float(v), float(i)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = (AHP().setInputCols(["a", "b"]).setJudgmentMatrix(MATRIX2)
           .setIndicatorType([1, 1]).setOutputCol("s").transform(df))
    scores = [r["s"] for r in out.collect()]
    assert all(s is None or math.isfinite(s) or math.isnan(s)
               for s in scores)


def test_ahp_fifteen_columns_rejected(spark):
    """15 columns passed the old gate but crashed on the 15-entry RI
    table; now rejected up front."""
    cols = [f"c{i}" for i in range(15)]
    df = spark.createDataFrame([tuple(float(i) for i in range(15))], cols)
    matrix = [[1.0] * 15 for _ in range(15)]
    with pytest.raises(ValueError, match="<= 14"):
        (AHP().setInputCols(cols).setJudgmentMatrix(matrix)
         .setIndicatorType([1] * 15).transform(df))


def test_online_topsis_apply_with_conflicting_columns(spark):
    """Inputs carrying their own timestamp/score columns must not hit
    ambiguous-reference errors in the model apply join."""
    from tests.test_online_topsis import _df, make_estimator

    base = _df(spark)
    model = make_estimator().fit(base).setPredictionCol("prediction")
    clashing = (base.withColumn("timestamp", base["id"])
                .withColumn("score", base["id"] / 2)
                .withColumn("minTimestamp", base["id"]))
    out = model.transform(clashing)
    assert out.count() == base.count()
    assert "prediction" in out.columns


def test_canopy_keeps_duplicate_members(spark):
    """Two identical points in one canopy stay two entries in the member
    list (the reference keeps both)."""
    from flink_ml__spark.operators.canopy import Canopy

    # seed 0 picks (1.0, 1.0) as the first center (pinned), so both
    # (1.2, 1.0) copies are plain members — neither is a center near-dup
    pts = [([1.0, 1.0],), ([1.2, 1.0],), ([1.2, 1.0],)]
    df = spark.createDataFrame(pts, ["features"])
    out = Canopy().setT1(3.0).setT2(0.1).setSeed(0).transform(df)
    rows = out.collect()
    assert tuple(rows[0]["centroids"]) == (1.0, 1.0)
    members = [tuple(p) for p in rows[0]["prediction"]]
    assert members.count((1.2, 1.0)) == 2


def test_interval_ms_compound():
    from flink_ml__spark.streaming.online import _interval_ms

    assert _interval_ms("3 days") == 3 * 86_400_000
    assert _interval_ms("90 minutes 30 seconds") == 90 * 60_000 + 30_000
    with pytest.raises(ValueError, match="cannot parse"):
        _interval_ms("three days")
    with pytest.raises(ValueError, match="unsupported"):
        _interval_ms("3 fortnights")


def test_null_text_never_pairs(spark):
    """NULL-text documents must not pair with empty/whitespace documents
    (the string-shingle oracle yields [NULL], which intersects nothing)."""
    from flink_ml__spark.functions.dedup import NgramJaccardDeduplicator

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string")
    mh = MinHashDeduplicator().setSeed(1).setThreshold(0.5)
    nj = NgramJaccardDeduplicator().setThreshold(0.5)
    for op in (mh, nj):
        pairs = op.duplicate_pairs(df).collect()
        assert not any(
            (r["id_keep"] in (1, 4)) or (r["id_dup"] in (1, 4))
            for r in pairs), (type(op).__name__, pairs)


def test_interval_ms_uppercase():
    from flink_ml__spark.streaming.online import _interval_ms

    assert _interval_ms("3 DAYS") == 3 * 86_400_000
    assert _interval_ms("90 Minutes") == 90 * 60_000


def test_prefix_filter_full_recall(spark):
    """The prefix filter must find EVERY pair with Jaccard >= t —
    compare against an unblocked all-pairs computation."""
    import itertools

    from flink_ml__spark.functions.dedup import NgramJaccardDeduplicator

    docs = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox leaps over the lazy dog tonight",
        "a completely different sentence about nothing at all here",
        "the quick brown fox jumps over the lazy dog tonight",  # exact dup
        "entirely unrelated words with zero overlap whatsoever now ok",
    ]
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    t = 0.5
    got = {(r["id_keep"], r["id_dup"])
           for r in NgramJaccardDeduplicator().setThreshold(t)
           .duplicate_pairs(df).collect()}

    def shingles(s, n=3):
        toks = [w for w in __import__("re").split(r"[^a-zA-Z0-9']+",
                                                  s.lower()) if w]
        return (set(" ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1))
                if len(toks) >= n else {" ".join(toks)})

    want = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(docs), 2):
        sa, sb = shingles(a), shingles(b)
        if len(sa & sb) / len(sa | sb) >= t:
            want.add((i, j))
    assert got == want
    assert (0, 4) in got                      # the exact duplicate pair


def test_embedding_dedup_banding_defaults_and_single_band(spark):
    """Banded LSH must behave with nBands=1 (the old single-table shape)
    and catch identical vectors regardless of banding config."""
    from flink_ml__spark.functions.dedup import EmbeddingCosineDeduplicator

    rows = [(1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),     # identical to 1
            (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    for bands in (1, 4):
        op = (EmbeddingCosineDeduplicator().setSeed(7).setThreshold(0.99)
              ._set(nBands=bands))
        kept = sorted(r["vec_id"] for r in op.transform(df).collect())
        assert kept == [1, 3], bands


def test_empty_input_new_dedup_paths(spark):
    from flink_ml__spark.functions.dedup import (
        EmbeddingCosineDeduplicator,
        NgramJaccardDeduplicator,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert (NgramJaccardDeduplicator().transform(empty_docs).count() == 0)
    empty_vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    # array_width needs one row; empty embeddings is a config error the
    # operator reports rather than a crash deep in numpy
    import pytest as _pytest
    with _pytest.raises(Exception):
        EmbeddingCosineDeduplicator().transform(empty_vecs).count()


def _score_window_ahp(x: np.ndarray, indicator_types: list[int],
                      ahp_w: list[float]) -> np.ndarray:
    """Numpy replica of one window's entropy-weight AHP scores for an
    (n, m) matrix (``OnlineAHP.java:94-172``, note ``k = 1/ln(#cols)``),
    computing Σ p·ln p directly rather than as T/S − ln S."""
    x = np.asarray(x, dtype=float)
    mx, mn = x.max(axis=0), x.min(axis=0)
    t = np.asarray(indicator_types)
    with np.errstate(divide="ignore", invalid="ignore"):
        norm = np.where(t == 1, (x - mn) / (mx - mn), (mx - x) / (mx - mn))
        s = norm.sum(axis=0)
        p = norm / s
        plogp = np.where(p == 0, 0.0, p * np.log(np.where(p == 0, 1.0, p)))
    e = plogp.sum(axis=0)
    k = 1.0 / math.log(x.shape[1])
    d = 1 + k * e
    w = d / d.sum()
    return norm @ (w * np.asarray(ahp_w))


@H
@given(data=st.lists(
    st.tuples(st.integers(0, 2),  # window bucket (day offset)
              st.floats(0.1, 100.0, allow_nan=False),
              st.floats(0.1, 100.0, allow_nan=False)),
    min_size=4, max_size=16))
def test_online_ahp_matches_numpy_replica(spark, data):
    """Both plans of the one AHP window kernel — batch
    ``OnlineAHP.transform`` (agg + broadcast join) and the collected-rows
    fold of ``stream_online_ahp``, run here on a batch frame — must
    reproduce an independent per-window numpy replica on arbitrary
    windowed data: the cross-check that the T/S − ln S entropy folding
    is the same math as the replica's direct Σ p·ln p. Day 5 is a
    window whose column ``a`` is constant: min == max leaves its
    normalised values NULL, so both plans score it NULL (the replica's
    0/0 gives NaN)."""
    import datetime

    from flink_ml__spark.operators.ahp import OnlineAHP, ahp_weight_vector
    from flink_ml__spark.streaming import stream_online_ahp

    data = data + [(5, 7.0, 1.0), (5, 7.0, 2.0), (5, 7.0, 4.0)]
    base = datetime.datetime(2024, 3, 1)
    rows = [(i, base + datetime.timedelta(days=d), float(a), float(b))
            for i, (d, a, b) in enumerate(data)]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, a double, b double")
    op = (OnlineAHP().setInputCols(["a", "b"])
          .setJudgmentMatrix(MATRIX2).setIndicatorType([1, 0])
          .setWindows("1 day").setTimeCol("ts").setOutputCol("s"))
    batch = {r["id"]: r["s"] for r in op.transform(df).collect()}
    folded = {r["id"]: r["s"] for r in stream_online_ahp(df, op).collect()}
    assert batch.keys() == folded.keys() == set(range(len(data)))

    ahp_w = ahp_weight_vector(MATRIX2)
    by_day = {}
    for i, (d, a, b) in enumerate(data):
        by_day.setdefault(d, []).append((i, a, b))
    for d, members in by_day.items():
        X = np.array([[a, b] for _, a, b in members])
        expect = _score_window_ahp(X, [1, 0], ahp_w)
        for (i, _, _), e in zip(members, expect):
            if math.isnan(e):
                assert batch[i] is None and folded[i] is None, (d, i)
            else:
                assert batch[i] == pytest.approx(e, abs=1e-9), (d, i)
                assert folded[i] == pytest.approx(e, abs=1e-9), (d, i)
    assert all(batch[i] is None for i, _, _ in by_day[5])


@H
@given(texts=st.lists(
    st.text(alphabet="abc @.0123456789-+", min_size=0, max_size=60),
    min_size=1, max_size=6))
def test_pii_redactor_idempotent(spark, texts):
    """Redaction is a fixpoint: placeholder tokens contain nothing any
    PII pattern can match, so a second pass changes nothing and counts
    zero."""
    from flink_ml__spark.functions.text import PiiRedactor

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    once = (PiiRedactor().transform(df)
            .select("doc_id", F_col("text_redacted").alias("text")))
    twice = PiiRedactor().transform(once)
    for r in twice.collect():
        assert r["text_redacted"] == r["text"]
        assert (r["n_pii_emails"] == r["n_pii_ips"] == r["n_pii_ids"]
                == r["n_pii_phones"] == 0)


@H
@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=5, max_size=30, unique=True))
def test_splitter_partition_layout_invariant(spark, ids):
    """The salted-hash split must not depend on physical partitioning —
    the property df.randomSplit lacks."""
    from flink_ml__spark.functions.curation import DeterministicSplitter

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    op = DeterministicSplitter()
    one = {r["doc_id"]: r["split"]
           for r in op.transform(df.coalesce(1)).collect()}
    many = {r["doc_id"]: r["split"]
            for r in op.transform(df.repartition(8)).collect()}
    assert one == many
    assert set(one.values()) <= {"train", "val", "test"}


@H
@given(sizes=st.tuples(st.integers(min_value=30, max_value=120),
                       st.integers(min_value=30, max_value=120)))
def test_balancer_targets_output_is_subset_and_deterministic(spark, sizes):
    from flink_ml__spark.functions.curation import DomainBalancer

    na, nb = sizes
    rows = ([(i, "a") for i in range(na)]
            + [(1000 + i, "b") for i in range(nb)])
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    op = DomainBalancer().setGroupCol("lang").setTargets({"a": 1, "b": 1})
    out1 = sorted(r["doc_id"] for r in op.transform(df).collect())
    out2 = sorted(r["doc_id"] for r in op.transform(df).collect())
    assert out1 == out2                       # deterministic
    assert set(out1) <= {r[0] for r in rows}  # sampler only drops rows


@H
@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=60), min_size=1,
    max_size=8))
def test_substring_dedup_token_conservation(spark, texts):
    """Invariants: surviving tokens = n_tokens − n_removed for every
    document, counts are never negative, and untouched documents
    rebuild to their normalized token join."""
    from flink_ml__spark.functions.dedup import SubstringDeduplicator

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = SubstringDeduplicator().setSpanTokens(3).transform(df).collect()
    for r in out:
        assert 0 <= r["n_removed"] <= r["n_tokens"]
        kept = [w for w in r["text_deduped"].split(" ") if w]
        assert len(kept) == r["n_tokens"] - r["n_removed"]


@H
@given(rows=st.lists(
    st.tuples(st.integers(min_value=0, max_value=10**6),
              st.integers(min_value=1, max_value=500)),
    min_size=3, max_size=25, unique_by=lambda t: t[0]),
    budget=st.integers(min_value=1, max_value=3000))
def test_token_budget_matches_naive_rule(spark, rows, budget):
    """The two-phase bucket-threshold fill must equal the naive global
    rule: take docs in (bucket, md5, id) order while the running sum
    BEFORE each doc is under the budget."""
    import hashlib

    from flink_ml__spark.functions.curation import TokenBudgetSampler

    df = spark.createDataFrame(
        [(i, "g", t) for i, t in rows], ["doc_id", "grp", "n_tok"])
    got = {r["doc_id"] for r in
           (TokenBudgetSampler().setGroupCol("grp").setTokenCol("n_tok")
            .setBudgets({"g": budget}).transform(df)).collect()}

    def key(i):
        hx = hashlib.md5(f"budget:{i}".encode()).hexdigest()
        return (int(hx[:4], 16), hx, i)

    expect, cum = set(), 0
    for i, t in sorted(rows, key=lambda r: key(r[0])):
        if cum < budget:
            expect.add(i)
        cum += t
    assert got == expect


@H
@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12),
    min_size=2, max_size=12))
def test_bloom_never_false_negative(spark, texts):
    """For ANY corpus/batch pair, a document whose normalized text
    appears in the corpus is removed — the bloom guarantee."""
    from flink_ml__spark.functions.dedup import BloomCorpusDeduplicator

    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts)]      # all dups
        + [(500, "zz unique zz")], ["doc_id", "text"])
    kept = {r["doc_id"] for r in
            (BloomCorpusDeduplicator().setNumBits(256).setNumHashes(3)
             .transform_against(new, corpus)).collect()}
    assert not (kept & {100 + i for i in range(len(texts))})


@H
@given(lines=st.lists(st.sampled_from(
    ["shared one", "shared two", "own a", "own b", "own c", "own d"]),
    min_size=2, max_size=10))
def test_line_dedup_conservation(spark, lines):
    """Kept + removed line counts must add up per document, and a line
    unique to one document always survives remove-everywhere mode."""
    from flink_ml__spark.functions.curation import LineDeduplicator

    docs = [(1, "\n".join(lines)), (2, "shared one\nshared two")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           LineDeduplicator().setDupDocs(2).transform(df).collect()}
    for i, raw in docs:
        n_nonempty = len([x for x in raw.split("\n") if x.strip()])
        assert out[i]["n_lines_total"] == n_nonempty
        kept_lines = [x for x in out[i]["text_line_deduped"].split("\n")
                      if x]
        assert out[i]["n_lines_kept"] == len(kept_lines)
        assert out[i]["n_lines_kept"] <= n_nonempty
    # doc 1 lines not present in doc 2 and not repeated... are its own:
    # any 'own *' line it contains must survive
    for ln in set(lines) - {"shared one", "shared two"}:
        assert ln in out[1]["text_line_deduped"]


@H
@given(
    points=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 2000)),
                    min_size=1, max_size=12),
    ivs=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 2000),
                           st.integers(0, 800)),
                 min_size=1, max_size=8),
    width=st.sampled_from([60.0, 240.0, 999.0]))
def test_range_join_equals_naive_nonequi(spark, points, ivs, width):
    """The bucketed rewrite must produce exactly the naive non-equi
    join's matches for ANY bucket width."""
    import datetime as dt

    from pyspark.sql import functions as F

    from flink_ml__spark.functions.joins import RangeJoiner

    base = dt.datetime(2024, 1, 1)
    p = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s))
         for i, (k, s) in enumerate(points)],
        "event_id long, user_id long, ts timestamp")
    iv = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s),
          base + dt.timedelta(seconds=s + dur))
         for i, (k, s, dur) in enumerate(ivs)],
        "iv_id long, user_id long, range_start timestamp, "
        "range_end timestamp")
    got = {(r["event_id"], r["iv_id"]) for r in
           RangeJoiner().setBucketWidthSec(width)
           .join(p, iv, ["iv_id"]).collect()}
    want = {(r["event_id"], r["iv_id"]) for r in
            p.alias("p").join(
                iv.alias("i"),
                (F.col("p.user_id") == F.col("i.user_id"))
                & (F.col("p.ts") >= F.col("i.range_start"))
                & (F.col("p.ts") <= F.col("i.range_end"))).collect()}
    assert got == want


@H
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 10000)),
                   min_size=1, max_size=10, unique=True),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 10000),
                              finite),
                    min_size=1, max_size=10))
def test_asof_directions_match_pandas_merge_asof(spark, lefts, rights):
    import datetime as dt

    import pandas as pd

    from flink_ml__spark.functions.joins import AsOfJoiner

    base = dt.datetime(2024, 1, 1)
    # pandas merge_asof needs unique sort order; make right ts unique
    rights = [(k, s + i, v) for i, (k, s, v) in enumerate(rights)]
    l = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s))
         for i, (k, s) in enumerate(lefts)],
        "id long, user_id long, ts timestamp")
    r = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=s), float(v))
         for k, s, v in rights],
        "user_id long, ts timestamp, value double")
    lp = (pd.DataFrame([(i, k, base + dt.timedelta(seconds=s))
                        for i, (k, s) in enumerate(lefts)],
                       columns=["id", "user_id", "ts"])
          .sort_values("ts").reset_index(drop=True))
    rp = (pd.DataFrame([(k, base + dt.timedelta(seconds=s), float(v))
                        for k, s, v in rights],
                       columns=["user_id", "ts", "value"])
          .sort_values("ts").reset_index(drop=True))
    for direction in ["backward", "forward", "nearest"]:
        got = {row["id"]: row["value"] for row in
               AsOfJoiner().setDirection(direction)
               .join(l, r, ["value"]).collect()}
        ref = pd.merge_asof(lp, rp, on="ts", by="user_id",
                            direction=direction)
        for _, row in ref.iterrows():
            exp = None if pd.isna(row["value"]) else row["value"]
            assert got[row["id"]] == exp, (direction, row["id"])


@H
@given(vals=st.lists(st.lists(finite, min_size=2, max_size=2),
                     min_size=3, max_size=10))
def test_pca_projection_preserves_pairwise_distances(spark, vals):
    """Full-rank PCA (k = dims) is a rigid rotation of centered data:
    pairwise L2 distances must be preserved exactly."""
    import numpy as np

    from flink_ml__spark.functions.similarity import EmbeddingPCA

    X = np.array(vals)
    if np.linalg.matrix_rank(X - X.mean(0)) < 2:
        return  # degenerate: covariance singular, rotation undefined
    df = spark.createDataFrame(
        [(i, [float(a) for a in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>")
    model = EmbeddingPCA().setK(2).fit(df)
    got = {r["vec_id"]: np.array(r["pca"])
           for r in model.transform(df).collect()}
    P = np.stack([got[i] for i in range(len(X))])
    for i in range(len(X)):
        for j in range(i + 1, len(X)):
            dx = np.linalg.norm(X[i] - X[j])
            dp = np.linalg.norm(P[i] - P[j])
            assert dp == pytest.approx(dx, rel=1e-8, abs=1e-8)


def test_operator_guards_for_degenerate_params_and_nulls(spark):
    """Round-5 review regressions: validation and NULL guards that
    previously crashed deep in the math or silently corrupted output."""
    from flink_ml__spark.base import array_width
    from flink_ml__spark.operators import FCM
    from flink_ml__spark.operators.canopy import Canopy

    emb = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0]), (3, [3.0, 4.0])],
        "vec_id long, embedding array<double>")
    # array_width samples the first NON-NULL row (size(NULL) = -1)
    assert array_width(emb, "embedding") == 2

    # FCM rejects the documented-invalid fuzziness m <= 1
    with pytest.raises(ValueError):
        FCM().setK(2).setM(1.0).setFeaturesCol("embedding").fit(emb)

    # Canopy ignores NULL feature rows instead of emptying the result
    out = (Canopy().setT1(10.0).setT2(1.0).setSeed(7)
           .setFeaturesCol("embedding").assign(emb)).collect()
    assert out                                   # centers were found
    pts = {tuple(r["point"]) for r in out}
    assert pts <= {(1.0, 2.0), (3.0, 4.0)}       # never a NULL point

    # AHP validates matrix ROWS too, not just columns (at transform,
    # where the reference runs its checks)
    abc = spark.createDataFrame([(1.0, 2.0, 3.0)], ["a", "b", "c"])
    with pytest.raises(ValueError):
        (AHP().setInputCols(["a", "b", "c"])
         .setJudgmentMatrix([[1.0] * 3, [1.0] * 3])
         .setIndicatorType([1, 1, 1]).setOutputCol("s")
         .transform(abc))

    # Topsis on empty input yields NULL scores, not a TypeError
    empty = spark.createDataFrame([], "features array<double>")
    out = (Topsis().setCriteriaTypes([1, 2]).setWeights([0.5, 0.5])
           .setPredictionCol("score").transform(empty))
    assert out.count() == 0
    assert "score" in out.columns

    # Apriori's frequent_itemsets enforces the basket-size guard
    from flink_ml__spark.operators.apriori import Apriori

    big = spark.createDataFrame([("/".join(map(str, range(40))),)],
                                ["basket"])
    with pytest.raises(ValueError):
        (Apriori().setInputCols(["basket"]).setItemSeparator("/")
         .frequent_itemsets(big))


@H
@given(data=st.lists(
    st.tuples(st.integers(0, 9),            # key
              st.integers(0, 2),            # old value bucket
              st.integers(0, 2),            # new value bucket
              st.sampled_from(["both", "old_only", "new_only"])),
    min_size=0, max_size=10, unique_by=lambda t: t[0]))
def test_snapshot_diff_apply_roundtrip_property(spark, data):
    """For ANY pair of keyed snapshots, applying the payload diff to
    the old snapshot reconstructs the new one exactly."""
    from flink_ml__spark.functions.linkage import SnapshotDiffer

    old_rows = [(k, f"v{o}", float(o)) for k, o, _n, w in data
                if w in ("both", "old_only")]
    new_rows = [(k, f"v{n}", float(n)) for k, _o, n, w in data
                if w in ("both", "new_only")]
    schema = "id long, a string, b double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    d = SnapshotDiffer().setKeyCols("id").setEmitPayload(True)
    got = {tuple(r) for r in d.apply(old, d.diff(old, new)).collect()}
    want = {tuple(r) for r in new.collect()}
    assert got == want


@H
@given(data=st.data())
def test_phrase_matcher_matches_python_reference(spark, data):
    """Random docs and phrases: the distributed matcher must equal a
    pure-Python str.count reference on normalized token strings."""
    import re

    from flink_ml__spark.functions.text import TOKEN_SPLIT, PhraseMatcher

    vocab = ["alpha", "beta", "gamma", "delta", "x1"]
    word = st.sampled_from(vocab)
    docs = data.draw(st.lists(
        st.lists(word, min_size=0, max_size=8), min_size=1, max_size=5))
    phrases = data.draw(st.lists(
        st.lists(word, min_size=1, max_size=3).map(" ".join),
        min_size=1, max_size=3, unique=True))

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["phrase"]): r["n_occurrences"]
           for r in (PhraseMatcher().setPhrases(phrases)
                     .match(df).collect())}

    rx = re.compile(TOKEN_SPLIT)
    expect = {}
    for i, ws in enumerate(docs):
        norm = " " + " ".join(t for t in rx.split(" ".join(ws).lower())
                              if t) + " "
        for p in phrases:
            needle = " " + " ".join(
                t for t in rx.split(p.lower()) if t) + " "
            n = norm.count(needle)
            if n > 0:
                expect[(i, p)] = n
    assert got == expect


@H
@given(data=st.data())
def test_ranking_evaluator_matches_python_reference(spark, data):
    """Random rankings + qrels: distributed metrics must equal a
    pure-Python computation of P/R@k, MRR and binary nDCG."""
    import math

    from flink_ml__spark.functions.retrieval import RankingEvaluator

    k = data.draw(st.integers(1, 5))
    n_q = data.draw(st.integers(1, 3))
    ranking_rows, qrel_rows = [], []
    for q in range(n_q):
        n_ranked = data.draw(st.integers(1, 6))
        docs = data.draw(st.permutations(list(range(10))))[:n_ranked]
        for r, d in enumerate(docs, start=1):
            ranking_rows.append((q, d, r))
        rel = data.draw(st.sets(st.integers(0, 9), max_size=4))
        qrel_rows.extend((q, d) for d in rel)

    ranking = spark.createDataFrame(
        ranking_rows, "query_id long, doc_id long, rank int")
    qrels = spark.createDataFrame(
        qrel_rows or [(99, 99)], "query_id long, doc_id long")
    got = {r["query_id"]: r for r in
           (RankingEvaluator().setK(k).evaluate(ranking, qrels)
            .collect())}

    by_q = {}
    for q, d, r in ranking_rows:
        by_q.setdefault(q, []).append((r, d))
    rels = {}
    for q, d in qrel_rows:
        rels.setdefault(q, set()).add(d)
    assert set(got) == set(by_q)
    for q, ranked in by_q.items():
        rel = rels.get(q, set())
        top = sorted(ranked)[:]
        top = [(r, d) for r, d in top if r <= k]
        hits = [r for r, d in top if d in rel]
        row = got[q]
        assert row["n_rel"] == len(rel)
        assert row["hits"] == len(hits)
        assert abs(row["precision_at_k"] - len(hits) / k) < 1e-12
        if rel:
            assert abs(row["recall_at_k"] - len(hits) / len(rel)) < 1e-12
            dcg = sum(1 / math.log2(r + 1) for r in hits)
            idcg = sum(1 / math.log2(i + 1)
                       for i in range(1, min(k, len(rel)) + 1))
            assert abs(row["ndcg_at_k"] - dcg / idcg) < 1e-12
        else:
            assert row["recall_at_k"] is None
            assert row["ndcg_at_k"] is None
        assert row["mrr"] == (1.0 / min(hits) if hits else 0.0)


_url_label = st.text(alphabet="abcz09", min_size=1, max_size=5)
_url_strat = st.one_of(
    st.builds(
        lambda sch, labels, port, segs, params, frag:
            sch + "://" + ".".join(labels)
            + (f":{port}" if port else "")
            + "/" + "/".join(segs)
            + ("/" if len(segs) % 2 else "")
            + ("?" + "&".join(params) if params else "")
            + ("#" + frag if frag else ""),
        st.sampled_from(["http", "https", "HTTP", "ftp"]),
        st.lists(_url_label, min_size=1, max_size=4),
        st.sampled_from(["", "80", "443", "8080"]),
        st.lists(_url_label, min_size=0, max_size=3),
        st.lists(st.sampled_from(
            ["a=1", "b=2", "utm_source=x", "fbclid=z", "Q=9"]),
            min_size=0, max_size=4),
        st.sampled_from(["", "frag"])),
    st.text(max_size=20),   # garbage
)


@H
@given(urls=st.lists(_url_strat, min_size=1, max_size=6))
def test_url_canonicalizer_idempotent(spark, urls):
    """Canonical forms are fixed points: canonicalizing a canonical URL
    changes nothing — the property that makes canonical-URL dedup keys
    stable across re-crawls. Garbage never crashes, it yields NULL."""
    from flink_ml__spark.functions.web import UrlCanonicalizer

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string")
    op = UrlCanonicalizer().setInputCol("url")
    once = {r["doc_id"]: r["url_canonical"]
            for r in op.transform(df).collect()}
    again_df = spark.createDataFrame(
        [(i, c) for i, c in once.items() if c is not None],
        "doc_id long, url string")
    if again_df.count():
        twice = {r["doc_id"]: r["url_canonical"]
                 for r in op.transform(again_df).collect()}
        for i, c in twice.items():
            assert c == once[i], (urls[i], once[i], c)


# ------------------------------------------------- scaler/encoder properties

@H
@given(vals=st.lists(finite, min_size=2, max_size=12, unique=True))
def test_minmax_scaler_properties(spark, vals):
    from flink_ml__spark.functions import MinMaxScaler

    df = spark.createDataFrame([(float(v),) for v in vals], ["v"])
    model = MinMaxScaler().setInputCol("v").fit(df)
    got = [(r["v"], r["scaled_value"])
           for r in model.transform(df).collect()]
    lo, hi = min(vals), max(vals)
    for v, s in got:
        assert -1e-12 <= s <= 1 + 1e-12
        assert s == pytest.approx((v - lo) / (hi - lo), abs=1e-9)
    # order preserved
    by_v = sorted(got)
    assert all(a[1] <= b[1] + 1e-12 for a, b in zip(by_v, by_v[1:]))


@H
@given(vals=st.lists(finite, min_size=4, max_size=16))
def test_quantile_discretizer_monotone(spark, vals):
    from flink_ml__spark.functions import QuantileDiscretizer

    df = spark.createDataFrame([(float(v),) for v in vals], ["v"])
    model = QuantileDiscretizer().setInputCol("v").setNumBuckets(3).fit(df)
    got = sorted((r["v"], r["bucket"])
                 for r in model.transform(df).collect())
    assert all(a[1] <= b[1] for a, b in zip(got, got[1:]))
    assert all(0 <= b <= 2 for _, b in got)


@H
@given(rows=st.lists(
    st.tuples(st.sampled_from(["x", "y", "z"]), finite),
    min_size=2, max_size=12))
def test_target_encoder_matches_numpy(spark, rows):
    from flink_ml__spark.functions import TargetEncoder

    df = spark.createDataFrame([(c, float(v)) for c, v in rows],
                               "cat string, value double")
    m = 5.0
    model = (TargetEncoder().setInputCol("cat").setTargetCol("value")
             .setSmoothing(m).fit(df))
    prior = np.mean([v for _, v in rows])
    got = {r["cat"]: r["target_enc"] for r in model.transform(df).collect()}
    for c in {c for c, _ in rows}:
        vs = [v for cc, v in rows if cc == c]
        want = (sum(vs) + m * prior) / (len(vs) + m)
        assert got[c] == pytest.approx(want, abs=1e-6)
        # shrinkage: between the raw mean and the prior
        lo, hi = sorted([np.mean(vs), prior])
        assert lo - 1e-9 <= got[c] <= hi + 1e-9


@H
@given(a=st.lists(finite, min_size=2, max_size=10, unique=True),
       b=st.lists(finite, min_size=2, max_size=10, unique=True))
def test_ks_matches_pure_python_exact(spark, a, b):
    from flink_ml__spark.functions.stats import KolmogorovSmirnovTest

    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "group string, value double")
    r = (KolmogorovSmirnovTest().setNumBins(4096)
         .evaluate(df).first())
    grid = sorted(set(a) | set(b))
    d_exact = max(abs(sum(v <= g for v in a) / len(a)
                      - sum(v <= g for v in b) / len(b)) for g in grid)
    # binned D is a grid evaluation whose error is bounded by the
    # LARGEST combined in-bin mass — adversarial ranges (denormals
    # next to ±1e6 values) can drop many distinct values into one
    # bin, so compute that bound from the operator's own binning
    lo, hi = min(a + b), max(a + b)
    span = hi - lo

    def bins(vals):
        from collections import Counter

        if span <= 0:
            return Counter({0: len(vals)})
        return Counter(min(int((v - lo) / span * 4096), 4095)
                       for v in vals)

    ba, bb = bins(a), bins(b)
    slack = max(ba.get(k, 0) / len(a) + bb.get(k, 0) / len(b)
                for k in set(ba) | set(bb))
    assert d_exact - slack - 1e-9 <= r["d_stat"] <= d_exact + 1e-9


@H
@given(xs=st.lists(finite, min_size=2, max_size=10))
def test_holt_alpha1_tracks_last_value(spark, xs):
    """α=1 makes the level the latest observation exactly; β=0 pins
    the trend at its init (0) — the recursion's two fixed points."""
    from flink_ml__spark.functions.timeseries import HoltForecaster

    rows = [("k", i, float(v)) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "key string, ts long, v double")
    out = (HoltForecaster().setKeyCol("key").setTimeCol("ts")
           .setValueCol("v").setAlpha(1.0).setBeta(0.0)
           .transform(df).first())
    assert out["level"] == round(float(xs[-1]), 6)
    assert out["trend"] == 0.0


@H
@given(toks=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                     min_size=1, max_size=30))
def test_lexical_diversity_bounds(spark, toks):
    """Entropy ≤ log2(n_types); Simpson ∈ [1/types, 1]; TTR ∈ (0, 1]."""
    import math

    from flink_ml__spark.functions.text import LexicalDiversityScorer

    df = spark.createDataFrame([(1, " ".join(toks))],
                               "doc_id long, text string")
    r = LexicalDiversityScorer().transform(df).first()
    k = r["n_types"]
    assert r["n_tokens_ld"] == len(toks)
    assert 0 < r["ttr"] <= 1.0
    assert -1e-9 <= r["shannon_entropy"] <= math.log2(k) + 1e-9
    assert 1.0 / k - 1e-9 <= r["simpson_index"] <= 1.0 + 1e-9


@H
@given(sizes=st.lists(st.integers(min_value=1, max_value=50),
                      min_size=2, max_size=5),
       tau=st.floats(min_value=0.1, max_value=1.0))
def test_temperature_mixer_weights_sum_to_one(spark, sizes, tau):
    from flink_ml__spark.functions.curation import TemperatureMixer

    rows = []
    for d, n in enumerate(sizes):
        rows += [(len(rows) + i, "tok " * 5, f"d{d}")
                 for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = (TemperatureMixer().setGroupCol("lang").setTemperature(tau)
           .transform(df).collect())
    total_w = sum(r["weight"] for r in out)
    assert abs(total_w - 1.0) < 1e-4
    if abs(tau - 1.0) < 1e-9:
        for r in out:
            assert abs(r["weight"] - r["p_raw"]) < 1e-5


@H
@given(dup_factor=st.integers(min_value=2, max_value=3))
def test_nb_duplicating_corpus_preserves_predictions(spark, dup_factor):
    """Repeating every training document k× leaves priors and token
    shares unchanged; only the (count+α)/(total+αV) smoothing mass
    shifts, and it shifts the same way for every class — predictions
    on separable inputs must not flip."""
    from flink_ml__spark.functions import NaiveBayesTextClassifier

    base = [(i, ["spam buy pills now", "meeting agenda notes",
                 "quarterly review report"][i % 3],
             ["s", "h", "h"][i % 3]) for i in range(9)]
    df1 = spark.createDataFrame(base, ["doc_id", "text", "lang"])
    dup = [(r[0] + 1000 * k, r[1], r[2])
           for k in range(dup_factor) for r in base]
    df2 = spark.createDataFrame(dup, ["doc_id", "text", "lang"])
    m1 = NaiveBayesTextClassifier().setLabelCol("lang") \
        .setNumFeatures(128).fit(df1)
    m2 = NaiveBayesTextClassifier().setLabelCol("lang") \
        .setNumFeatures(128).fit(df2)
    test = spark.createDataFrame(
        [(1, "buy pills"), (2, "agenda review")],
        ["doc_id", "text"])
    p1 = {r["doc_id"]: r["nb_pred"] for r in m1.transform(test).collect()}
    p2 = {r["doc_id"]: r["nb_pred"] for r in m2.transform(test).collect()}
    assert p1 == p2
