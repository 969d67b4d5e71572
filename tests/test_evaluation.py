"""BinaryClassificationEvaluator: hand-computed AUC/confusion goldens,
tie handling, degenerate classes, NULL exclusion."""

import pytest

from flink_ml__spark.functions.evaluation import (
    BinaryClassificationEvaluator,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "label int, score double")


def test_perfect_and_inverted_auc(spark):
    perfect = _df(spark, [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)])
    r = BinaryClassificationEvaluator().evaluate(perfect).first()
    assert r["auc"] == 1.0 and r["accuracy"] == 1.0 and r["f1"] == 1.0
    inverted = _df(spark, [(0, 0.9), (0, 0.8), (1, 0.2), (1, 0.1)])
    assert (BinaryClassificationEvaluator().evaluate(inverted)
            .first()["auc"] == 0.0)


def test_hand_computed_auc_with_tie(spark):
    # pairs: (pos .8 > neg .4)=1, (pos .8 > neg .6)=1,
    #        (pos .6 tie neg .6)=.5, (pos .6 > neg .4)=1 -> auc 3.5/4
    df = _df(spark, [(1, 0.8), (1, 0.6), (0, 0.6), (0, 0.4)])
    r = BinaryClassificationEvaluator().evaluate(df).first()
    assert abs(r["auc"] - 3.5 / 4) < 1e-12
    assert r["n_pos"] == 2 and r["n_neg"] == 2


def test_confusion_at_threshold(spark):
    df = _df(spark, [(1, 0.9), (1, 0.4), (0, 0.7), (0, 0.1)])
    r = (BinaryClassificationEvaluator().setThreshold(0.5)
         .evaluate(df).first())
    # tp=1 (0.9), fp=1 (0.7), fn=1 (0.4), tn=1 (0.1)
    assert r["accuracy"] == 0.5
    assert r["precision"] == 0.5 and r["recall"] == 0.5
    assert r["f1"] == 0.5


def test_single_class_auc_null(spark):
    df = _df(spark, [(1, 0.9), (1, 0.1)])
    r = BinaryClassificationEvaluator().evaluate(df).first()
    assert r["auc"] is None and r["n_neg"] == 0
    assert r["recall"] == 0.5            # threshold still applies
    df0 = _df(spark, [(0, 0.9)])
    r0 = BinaryClassificationEvaluator().evaluate(df0).first()
    # the lone negative IS predicted positive: precision 0/1 = 0.0;
    # recall undefined (no positives) -> NULL, hence f1 NULL
    assert r0["auc"] is None and r0["precision"] == 0.0
    assert r0["recall"] is None and r0["f1"] is None


def test_nulls_excluded_and_clamping(spark):
    df = spark.createDataFrame(
        [(1, 0.9), (None, 0.5), (0, None), (0, -0.3), (1, 1.7)],
        "label int, score double")
    r = BinaryClassificationEvaluator().evaluate(df).first()
    # NULL label/score rows drop; -0.3 clamps to bucket 0, 1.7 to top
    assert r["n_pos"] == 2 and r["n_neg"] == 1
    assert r["auc"] == 1.0


def test_validation(spark):
    with pytest.raises(ValueError, match="numBins"):
        BinaryClassificationEvaluator().setNumBins(1)


def test_calibration_hand_computed_goldens(spark):
    """4 rows in 2 populated bins, every metric checked by hand:
    bin2 [0.2,0.3): scores .2/.25 labels 1/0 -> conf .225, acc .5,
    gap .275; bin9 [.9,1]: scores .9/1.0 labels 1/1 -> conf .95,
    acc 1, gap .05. ECE = (2*.275 + 2*.05)/4 = .1625; MCE = .275;
    Brier = ((.2-1)^2+(.25)^2+(.9-1)^2+(1-1)^2)/4 = .178125."""
    import math

    from flink_ml__spark.functions.evaluation import CalibrationEvaluator

    df = spark.createDataFrame(
        [(1, 0.2), (0, 0.25), (1, 0.9), (1, 1.0)], ["label", "score"])
    ev = CalibrationEvaluator().setNumBins(10)
    rel = {r["bin"]: r for r in ev.reliability(df).collect()}
    assert set(rel) == {2, 9}
    assert math.isclose(rel[2]["avg_score"], 0.225)
    assert math.isclose(rel[2]["frac_pos"], 0.5)
    assert math.isclose(rel[2]["gap"], 0.275)
    assert math.isclose(rel[9]["avg_score"], 0.95)
    out = ev.evaluate(df).collect()[0]
    assert out["n"] == 4
    assert math.isclose(out["ece"], 0.1625)
    assert math.isclose(out["mce"], 0.275)
    assert math.isclose(out["brier"], 0.178125)


def test_calibration_perfectly_calibrated_score(spark):
    """Within each bin the positive rate equals the mean score →
    ECE/MCE ~ 0."""
    import math

    from flink_ml__spark.functions.evaluation import CalibrationEvaluator

    rows = []
    for conf, n in ((0.25, 8), (0.75, 8)):
        pos = int(conf * n)
        rows += [(1, conf)] * pos + [(0, conf)] * (n - pos)
    df = spark.createDataFrame(rows, ["label", "score"])
    out = (CalibrationEvaluator().setNumBins(4)
           .evaluate(df).collect()[0])
    assert math.isclose(out["ece"], 0.0, abs_tol=1e-12)
    assert math.isclose(out["mce"], 0.0, abs_tol=1e-12)


def test_calibration_clamps_and_ignores_nulls(spark):
    from flink_ml__spark.functions.evaluation import CalibrationEvaluator

    df = spark.createDataFrame(
        [(1, 1.7), (0, -0.3), (None, 0.5), (1, None)],
        "label int, score double")
    ev = CalibrationEvaluator().setNumBins(10)
    rel = {r["bin"]: r for r in ev.reliability(df).collect()}
    # 1.7 clamps to 1.0 (bin 9), -0.3 clamps to 0.0 (bin 0); NULL
    # label/score rows are excluded entirely
    assert set(rel) == {0, 9}
    assert rel[9]["avg_score"] == 1.0 and rel[0]["avg_score"] == 0.0
    out = ev.evaluate(df).collect()[0]
    assert out["n"] == 2


def test_calibration_empty_input(spark):
    from flink_ml__spark.functions.evaluation import CalibrationEvaluator

    df = spark.createDataFrame([], "label int, score double")
    out = CalibrationEvaluator().evaluate(df).collect()[0]
    assert out["n"] == 0
    assert out["ece"] is None and out["brier"] is None


def test_calibration_gate_queries(spark):
    from flink_ml__spark.plans.queries import (
        q_calibration_bins_documents,
        q_calibration_eval_documents,
    )

    bins = q_calibration_bins_documents(spark, "/root/testdata/sf0.001")
    assert bins.columns == ["bin", "n", "avg_score", "frac_pos", "gap"]
    assert bins.count() > 0
    out = q_calibration_eval_documents(
        spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 1 and out[0]["n"] > 0


def test_label_consensus_goldens(spark):
    """Hand-checked votes: majority, tie → NULL, all-abstain → NULL,
    unanimity flags."""
    from flink_ml__spark.functions.evaluation import LabelConsensus

    rows = [
        (1, 1, 1, 0),        # 2/3 pos -> consensus 1, agreement 2/3
        (2, 0, 0, None),     # 0/2 -> consensus 0, unanimous
        (3, 1, 0, None),     # 1/2 tie -> NULL consensus
        (4, None, None, None),  # all abstain -> NULLs, not unanimous
        (5, 1, 1, 1),        # unanimous positive
    ]
    df = spark.createDataFrame(
        rows, "id int, a int, b int, c int")
    out = {r["id"]: r for r in
           (LabelConsensus().setInputCols("a", "b", "c")
            .transform(df).collect())}
    assert out[1]["consensus"] == 1 and abs(
        out[1]["agreement"] - 2 / 3) < 1e-12
    assert not out[1]["is_unanimous"]
    assert out[2]["consensus"] == 0 and out[2]["is_unanimous"]
    assert out[3]["consensus"] is None and out[3]["agreement"] == 0.5
    assert out[4]["consensus"] is None and out[4]["n_votes"] == 0
    assert out[4]["agreement"] is None and not out[4]["is_unanimous"]
    assert out[5]["consensus"] == 1 and out[5]["is_unanimous"]


def test_label_consensus_requires_cols(spark):
    from flink_ml__spark.functions.evaluation import LabelConsensus

    df = spark.createDataFrame([(1,)], ["id"])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no columns"):
        LabelConsensus().transform(df)


def test_classification_report_goldens(spark):
    from flink_ml__spark.functions.evaluation import ClassificationReport

    df = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("a", "b"),   # a: support 3, tp 2
         ("b", "b"),                            # b: support 1, tp 1
         ("c", "a"),                            # c: never predicted
         (None, "a"), ("b", None)],             # excluded
        "label string, prediction string")
    out = {r["class_"]: r for r in
           ClassificationReport().evaluate(df).collect()}
    a, b, c = out["a"], out["b"], out["c"]
    # (None, "a") is excluded entirely -> only 3 'a' predictions count
    assert a["support"] == 3 and a["predicted"] == 3 and a["tp"] == 2
    assert abs(a["precision"] - 2 / 3) < 1e-12
    assert abs(a["recall"] - 2 / 3) < 1e-12
    assert abs(a["f1"] - 2 / 3) < 1e-12
    assert b["support"] == 1 and b["predicted"] == 2 and b["tp"] == 1
    assert abs(b["precision"] - 0.5) < 1e-12 and b["recall"] == 1.0
    # never predicted: precision NULL, recall 0, f1 NULL
    assert c["predicted"] == 0 and c["precision"] is None
    assert c["recall"] == 0.0 and c["f1"] is None


def test_classification_report_predicted_only_class(spark):
    from flink_ml__spark.functions.evaluation import ClassificationReport

    df = spark.createDataFrame(
        [("a", "z"), ("a", "a")], "label string, prediction string")
    out = {r["class_"]: r for r in
           ClassificationReport().evaluate(df).collect()}
    z = out["z"]  # hallucinated class: support 0
    assert z["support"] == 0 and z["predicted"] == 1 and z["tp"] == 0
    assert z["precision"] == 0.0 and z["recall"] is None and z["f1"] is None


def test_kappa_goldens(spark):
    from flink_ml__spark.functions.evaluation import AgreementEvaluator

    # classic textbook table: 20 items, po = 0.7, pe = 0.5 -> kappa 0.4
    rows = ([("y", "y")] * 7 + [("y", "n")] * 3
            + [("n", "y")] * 3 + [("n", "n")] * 7)
    df = spark.createDataFrame(rows, "rater_a string, rater_b string")
    r = AgreementEvaluator().evaluate(df).first()
    assert r["n"] == 20
    assert abs(r["po"] - 0.7) < 1e-12
    assert abs(r["pe"] - 0.5) < 1e-12
    assert abs(r["kappa"] - 0.4) < 1e-12


def test_kappa_degenerate(spark):
    from flink_ml__spark.functions.evaluation import AgreementEvaluator

    ev = AgreementEvaluator()
    # both raters constant and equal: pe = 1 -> kappa undefined (NULL)
    const = spark.createDataFrame(
        [("y", "y")] * 5, "rater_a string, rater_b string")
    r = ev.evaluate(const).first()
    assert r["po"] == 1.0 and r["pe"] == 1.0 and r["kappa"] is None
    # NULL votes excluded; all-NULL -> n 0, everything NULL
    nul = spark.createDataFrame(
        [(None, "y"), ("y", None)], "rater_a string, rater_b string")
    r = ev.evaluate(nul).first()
    assert r["n"] == 0 and r["po"] is None and r["kappa"] is None


# ------------------------------------------------------------- regression

def test_regression_evaluator_goldens(spark):
    import math

    from flink_ml__spark.functions.evaluation import RegressionEvaluator

    rows = [(1.0, 2.0), (2.0, 2.0), (4.0, 3.0), (None, 1.0), (5.0, None)]
    df = spark.createDataFrame(rows, "label double, prediction double")
    r = RegressionEvaluator().evaluate(df).first()
    # valid rows: (1,2) (2,2) (4,3) → errs 1, 0, -1
    assert r["n"] == 3
    assert math.isclose(r["mae"], 2 / 3)
    assert math.isclose(r["mse"], 2 / 3)
    assert math.isclose(r["rmse"], math.sqrt(2 / 3))
    assert math.isclose(r["max_error"], 1.0)
    # ybar = 7/3, ss_tot = (1-7/3)^2+(2-7/3)^2+(4-7/3)^2 = 14/3
    assert math.isclose(r["r2"], 1 - 2 / (14 / 3))
    assert math.isclose(r["mape"], (1 / 1 + 0 / 2 + 1 / 4) / 3)


def test_regression_evaluator_constant_label_r2_null(spark):
    from flink_ml__spark.functions.evaluation import RegressionEvaluator

    df = spark.createDataFrame([(3.0, 2.0), (3.0, 4.0)],
                               "label double, prediction double")
    r = RegressionEvaluator().evaluate(df).first()
    assert r["r2"] is None
    assert r["mae"] == 1.0


def test_regression_evaluator_zero_label_mape_excluded(spark):
    import math

    from flink_ml__spark.functions.evaluation import RegressionEvaluator

    df = spark.createDataFrame([(0.0, 1.0), (2.0, 1.0)],
                               "label double, prediction double")
    r = RegressionEvaluator().evaluate(df).first()
    assert math.isclose(r["mape"], 0.5)  # only the label=2 row


# ------------------------------------------------------------- silhouette

def test_silhouette_well_separated(spark):
    import math

    from flink_ml__spark.functions.evaluation import ClusteringEvaluator

    rows = [(0.0, 0.0, "a"), (1.0, 0.0, "a"), (0.0, 1.0, "a"),
            (10.0, 10.0, "b"), (11.0, 10.0, "b"), (10.0, 11.0, "b")]
    df = spark.createDataFrame(rows, "x double, y double, cluster string")
    ev = ClusteringEvaluator().setFeatureCols("x", "y")
    per = ev.transform(df).collect()
    assert all(r["silhouette"] > 0.9 for r in per)
    summary = {r["cluster"]: r for r in ev.evaluate(df).collect()}
    assert set(summary) == {"a", "b", "__overall__"}
    assert summary["__overall__"]["n"] == 6
    assert math.isclose(
        summary["__overall__"]["mean_silhouette"],
        sum(r["silhouette"] for r in per) / 6)


def test_silhouette_point_on_centroids_zero(spark):
    from flink_ml__spark.functions.evaluation import ClusteringEvaluator

    # two clusters whose centroids coincide at the origin
    rows = [(1.0, "a"), (-1.0, "a"), (2.0, "b"), (-2.0, "b"), (0.0, "a")]
    df = spark.createDataFrame(rows, "x double, cluster string")
    got = {(r["x"], r["cluster"]): r["silhouette"]
           for r in (ClusteringEvaluator().setFeatureCols("x")
                     .transform(df).collect())}
    # both centroids are at 0 → a == b → silhouette 0 everywhere
    assert all(v == 0.0 for v in got.values())


def test_silhouette_matches_pure_python(spark):
    import math

    from flink_ml__spark.functions.evaluation import ClusteringEvaluator

    rows = [(float(i % 7), float((i * 3) % 5), str(i % 3))
            for i in range(60)]
    df = spark.createDataFrame(rows, "x double, y double, cluster string")
    got = {(r["x"], r["y"], r["cluster"]): r["silhouette"]
           for r in (ClusteringEvaluator().setFeatureCols("x", "y")
                     .transform(df).collect())}
    # pure-python reference
    from collections import defaultdict
    pts = defaultdict(list)
    for x, y, c in rows:
        pts[c].append((x, y))
    cents = {c: (sum(p[0] for p in v) / len(v),
                 sum(p[1] for p in v) / len(v)) for c, v in pts.items()}
    for x, y, c in rows:
        a = math.dist((x, y), cents[c])
        b = min(math.dist((x, y), cents[o]) for o in cents if o != c)
        want = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
        assert math.isclose(got[(x, y, c)], want, abs_tol=1e-9)


def test_silhouette_needs_two_clusters(spark):
    import pytest as _pytest

    from flink_ml__spark.functions.evaluation import ClusteringEvaluator

    df = spark.createDataFrame([(1.0, "a")], "x double, cluster string")
    with _pytest.raises(ValueError):
        ClusteringEvaluator().setFeatureCols("x").transform(df)


# -------------------------------------------------------------- isotonic

def test_isotonic_matches_pure_python_pav(spark):
    import math

    from flink_ml__spark.functions.evaluation import IsotonicCalibrator

    # scores with a deliberate violation: mid scores have HIGHER
    # positive rate than upper-mid
    rows = [(0, 0.05), (0, 0.1), (1, 0.3), (1, 0.35), (0, 0.55),
            (0, 0.6), (1, 0.62), (1, 0.9), (1, 0.95), (0, 0.92)]
    df = spark.createDataFrame(rows, "label int, score double")
    model = IsotonicCalibrator().setNumBins(4096).fit(df)

    # pure-python PAV on the same binned means (distinct < bins →
    # each distinct score is its own bin)
    from collections import defaultdict
    agg = defaultdict(lambda: [0, 0])
    for y, s in rows:
        b = min(int(s * 4096), 4095)
        agg[b][0] += 1
        agg[b][1] += y
    pools = []
    for b in sorted(agg):
        n, pos = agg[b]
        pools.append([b, float(n), pos / n])
        while len(pools) > 1 and pools[-2][2] >= pools[-1][2]:
            bb, w, m = pools.pop()
            pools[-1][2] = (pools[-1][1] * pools[-1][2] + w * m) / (
                pools[-1][1] + w)
            pools[-1][1] += w
    want = [(p[0] / 4096, p[2]) for p in pools]
    assert len(model.steps) == len(want)
    for (gb, gv), (wb, wv) in zip(model.steps, want):
        assert math.isclose(gb, wb) and math.isclose(gv, wv)

    # calibrated output is monotone in score and mean-preserving
    out = model.transform(df).collect()
    by_score = sorted((r["score"], r["calibrated"]) for r in out)
    assert all(a[1] <= b[1] + 1e-12 for a, b in zip(by_score, by_score[1:]))
    assert math.isclose(sum(r["calibrated"] for r in out) / len(out),
                        sum(y for y, _ in rows) / len(rows))


def test_isotonic_perfectly_ordered_identity_rates(spark):
    from flink_ml__spark.functions.evaluation import IsotonicCalibrator

    rows = [(0, 0.1), (0, 0.2), (1, 0.8), (1, 0.9)]
    df = spark.createDataFrame(rows, "label int, score double")
    model = IsotonicCalibrator().fit(df)
    got = {r["score"]: r["calibrated"]
           for r in model.transform(df).collect()}
    assert got[0.1] == 0.0 and got[0.9] == 1.0


def test_isotonic_save_load_and_clamp(spark, tmp_path):
    from flink_ml__spark.functions.evaluation import (
        IsotonicCalibrator,
        IsotonicCalibratorModel,
    )

    rows = [(0, 0.2), (1, 0.8), (1, 0.6), (0, 0.4)]
    df = spark.createDataFrame(rows, "label int, score double")
    model = IsotonicCalibrator().fit(df)
    p = str(tmp_path / "iso")
    model.save(p)
    loaded = IsotonicCalibratorModel.load(spark, p)
    assert loaded.steps == model.steps
    # out-of-range scores clamp into the step map; NULL passes
    probe = spark.createDataFrame([(2.0,), (-1.0,), (None,)], ["score"])
    got = [r["calibrated"] for r in loaded.transform(probe).collect()]
    assert got[0] == model.steps[-1][1]
    assert got[1] == model.steps[0][1]
    assert got[2] is None


# ----------------------------------------------------------------- platt

def test_platt_recovers_known_sigmoid(spark):
    import math

    from flink_ml__spark.functions.evaluation import PlattCalibrator

    # labels drawn deterministically to match P(y=1) = sigmoid(4s - 2)
    rows = []
    for i in range(2000):
        s = (i % 100) / 99.0
        p = 1.0 / (1.0 + math.exp(-(4.0 * s - 2.0)))
        rows.append((1 if (i * 37 % 1000) < 1000 * p else 0, s))
    df = spark.createDataFrame(rows, "label int, score double")
    model = PlattCalibrator().fit(df)
    a, b = model.coefficients
    assert 3.0 < a < 5.0 and -2.6 < b < -1.4
    out = model.transform(df).collect()
    # calibrated probabilities track the true sigmoid closely
    err = [abs(r["calibrated"]
               - 1 / (1 + math.exp(-(4 * r["score"] - 2)))) for r in out]
    assert sum(err) / len(err) < 0.05


def test_platt_monotone_and_bounded(spark):
    from flink_ml__spark.functions.evaluation import PlattCalibrator

    rows = [(0, 0.1), (0, 0.3), (1, 0.6), (1, 0.9)] * 5
    df = spark.createDataFrame(rows, "label int, score double")
    out = PlattCalibrator().fit(df).transform(df).collect()
    assert all(0 < r["calibrated"] < 1 for r in out)
    pairs = sorted((r["score"], r["calibrated"]) for r in out)
    assert all(x[1] <= y[1] for x, y in zip(pairs, pairs[1:]))


def test_platt_save_load_and_null(spark, tmp_path):
    from flink_ml__spark.functions.evaluation import (
        PlattCalibrator,
        PlattCalibratorModel,
    )

    df = spark.createDataFrame([(0, 0.2), (1, 0.8)] * 3,
                               "label int, score double")
    model = PlattCalibrator().fit(df)
    p = str(tmp_path / "platt")
    model.save(p)
    loaded = PlattCalibratorModel.load(spark, p)
    assert loaded.coefficients == model.coefficients
    probe = spark.createDataFrame([(None,)], "score double")
    assert loaded.transform(probe).first()["calibrated"] is None


# ---------------------------------------------------------------------------
# SplitConformalRegressor
# ---------------------------------------------------------------------------

def test_conformal_exact_order_statistic(spark):
    from flink_ml__spark.functions.evaluation import SplitConformalRegressor
    cal = spark.createDataFrame(
        [(0.0, float(i)) for i in range(1, 11)],
        "prediction double, label double")
    # residuals 1..10; alpha=0.2 -> k = ceil(11*0.8) = 9 -> q = 9
    m = SplitConformalRegressor().setAlpha(0.2).fit(cal)
    q = m.getModelData().first()
    assert q["n_cal"] == 10 and q["q_hat"] == 9.0
    # alpha=0.5 -> k = ceil(5.5) = 6 -> q = 6
    m = SplitConformalRegressor().setAlpha(0.5).fit(cal)
    assert m.getModelData().first()["q_hat"] == 6.0
    # apply appends symmetric bounds
    test = spark.createDataFrame([(100.0,)], "prediction double")
    r = m.transform(test).first()
    assert r["ci_lo"] == 94.0 and r["ci_hi"] == 106.0


def test_conformal_tiny_group_and_grouped_coverage(spark):
    import pytest as _pt
    from flink_ml__spark.functions.evaluation import SplitConformalRegressor
    # group g has 20 calib rows (residuals 1..20), group h only 2:
    # k(h) = ceil(3*0.9) = 3 > 2 -> q NULL (infinite interval)
    cal = spark.createDataFrame(
        [("g", 0.0, float(i)) for i in range(1, 21)] +
        [("h", 0.0, 1.0), ("h", 0.0, 2.0)],
        "grp string, prediction double, label double")
    m = (SplitConformalRegressor().setGroupCols("grp").setAlpha(0.1)
         .fit(cal))
    q = {r["grp"]: r for r in m.getModelData().collect()}
    # k(g) = ceil(21*0.9) = 19 -> q = 19
    assert q["g"]["q_hat"] == 19.0
    assert q["h"]["q_hat"] is None
    # coverage on a test slice of g: residuals 1..20 vs q=19 -> 19/20
    test = spark.createDataFrame(
        [("g", 0.0, float(i)) for i in range(1, 21)],
        "grp string, prediction double, label double")
    ev = {r["grp"]: r for r in m.evaluate(test, "label").collect()}
    assert ev["g"]["n_test"] == 20
    assert abs(ev["g"]["coverage"] - 0.95) < 1e-12
    assert ev["g"]["avg_width"] == 38.0
    with _pt.raises(ValueError, match="alpha"):
        SplitConformalRegressor().setAlpha(1.0)


def test_conformal_model_save_load(spark, tmp_path):
    from flink_ml__spark.functions.evaluation import (
        SplitConformalModel,
        SplitConformalRegressor,
    )
    cal = spark.createDataFrame(
        [("g", 0.0, float(i)) for i in range(1, 21)] +
        [("h", 0.0, 1.0), ("h", 0.0, 2.0)],
        "grp string, prediction double, label double")
    m = (SplitConformalRegressor().setGroupCols("grp").setAlpha(0.1)
         .fit(cal))
    p = str(tmp_path / "conformal")
    m.save(p)
    back = SplitConformalModel.load(spark, p)
    assert (sorted(back.transform(cal).collect())
            == sorted(m.transform(cal).collect()))


# ---------------------------------------------------------------------------
# UpliftEvaluator
# ---------------------------------------------------------------------------

def test_uplift_qini_golden(spark):
    import pytest as _pt
    from flink_ml__spark.functions.evaluation import UpliftEvaluator
    rows = []
    # top-score bucket: treated 3/4 respond vs control 1/4
    for y in (1, 1, 1, 0):
        rows.append(("t", 1.0, float(y)))
    for y in (0, 1, 0, 0):
        rows.append(("c", 1.0, float(y)))
    # bottom bucket: treatment HURTS (1/4 vs 2/4)
    for y in (0, 0, 1, 0):
        rows.append(("t", 0.0, float(y)))
    for y in (0, 1, 0, 1):
        rows.append(("c", 0.0, float(y)))
    df = spark.createDataFrame(rows,
                               "variant string, score double, outcome double")
    out = {r["bucket_rank"]: r for r in
           (UpliftEvaluator().setLabels("t", "c").setNumBins(2)
            .evaluate(df).collect())}
    top, bot = out[1], out[2]
    assert top["n_t"] == 4 and top["n_c"] == 4
    assert abs(top["uplift"] - 0.5) < 1e-12
    assert abs(top["qini_cum"] - 2.0) < 1e-12
    assert abs(bot["uplift"] + 0.25) < 1e-12
    assert abs(bot["qini_cum"] - 1.0) < 1e-12
    with _pt.raises(ValueError, match="differ"):
        UpliftEvaluator().setLabels("a", "a")
    with _pt.raises(ValueError, match="numBins"):
        UpliftEvaluator().setNumBins(1)


def test_uplift_ties_share_bucket_and_empty_side(spark):
    from flink_ml__spark.functions.evaluation import UpliftEvaluator
    # all scores identical -> ONE bucket; control side empty -> NULLs
    df = spark.createDataFrame(
        [("t", 0.5, 1.0), ("t", 0.5, 0.0)],
        "variant string, score double, outcome double")
    rows = (UpliftEvaluator().setLabels("t", "c").setNumBins(4)
            .evaluate(df).collect())
    assert len(rows) == 1
    r = rows[0]
    assert r["n_t"] == 2 and r["n_c"] == 0
    assert r["rate_c"] is None and r["uplift"] is None
    assert r["qini_cum"] is None
