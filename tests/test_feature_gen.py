"""Tests for the featureGeneration counterparts (FIXTURES.md §7)."""

import math

from flink_ml__spark.functions import (
    AutoFeatureTransformer,
    MeanImputer,
    MeanImputerModel,
    StandardScaler,
    StandardScalerModel,
    TimeFeatureExtractor,
)

ROWS = [
    ("2023-01-15", 1.0, 0),
    ("2023-06-30", None, 1),
    ("garbage", 3.0, 2),
    (None, 5.0, 1),
    ("2023-12-09", None, 0),
]
COLS = ["date", "value", "feature"]


def test_time_feature_extractor(spark):
    df = spark.createDataFrame(ROWS, COLS)
    out = TimeFeatureExtractor().setInputCol("date").transform(df)
    assert out.columns == ["year", "month", "day"]
    got = out.collect()
    assert (got[0]["year"], got[0]["month"], got[0]["day"]) == (2023, "01", "15")
    assert (got[1]["year"], got[1]["month"], got[1]["day"]) == (2023, "06", "30")
    # garbage and null both → (null, null, null)  (TimeFeatureExtractor2.java:74-85)
    assert got[2]["year"] is None and got[2]["month"] is None
    assert got[3]["year"] is None
    assert (got[4]["year"], got[4]["month"], got[4]["day"]) == (2023, "12", "09")


def test_time_feature_extractor_custom_outputs(spark):
    df = spark.createDataFrame(ROWS, COLS)
    out = (TimeFeatureExtractor().setInputCol("date")
           .setOutputCols("y", "m", "d").transform(df))
    assert out.columns == ["y", "m", "d"]


def test_mean_imputer(spark):
    df = spark.createDataFrame(ROWS, COLS)
    model = MeanImputer().setInputCol("value").fit(df)
    assert math.isclose(model.meanValue, 3.0)  # mean of 1, 3, 5
    out = model.transform(df)
    # reference quirk: single output column only (MeanImputerModel.java:37-43)
    assert out.columns == ["imputed_value"]
    vals = [r["imputed_value"] for r in out.collect()]
    assert vals == [1.0, 3.0, 3.0, 5.0, 3.0]


def test_mean_imputer_all_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "value double")
    model = MeanImputer().setInputCol("value").fit(df)
    assert model.meanValue == 0.0  # MeanImputer.java:58


def test_mean_imputer_save_load(spark, tmp_path):
    df = spark.createDataFrame(ROWS, COLS)
    model = MeanImputer().setInputCol("value").setOutputCol("v2").fit(df)
    path = str(tmp_path / "imputer")
    model.save(path)
    loaded = MeanImputerModel.load(spark, path)
    assert loaded.meanValue == 3.0
    assert loaded.getOutputCol() == "v2"
    assert [r["v2"] for r in loaded.transform(df).collect()] == [1.0, 3.0, 3.0, 5.0, 3.0]


def test_standard_scaler(spark):
    df = spark.createDataFrame([(2.0,), (4.0,), (6.0,)], "x double")
    model = StandardScaler().setInputCol("x").fit(df)
    out = [r["scaled_value"] for r in model.transform(df).collect()]
    assert math.isclose(out[0], -1.0) and math.isclose(out[1], 0.0)
    # reference-compat passthrough stub (StandardScalerModel.java:62-64)
    model._set(passthrough=True)
    out = [r["scaled_value"] for r in model.transform(df).collect()]
    assert out == [2.0, 4.0, 6.0]


def test_standard_scaler_save_load(spark, tmp_path):
    df = spark.createDataFrame([(2.0,), (4.0,), (None,), (7.0,)], "x double")
    model = StandardScaler().setInputCol("x").setOutputCol("z").fit(df)
    p = str(tmp_path / "scaler")
    model.save(p)
    loaded = StandardScalerModel.load(spark, p)
    assert loaded.getOutputCol() == "z"
    assert loaded.transform(df).collect() == model.transform(df).collect()


def test_auto_feature_transformer(spark):
    df = spark.createDataFrame(ROWS, COLS)
    out = AutoFeatureTransformer().transform(df)
    cols = set(out.columns)
    assert {"date_year", "date_month", "date_day", "value_imputed",
            "feature_onehot"} <= cols
    rows = out.collect()
    by_date = {r["date"]: r for r in rows}
    assert by_date["2023-01-15"]["date_year"] == 2023
    assert by_date["garbage"]["date_year"] is None
    # real null-imputation, not the reference's 0.0 sentinel
    assert by_date["2023-06-30"]["value_imputed"] == 3.0
    assert by_date["2023-01-15"]["value_imputed"] == 1.0
    assert by_date["2023-01-15"]["feature_onehot"].toArray().tolist() == [1.0, 0.0, 0.0]


def test_winsorizer_goldens_and_save_load(spark, tmp_path):
    import pytest

    from flink_ml__spark.functions.feature_gen import (
        Winsorizer,
        WinsorizerModel,
    )

    vals = [float(v) for v in range(1, 11)] + [1000.0, -500.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    model = (Winsorizer().setInputCol("x").setLowerPct(0.1)
             .setUpperPct(0.9).fit(df))
    # numpy's linear interpolation is the same definition Spark uses
    import numpy as np
    lo, hi = np.percentile(vals, [10, 90])
    assert model._lo == pytest.approx(lo)
    assert model._hi == pytest.approx(hi)
    out = {r["x"]: r["winsorized"] for r in model.transform(df).collect()}
    assert out[1000.0] == pytest.approx(hi)
    assert out[-500.0] == pytest.approx(lo)
    assert out[5.0] == 5.0
    # NULL passes through; bad percentile bounds rejected
    nd = spark.createDataFrame([(None,)], "x double")
    assert model.transform(nd).first()["winsorized"] is None
    with pytest.raises(ValueError):
        Winsorizer().setInputCol("x").setLowerPct(0.9).setUpperPct(0.1) \
            .fit(df)
    p = str(tmp_path / "winsor")
    model.save(p)
    loaded = WinsorizerModel.load(spark, p)
    assert loaded._lo == model._lo and loaded._hi == model._hi


def test_auto_features_handle_invalid_keep(spark):
    import pytest

    from flink_ml__spark.functions.feature_gen import AutoFeatureTransformer

    df = spark.createDataFrame([(1,), (2,), (None,)], "cat int")
    # default 'error' crashes on NULL (reference behavior)
    with pytest.raises(Exception):
        AutoFeatureTransformer().transform(df).collect()
    out = (AutoFeatureTransformer().setHandleInvalid("keep")
           .transform(df).collect())
    assert len(out) == 3
    with pytest.raises(ValueError):
        AutoFeatureTransformer().setHandleInvalid("skip")


def test_json_column_parser_typed_fields_and_nulls(spark):
    from flink_ml__spark.functions.feature_gen import JsonColumnParser

    df = spark.createDataFrame(
        [(1, '{"k": 7, "tag": "x"}'),
         (2, '{"k": null}'),
         (3, 'not json'),
         (4, None)],
        "id long, props string")
    op = (JsonColumnParser().setInputCol("props")
          .setSchema("k INT, tag STRING").setPrefix("p_"))
    got = {r["id"]: (r["p_k"], r["p_tag"])
           for r in op.transform(df).collect()}
    assert got == {1: (7, "x"), 2: (None, None),
                   3: (None, None), 4: (None, None)}
    # original columns untouched, extracted columns appended in order
    assert op.transform(df).columns == ["id", "props", "p_k", "p_tag"]


def test_winsorizer_approx_percentile_path(spark):
    """relativeError > 0 switches the fit to approx_percentile; at a
    scale the sketch resolves exactly the cut points match the exact
    fit to within one order statistic."""
    from flink_ml__spark.functions.feature_gen import Winsorizer

    vals = [float(v) for v in range(1000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    exact = (Winsorizer().setInputCol("x").setLowerPct(0.05)
             .setUpperPct(0.95).fit(df))
    approx = (Winsorizer().setInputCol("x").setLowerPct(0.05)
              .setUpperPct(0.95).setRelativeError(0.001).fit(df))
    # GK sketch guarantees rank error <= rel*n = 1 row; exact uses
    # linear interpolation so allow one inter-value step of slack
    assert abs(approx._lo - exact._lo) <= 1.0
    assert abs(approx._hi - exact._hi) <= 1.0


def test_mad_outlier_detector(spark):
    import math

    from flink_ml__spark.functions.feature_gen import (
        MadOutlierDetector,
        MadOutlierModel,
    )

    # 1..9 plus a wild outlier; interpolated median 5.5,
    # MAD = median(|x-5.5|) over [4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,
    # 94.5] = 2.5
    vals = [float(i) for i in range(1, 10)] + [100.0, None]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    model = MadOutlierDetector().setInputCol("v").fit(df)
    got = {r["v"]: (r["robust_z"], r["robust_z_outlier"])
           for r in model.transform(df).collect()}
    scale = 1.4826 * 2.5
    assert math.isclose(got[100.0][0], 94.5 / scale)
    assert got[100.0][1] is True
    assert math.isclose(got[5.0][0], -0.5 / scale)
    assert got[5.0][1] is False
    assert got[None] == (None, None)
    # mean/std z would NOT flag this outlier at 3.5 (it inflates std);
    # the robust z does — the point of the operator
    import statistics
    clean = [v for v in vals if v is not None]
    classic_z = (100 - statistics.mean(clean)) / statistics.stdev(clean)
    assert abs(classic_z) < 3.5 < abs(got[100.0][0])


def test_mad_outlier_zero_mad_flags_non_median(spark, tmp_path):
    from flink_ml__spark.functions.feature_gen import (
        MadOutlierDetector,
        MadOutlierModel,
    )

    df = spark.createDataFrame(
        [(1.0,)] * 9 + [(7.0,)], ["v"])
    model = MadOutlierDetector().setInputCol("v").fit(df)
    got = {r["v"]: (r["robust_z"], r["robust_z_outlier"])
           for r in model.transform(df).collect()}
    assert got[1.0] == (None, False)
    assert got[7.0] == (None, True)
    p = str(tmp_path / "mad")
    model.save(p)
    loaded = MadOutlierModel.load(spark, p)
    got2 = {r["v"]: (r["robust_z"], r["robust_z_outlier"])
            for r in loaded.transform(df).collect()}
    assert got == got2


def test_feature_assembler_modes(spark):
    import pytest as _pytest

    from flink_ml__spark.functions.feature_gen import FeatureAssembler

    df = spark.createDataFrame([(1.0, 2.0), (3.0, None)], ["a", "b"])
    keep = (FeatureAssembler().setInputCols("a", "b")
            .setHandleInvalid("keep").transform(df).collect())
    assert list(keep[0]["features"]) == [1.0, 2.0]
    assert keep[1]["features"][1] is None
    skip = (FeatureAssembler().setInputCols("a", "b")
            .setHandleInvalid("skip").transform(df).collect())
    assert skip[1]["features"] is None
    err = FeatureAssembler().setInputCols("a", "b").transform(df)
    with _pytest.raises(Exception, match="FeatureAssembler"):
        err.collect()


def test_feature_assembler_feeds_kmeans(spark):
    from flink_ml__spark.functions.feature_gen import FeatureAssembler
    from flink_ml__spark.operators import KMeans

    rows = [(float(i % 2 * 10), float(i % 2 * 10)) for i in range(20)]
    df = spark.createDataFrame(rows, ["x", "y"])
    feat = FeatureAssembler().setInputCols("x", "y").transform(df)
    model = KMeans().setK(2).setFeaturesCol("features").setSeed(1).fit(feat)
    assert model.wssse(feat) < 1e-9


def test_grouped_standard_scaler(spark, tmp_path):
    import math

    from flink_ml__spark.functions.feature_gen import (
        GroupedStandardScaler,
        GroupedStandardScalerModel,
    )

    rows = [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 30.0),
            ("c", 5.0), (None, 7.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    model = (GroupedStandardScaler().setInputCol("v").setGroupCol("g")
             .fit(df))
    got = {(r["g"], r["v"]): r["scaled_value"]
           for r in model.transform(df).collect()}
    sa = math.sqrt(2)  # stddev_samp of (1,3)
    assert math.isclose(got[("a", 1.0)], (1 - 2) / sa)
    assert math.isclose(got[("b", 30.0)], (30 - 20) / (10 * sa))
    # single-valued group: centered, divide by 1
    assert got[("c", 5.0)] == 0.0
    # NULL group has its own moments (eqNullSafe join)
    assert got[(None, 7.0)] == 0.0
    assert got[("a", None)] is None
    p = str(tmp_path / "gss")
    model.save(p)
    loaded = GroupedStandardScalerModel.load(spark, p)
    got2 = {(r["g"], r["v"]): r["scaled_value"]
            for r in loaded.transform(df).collect()}
    assert got == got2
    # unseen group → NULL
    new = spark.createDataFrame([("zz", 5.0)], "g string, v double")
    assert loaded.transform(new).first()["scaled_value"] is None


def test_quantile_matcher_aligns_shifted_distribution(spark):
    import math

    from flink_ml__spark.functions import QuantileMatcher

    # reference uniform on [0, 100]; current = reference * 3 + 500
    ref = spark.createDataFrame([(float(i),) for i in range(101)], ["v"])
    cur = spark.createDataFrame([(float(i) * 3 + 500,)
                                 for i in range(101)], ["v"])
    model = QuantileMatcher().setInputCol("v").setNumBuckets(4).fit(ref)
    out = {r["v"]: r["matched"] for r in model.transform(cur).collect()}
    # affine shifts are undone exactly by piecewise-linear matching
    for i in range(101):
        assert math.isclose(out[i * 3 + 500], float(i), abs_tol=1e-6)


def test_quantile_matcher_identity_on_same_distribution(spark):
    import math

    from flink_ml__spark.functions import QuantileMatcher

    df = spark.createDataFrame([(float(i % 37),) for i in range(300)],
                               ["v"])
    model = QuantileMatcher().setInputCol("v").setNumBuckets(8).fit(df)
    out = model.transform(df).collect()
    for r in out:
        assert math.isclose(r["matched"], r["v"], abs_tol=1e-6)


def test_quantile_matcher_clamp_null_save_load(spark, tmp_path):
    from flink_ml__spark.functions import (
        QuantileMatcher,
        QuantileMatcherModel,
    )

    ref = spark.createDataFrame([(float(i),) for i in range(11)], ["v"])
    model = QuantileMatcher().setInputCol("v").setNumBuckets(2).fit(ref)
    # probe spans the same distribution plus a NULL — the NULL must
    # pass through and not poison the probe-side grid
    probe = spark.createDataFrame(
        [(float(i),) for i in range(11)] + [(None,)], ["v"])
    got = {r["v"]: r["matched"] for r in model.transform(probe).collect()}
    assert got[5.0] == 5.0 and got[None] is None
    p = str(tmp_path / "qm")
    model.save(p)
    loaded = QuantileMatcherModel.load(spark, p)
    assert loaded.reference_grid == model.reference_grid


# ---------------------------------------------------------------------------
# RankGaussTransformer
# ---------------------------------------------------------------------------

def test_rank_gauss_normalizes_and_is_monotone(spark):
    import pytest as _pt
    from flink_ml__spark.functions.feature_gen import RankGaussTransformer
    # heavy-tailed input: exp-spaced values
    df = spark.createDataFrame(
        [(i, float(2 ** (i % 16))) for i in range(256)],
        "id long, value double")
    m = RankGaussTransformer().setNumBuckets(16).fit(df)
    out = m.transform(df).collect()
    by_val = {}
    for r in out:
        by_val.setdefault(r["value"], set()).add(r["value_gauss"])
    # identical values always map to identical scores
    assert all(len(s) == 1 for s in by_val.values())
    # the map is monotone in the input
    vals = sorted(by_val)
    zs = [next(iter(by_val[v])) for v in vals]
    assert zs == sorted(zs)
    # 16 equal-mass buckets -> scores are the 16 midpoint normals,
    # symmetric around 0
    uniq = sorted({z for s in by_val.values() for z in s})
    assert len(uniq) == 16
    assert abs(sum(uniq)) < 1e-9
    from flink_ml__spark.functions.stats import _norm_ppf
    assert abs(uniq[0] - _norm_ppf(0.5 / 16)) < 1e-12
    assert abs(uniq[-1] - _norm_ppf(15.5 / 16)) < 1e-12
    # nulls pass through as nulls
    nul = spark.createDataFrame([(1, None)], "id long, value double")
    assert m.transform(nul).first()["value_gauss"] is None
    with _pt.raises(ValueError, match="numBuckets"):
        RankGaussTransformer().setNumBuckets(1)


def test_rank_gauss_approx_edges_scale_path(spark):
    """relativeError > 0 fits via the bounded-memory approx_percentile
    sketch (the 100 TB path). Unlike exact percentile it returns
    actual data values (no interpolation), so edges differ from the
    exact fit's — pin the sketch path's own contract: k-1 sorted
    edges drawn from the data, identical z table, and a transform
    that is still monotone with ties sharing a bucket. The exact path
    (relativeError 0) stays the default (it's what the oracle gate
    pins)."""
    import pytest as _pt
    from flink_ml__spark.functions.feature_gen import RankGaussTransformer

    data = [(i, float(2 ** (i % 16))) for i in range(256)]
    df = spark.createDataFrame(data, "id long, value double")
    exact = RankGaussTransformer().setNumBuckets(16).fit(df)
    approx = (RankGaussTransformer().setNumBuckets(16)
              .setRelativeError(1e-4).fit(df))
    assert approx.z_scores == exact.z_scores
    assert len(approx.edges) == 15
    assert approx.edges == sorted(approx.edges)
    vals = {v for _, v in data}
    assert all(e in vals for e in approx.edges)
    by_val = {}
    for r in approx.transform(df).collect():
        by_val.setdefault(r["value"], set()).add(r["value_gauss"])
    assert all(len(s) == 1 for s in by_val.values())
    zs = [next(iter(by_val[v])) for v in sorted(by_val)]
    assert zs == sorted(zs)
    zero = (RankGaussTransformer().setNumBuckets(16)
            .setRelativeError(0.0).fit(df))
    assert zero.edges == exact.edges
    with _pt.raises(ValueError, match="relativeError"):
        RankGaussTransformer().setRelativeError(1.0)
    with _pt.raises(ValueError, match="relativeError"):
        RankGaussTransformer().setRelativeError(-0.1)


def test_rank_gauss_save_load_roundtrip(spark, tmp_path):
    from flink_ml__spark.functions.feature_gen import (
        RankGaussModel,
        RankGaussTransformer,
    )
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(64)], "id long, value double")
    m = RankGaussTransformer().setNumBuckets(8).fit(df)
    p = str(tmp_path / "rg")
    m.save(p)
    m2 = RankGaussModel.load(spark, p)
    a = [r["value_gauss"] for r in m.transform(df).collect()]
    b = [r["value_gauss"] for r in m2.transform(df).collect()]
    assert a == b
