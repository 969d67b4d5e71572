"""Tests for the scaler family and the categorical encoders."""

import math

import pytest

from flink_ml__spark.functions import (
    MaxAbsScaler,
    MaxAbsScalerModel,
    MinMaxScaler,
    MinMaxScalerModel,
    QuantileDiscretizer,
    QuantileDiscretizerModel,
    RobustScaler,
    RobustScalerModel,
    StringIndexer,
    StringIndexerModel,
    TargetEncoder,
    TargetEncoderModel,
)

ROWS = [
    ("a", 10.0), ("a", 20.0), ("a", None), ("b", 40.0),
    ("b", 60.0), ("c", 100.0), (None, 7.0),
]
COLS = ["cat", "value"]


# ---------------------------------------------------------------- scalers

def test_min_max_scaler(spark):
    df = spark.createDataFrame(ROWS, COLS)
    model = MinMaxScaler().setInputCol("value").fit(df)
    got = {r["cat"]: r["scaled_value"] for r in model.transform(df).collect()}
    # fit range [7, 100]
    assert math.isclose(got["c"], 1.0)
    assert math.isclose(got[None], 0.0)
    # NULL passes through
    assert [r["scaled_value"] for r in model.transform(df).collect()
            if r["value"] is None] == [None]


def test_min_max_scaler_custom_range_and_save_load(spark, tmp_path):
    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], ["value"])
    model = (MinMaxScaler().setInputCol("value").fit(df)
             .setFeatureMin(-1.0).setFeatureMax(1.0))
    vals = [r["scaled_value"] for r in model.transform(df).collect()]
    assert vals == [-1.0, 0.0, 1.0]
    p = str(tmp_path / "mm")
    model.save(p)
    loaded = MinMaxScalerModel.load(spark, p)
    vals2 = [r["scaled_value"] for r in loaded.transform(df).collect()]
    assert vals == vals2


def test_min_max_scaler_constant_column_midpoint(spark):
    df = spark.createDataFrame([(3.0,), (3.0,)], ["value"])
    model = MinMaxScaler().setInputCol("value").fit(df)
    assert [r["scaled_value"] for r in model.transform(df).collect()] \
        == [0.5, 0.5]


def test_max_abs_scaler(spark):
    df = spark.createDataFrame([(-4.0,), (2.0,), (0.0,), (None,)],
                               ["value"])
    model = MaxAbsScaler().setInputCol("value").fit(df)
    vals = [r["scaled_value"] for r in model.transform(df).collect()]
    assert vals == [-1.0, 0.5, 0.0, None]


def test_max_abs_scaler_save_load(spark, tmp_path):
    df = spark.createDataFrame([(-4.0,), (2.0,), (0.0,), (None,)],
                               ["value"])
    model = MaxAbsScaler().setInputCol("value").fit(df)
    p = str(tmp_path / "maxabs")
    model.save(p)
    loaded = MaxAbsScalerModel.load(spark, p)
    assert loaded.transform(df).collect() == model.transform(df).collect()


def test_max_abs_scaler_all_zero_identity(spark):
    df = spark.createDataFrame([(0.0,), (0.0,)], ["value"])
    model = MaxAbsScaler().setInputCol("value").fit(df)
    assert [r["scaled_value"] for r in model.transform(df).collect()] \
        == [0.0, 0.0]


def test_robust_scaler(spark):
    # values 1..9: median 5, q1 3, q3 7 (exact interpolated)
    df = spark.createDataFrame([(float(i),) for i in range(1, 10)],
                               ["value"])
    model = RobustScaler().setInputCol("value").fit(df)
    got = sorted(r["scaled_value"] for r in model.transform(df).collect())
    assert math.isclose(got[0], (1 - 5) / 4)
    assert math.isclose(got[4], 0.0)
    assert math.isclose(got[-1], 1.0)


def test_robust_scaler_save_load(spark, tmp_path):
    df = spark.createDataFrame([(float(i),) for i in range(1, 10)],
                               ["value"])
    model = (RobustScaler().setInputCol("value").fit(df)
             .setWithCentering(False))
    p = str(tmp_path / "robust")
    model.save(p)
    loaded = RobustScalerModel.load(spark, p)
    assert not loaded.getOrDefault(loaded.withCentering)
    assert loaded.transform(df).collect() == model.transform(df).collect()


def test_robust_scaler_toggles_and_approx(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 10)],
                               ["value"])
    m = (RobustScaler().setInputCol("value").fit(df)
         .setWithScaling(False))
    got = sorted(r["scaled_value"] for r in m.transform(df).collect())
    assert math.isclose(got[0], -4.0)  # centered only
    # approx path agrees on this tiny input
    ma = (RobustScaler().setInputCol("value").setRelativeError(0.001)
          .fit(df))
    exact = RobustScaler().setInputCol("value").fit(df)
    for a, b in zip(sorted(r["scaled_value"] for r in
                           ma.transform(df).collect()),
                    sorted(r["scaled_value"] for r in
                           exact.transform(df).collect())):
        assert math.isclose(a, b, abs_tol=0.15)


def test_quantile_discretizer(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)],
                               ["value"])
    model = QuantileDiscretizer().setInputCol("value").setNumBuckets(4) \
        .fit(df)
    out = model.transform(df)
    counts = {r["bucket"]: r["count"]
              for r in out.groupBy("bucket").count().collect()}
    # equal-frequency: 4 buckets of ~25 each
    assert set(counts) == {0, 1, 2, 3}
    assert all(20 <= c <= 30 for c in counts.values())


def test_quantile_discretizer_ties_collapse_and_save_load(spark, tmp_path):
    # heavy ties: one dominant value → duplicate edges collapse
    df = spark.createDataFrame([(1.0,)] * 95 + [(9.0,)] * 5, ["value"])
    model = (QuantileDiscretizer().setInputCol("value").setNumBuckets(4)
             .fit(df))
    assert len(model.edges) < 3
    buckets = {r["bucket"] for r in model.transform(df).collect()}
    assert len(buckets) <= len(model.edges) + 1
    p = str(tmp_path / "qd")
    model.save(p)
    loaded = QuantileDiscretizerModel.load(spark, p)
    assert loaded.edges == model.edges


def test_quantile_discretizer_null_passthrough(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (None,)], ["value"])
    model = QuantileDiscretizer().setInputCol("value").setNumBuckets(2) \
        .fit(df)
    rows = model.transform(df).collect()
    assert [r["bucket"] for r in rows if r["value"] is None] == [None]


# --------------------------------------------------------------- encoders

def test_string_indexer_frequency_order(spark):
    df = spark.createDataFrame(ROWS, COLS)
    model = StringIndexer().setInputCol("cat").fit(df)
    # a:3, b:2, c:1 → indexes 0,1,2
    assert model.labels() == ["a", "b", "c"]
    got = {r["cat"]: r["label_index"]
           for r in model.transform(df).collect()}
    assert (got["a"], got["b"], got["c"]) == (0, 1, 2)
    # NULL → vocab-size bucket under 'keep' (the default)
    assert got[None] == 3


def test_string_indexer_tie_break_alphabetical(spark):
    df = spark.createDataFrame([("z",), ("z",), ("a",), ("a",)], ["cat"])
    model = StringIndexer().setInputCol("cat").fit(df)
    assert model.labels() == ["a", "z"]


def test_string_indexer_null_mode_and_unseen(spark):
    df = spark.createDataFrame(ROWS, COLS)
    model = (StringIndexer().setInputCol("cat").setHandleInvalid("null")
             .fit(df))
    new = spark.createDataFrame([("a",), ("zz",), (None,)], ["cat"])
    got = [r["label_index"] for r in model.transform(new).collect()]
    assert got == [0, None, None]


def test_string_indexer_save_load(spark, tmp_path):
    df = spark.createDataFrame(ROWS, COLS)
    model = StringIndexer().setInputCol("cat").fit(df)
    p = str(tmp_path / "si")
    model.save(p)
    loaded = StringIndexerModel.load(spark, p)
    assert loaded.labels() == model.labels()


def test_target_encoder_shrinkage(spark):
    df = spark.createDataFrame(ROWS, COLS)
    model = (TargetEncoder().setInputCol("cat").setTargetCol("value")
             .setSmoothing(2.0).fit(df))
    # fitted rows: a:(10,20) b:(40,60) c:(100,) null-cat excluded
    prior = (10 + 20 + 40 + 60 + 100) / 5
    assert math.isclose(model.prior, prior)
    got = {r["cat"]: r["target_enc"]
           for r in model.transform(df).collect()}
    assert math.isclose(got["a"], (30 + 2 * prior) / 4)
    assert math.isclose(got["b"], (100 + 2 * prior) / 4)
    assert math.isclose(got["c"], (100 + 2 * prior) / 3)
    # NULL category → prior fallback
    assert math.isclose(got[None], prior)


def test_target_encoder_unseen_and_save_load(spark, tmp_path):
    df = spark.createDataFrame(ROWS, COLS)
    model = (TargetEncoder().setInputCol("cat").setTargetCol("value")
             .fit(df))
    new = spark.createDataFrame([("unseen",)], ["cat"])
    got = model.transform(new).first()["target_enc"]
    assert math.isclose(got, model.prior)
    p = str(tmp_path / "te")
    model.save(p)
    loaded = TargetEncoderModel.load(spark, p)
    assert math.isclose(loaded.prior, model.prior)
    a = {r["cat"]: r["target_enc"] for r in model.transform(df).collect()}
    b = {r["cat"]: r["target_enc"] for r in loaded.transform(df).collect()}
    assert a == b


def test_target_encoder_zero_smoothing_is_raw_mean(spark):
    df = spark.createDataFrame(ROWS, COLS)
    model = (TargetEncoder().setInputCol("cat").setTargetCol("value")
             .setSmoothing(0.0).fit(df))
    got = {r["cat"]: r["target_enc"]
           for r in model.transform(df).collect()}
    assert math.isclose(got["a"], 15.0)
    assert math.isclose(got["b"], 50.0)


def test_bad_params_raise(spark):
    with pytest.raises(ValueError):
        QuantileDiscretizer().setNumBuckets(1)
    with pytest.raises(ValueError):
        TargetEncoder().setSmoothing(-1)
    with pytest.raises(ValueError):
        StringIndexer().setHandleInvalid("bogus")


# ----------------------------------------------- composition / streaming

def test_feature_pipeline_composition_and_save_load(spark, tmp_path):
    """StringIndexer → TargetEncoder → MinMaxScaler as one Pipeline:
    fit once, transform anywhere, survive save/load."""
    from flink_ml__spark.functions import (
        MinMaxScaler,
        StringIndexer,
        TargetEncoder,
    )
    from flink_ml__spark.pipeline import Pipeline, PipelineModel

    df = spark.createDataFrame(ROWS, COLS).filter("value IS NOT NULL")
    pipe = Pipeline([
        StringIndexer().setInputCol("cat").setOutputCol("cat_idx"),
        TargetEncoder().setInputCol("cat").setTargetCol("value")
        .setOutputCol("cat_enc"),
        MinMaxScaler().setInputCol("value").setOutputCol("value_01"),
    ])
    model = pipe.fit(df)
    out = model.transform(df)
    assert {"cat_idx", "cat_enc", "value_01"} <= set(out.columns)
    a = sorted(map(tuple, out.collect()), key=repr)
    p = str(tmp_path / "featpipe")
    model.save(p)
    loaded = PipelineModel.load(spark, p)
    b = sorted(map(tuple, loaded.transform(df).collect()), key=repr)
    assert a == b


def test_scaler_and_encoder_models_apply_on_streams(spark, tmp_path):
    """Fitted scaler/indexer/encoder models are map-only or
    stream-static broadcast joins — they must run unchanged on an
    unbounded stream and agree with the batch apply row-for-row."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions import (
        MinMaxScaler,
        StringIndexer,
        TargetEncoder,
    )

    df = spark.createDataFrame(ROWS, COLS)
    mm = MinMaxScaler().setInputCol("value").setOutputCol("v01").fit(df)
    si = StringIndexer().setInputCol("cat").setOutputCol("idx").fit(df)
    te = (TargetEncoder().setInputCol("cat").setTargetCol("value")
          .setOutputCol("enc").fit(df))

    def chain(frame):
        return te.transform(si.transform(mm.transform(frame)))

    batch = sorted(
        ((r["cat"], r["value"], r["v01"], r["idx"], round(r["enc"], 9))
         for r in chain(df).collect()), key=repr)

    d = _tf.mkdtemp(prefix="enc_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = chain(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("encstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(
            ((r["cat"], r["value"], r["v01"], r["idx"], round(r["enc"], 9))
             for r in spark.sql("SELECT * FROM encstream").collect()),
            key=repr)
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ hashing trick

def test_feature_hasher_deterministic_and_bounded(spark):
    from flink_ml__spark.functions import FeatureHasher

    df = spark.createDataFrame(ROWS, COLS)
    fh = FeatureHasher().setInputCols("cat").setNumFeatures(16)
    a = [r["cat_hash"] for r in fh.transform(df).collect()]
    b = [r["cat_hash"] for r in fh.transform(df.repartition(5))
         .orderBy("value").collect()]
    assert all(h is None or 0 <= h < 16 for h in a)
    # same value → same bucket, independent of layout
    got = {r["cat"]: r["cat_hash"] for r in fh.transform(df).collect()}
    assert got["a"] is not None and got[None] is None
    assert sorted(x for x in a if x is not None) == \
        sorted(x for x in b if x is not None)


def test_feature_hasher_salted_per_column(spark):
    from flink_ml__spark.functions import FeatureHasher

    # same VALUE in two different columns should not collide by
    # construction (column-salted hash)
    df = spark.createDataFrame([("k", "k")], ["c1", "c2"])
    fh = FeatureHasher().setInputCols("c1", "c2").setNumFeatures(1 << 18)
    r = fh.transform(df).first()
    assert r["c1_hash"] != r["c2_hash"]


def test_feature_hasher_matches_md5_recipe(spark):
    import hashlib

    from flink_ml__spark.functions import FeatureHasher

    df = spark.createDataFrame([("hello",)], ["cat"])
    r = (FeatureHasher().setInputCols("cat").setNumFeatures(1000)
         .transform(df).first())
    want = int(hashlib.md5(b"fh:cat:hello").hexdigest()[:15], 16) % 1000
    assert r["cat_hash"] == want


def test_feature_hasher_bad_params(spark):
    with pytest.raises(ValueError):
        from flink_ml__spark.functions import FeatureHasher

        FeatureHasher().setNumFeatures(1)


# -------------------------------------------------------- rare collapse

def test_rare_collapser_min_count(spark):
    from flink_ml__spark.functions import (
        RareCategoryCollapser,
        RareCategoryCollapserModel,
    )

    df = spark.createDataFrame(ROWS, COLS)
    model = RareCategoryCollapser().setInputCol("cat").setMinCount(2) \
        .fit(df)
    assert model.kept_labels() == ["a", "b"]
    got = {r["cat"]: r["collapsed"]
           for r in model.transform(df).collect()}
    assert got["a"] == "a" and got["b"] == "b"
    assert got["c"] == "__other__"
    assert got[None] is None


def test_rare_collapser_min_fraction_and_unseen(spark, tmp_path):
    from flink_ml__spark.functions import (
        RareCategoryCollapser,
        RareCategoryCollapserModel,
    )

    df = spark.createDataFrame(ROWS, COLS)
    # non-null cats: a×3, b×2, c×1 of 6 → fraction floor 0.4 keeps a
    model = (RareCategoryCollapser().setInputCol("cat")
             .setMinFraction(0.4).fit(df))
    assert model.kept_labels() == ["a"]
    new = spark.createDataFrame([("zz",)], ["cat"])
    assert model.transform(new).first()["collapsed"] == "__other__"
    p = str(tmp_path / "rc")
    model.save(p)
    loaded = RareCategoryCollapserModel.load(spark, p)
    assert loaded.kept_labels() == ["a"]


# ------------------------------------------------------------- profiler

def test_table_profiler(spark):
    import math

    from flink_ml__spark.functions import TableProfiler

    df = spark.createDataFrame(ROWS, COLS)
    got = {r["column"]: r for r in TableProfiler().transform(df).collect()}
    assert set(got) == {"cat", "value"}
    c, v = got["cat"], got["value"]
    assert c["n"] == 7 and c["n_null"] == 1 and c["n_distinct"] == 3
    assert math.isclose(c["null_frac"], 1 / 7)
    assert (c["min_value"], c["max_value"]) == ("a", "c")
    assert c["mean_value"] is None
    assert v["n_distinct"] == 6 and v["min_value"] == "7.0"
    assert math.isclose(v["mean_value"], (10 + 20 + 40 + 60 + 100 + 7) / 6)


def test_table_profiler_hostile_column_names(spark):
    """First-pass profiling meets raw warehouse tables: names with
    spaces, dots, quotes and backticks must profile, not crash the
    column-reference parsing (ADVICE r08: raw names were interpolated
    into selectExpr/aliases)."""
    import math

    from flink_ml__spark.functions import TableProfiler

    names = ["col with space", "dotted.name", 'quo"ted', "back`tick"]
    df = spark.createDataFrame(
        [(1.0, "x", "a", 5), (2.0, None, "b", 7), (None, "y", "a", 7)],
        names)
    got = {r["column"]: r for r in TableProfiler().transform(df).collect()}
    assert set(got) == set(names)
    assert got["col with space"]["n_null"] == 1
    assert math.isclose(got["col with space"]["mean_value"], 1.5)
    assert got["dotted.name"]["n_distinct"] == 2
    assert got["back`tick"]["min_value"] == "5"


def test_table_profiler_rsd_and_column_subset(spark):
    from flink_ml__spark.functions import TableProfiler

    df = spark.createDataFrame(ROWS, COLS)
    got = (TableProfiler().setColumns("value").setRsd(0.05)
           .transform(df).collect())
    assert len(got) == 1 and got[0]["column"] == "value"
    # HLL++ at 5% rsd on 6 distinct values is exact in practice
    assert abs(got[0]["n_distinct"] - 6) <= 1


# ------------------------------------------------------------ count encode

def test_count_encoder(spark, tmp_path):
    import math

    from flink_ml__spark.functions import CountEncoder, CountEncoderModel

    df = spark.createDataFrame(ROWS, COLS)
    model = CountEncoder().setInputCol("cat").fit(df)
    got = {r["cat"]: r["cat_count"]
           for r in model.transform(df).collect()}
    assert (got["a"], got["b"], got["c"]) == (3.0, 2.0, 1.0)
    assert got[None] is None
    # unseen → 0
    new = spark.createDataFrame([("zz",)], ["cat"])
    assert model.transform(new).first()["cat_count"] == 0.0
    # normalized share
    norm = {r["cat"]: r["cat_count"]
            for r in model.setNormalize(True).transform(df).collect()}
    assert math.isclose(norm["a"], 3 / 6)
    p = str(tmp_path / "ce")
    model.save(p)
    loaded = CountEncoderModel.load(spark, p)
    assert loaded._total == 6
    got2 = {r["cat"]: r["cat_count"]
            for r in loaded.setNormalize(False).transform(df).collect()}
    assert got2 == got


def test_session_models_all_apply_on_streams(spark, tmp_path):
    """Every fitted model added this round is a folded-literal map or
    a stream-static broadcast join — chain them over one unbounded
    stream and pin row-for-row equality with the batch apply."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions import (
        CountEncoder,
        FeatureHasher,
        QuantileDiscretizer,
        RareCategoryCollapser,
        RobustScaler,
    )
    from flink_ml__spark.functions.feature_gen import MadOutlierDetector

    df = spark.createDataFrame(ROWS, COLS)
    ce = CountEncoder().setInputCol("cat").setOutputCol("freq").fit(df)
    rc = (RareCategoryCollapser().setInputCol("cat").setMinCount(2)
          .setOutputCol("coll").fit(df))
    rs = RobustScaler().setInputCol("value").setOutputCol("rz").fit(df)
    qd = (QuantileDiscretizer().setInputCol("value").setNumBuckets(2)
          .setOutputCol("qb").fit(df))
    mad = MadOutlierDetector().setInputCol("value").setOutputCol("mz") \
        .fit(df)
    fh = FeatureHasher().setInputCols("cat").setNumFeatures(64)

    def chain(frame):
        out = ce.transform(frame)
        out = rc.transform(out)
        out = rs.transform(out)
        out = qd.transform(out)
        out = mad.transform(out)
        return fh.transform(out)

    cols = ["cat", "value", "freq", "coll", "rz", "qb", "mz",
            "mz_outlier", "cat_hash"]

    def canon(frame):
        return sorted((tuple(r[c] for c in cols)
                       for r in frame.collect()), key=repr)

    batch = canon(chain(df))
    d = _tf.mkdtemp(prefix="models_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = chain(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("modelsstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM modelsstream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_count_encoder_all_null_raises(spark):
    import pytest as _pytest

    from flink_ml__spark.functions import CountEncoder

    df = spark.createDataFrame([(None,), (None,)], "cat string")
    with _pytest.raises(ValueError, match="no non-null"):
        CountEncoder().setInputCol("cat").fit(df)


def test_table_profiler_hostile_column_names(spark):
    """Profiler is pitched at unfamiliar tables — names with spaces,
    dots and quotes must survive (aliases are positional; the display
    name enters only as a bound literal)."""
    from flink_ml__spark.functions import TableProfiler

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (None, "y")],
        ["weird col.name", "it's \"quoted\""])
    got = {r["column"]: r for r in TableProfiler().transform(df).collect()}
    assert set(got) == {"weird col.name", "it's \"quoted\""}
    w = got["weird col.name"]
    assert w["n"] == 3 and w["n_null"] == 1 and w["n_distinct"] == 2
    assert w["mean_value"] == 1.5
    q = got["it's \"quoted\""]
    assert q["n_distinct"] == 2 and q["mean_value"] is None


def test_indexer_target_scaler_calibrators_apply_on_streams(spark):
    """The remaining round-7 fitted appliers — StringIndexer and
    TargetEncoder (stream-static broadcast joins), MinMax/MaxAbs
    scalers (folded-literal maps), isotonic and Platt calibrators
    (CASE chain / sigmoid) — chained over one unbounded stream,
    row-for-row equal to the batch apply."""
    import shutil
    import tempfile as _tf

    from flink_ml__spark.functions import (
        MaxAbsScaler,
        MinMaxScaler,
        StringIndexer,
        TargetEncoder,
    )
    from flink_ml__spark.functions.evaluation import (
        IsotonicCalibrator,
        PlattCalibrator,
    )

    rows = [("a", 10.0, 0.9, 1), ("a", 20.0, 0.8, 1), ("b", -40.0, 0.3, 0),
            ("b", 60.0, 0.7, 1), ("c", 100.0, 0.2, 0), (None, 7.0, 0.1, 0),
            ("a", None, 0.55, 1), ("c", -5.0, None, 0)]
    df = spark.createDataFrame(rows, "cat string, value double,"
                                     " score double, label int")
    si = (StringIndexer().setInputCol("cat").setOutputCol("cat_ix")
          .fit(df))
    te = (TargetEncoder().setInputCol("cat").setTargetCol("label")
          .setOutputCol("cat_te").fit(df))
    mm = (MinMaxScaler().setInputCol("value").setOutputCol("v_mm")
          .fit(df))
    ma = (MaxAbsScaler().setInputCol("value").setOutputCol("v_ma")
          .fit(df))
    iso = (IsotonicCalibrator().setLabelCol("label").setScoreCol("score")
           .fit(df))
    iso.setOutputCol("p_iso")
    pl = (PlattCalibrator().setLabelCol("label").setScoreCol("score")
          .fit(df))
    pl.setOutputCol("p_platt")

    def chain(frame):
        out = si.transform(frame)
        out = te.transform(out)
        out = mm.transform(out)
        out = ma.transform(out)
        out = iso.transform(out)
        return pl.transform(out)

    cols = ["cat", "value", "score", "label", "cat_ix", "cat_te",
            "v_mm", "v_ma", "p_iso", "p_platt"]

    def canon(frame):
        return sorted((tuple(r[c] for c in cols)
                       for r in frame.collect()), key=repr)

    batch = canon(chain(df))
    d = _tf.mkdtemp(prefix="appliers_stream_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        out = chain(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("appliersstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = canon(spark.sql("SELECT * FROM appliersstream"))
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------- json schema profiler

def test_json_schema_profiler(spark):
    import math

    from flink_ml__spark.functions.linkage import JsonSchemaProfiler

    rows = [
        (1, '{"a": 1, "b": "x", "c": null}'),
        (2, '{"a": 2.5, "b": true, "d": [1, 2]}'),
        (3, '{"a": "s", "e": {"n": 1}}'),
        (4, "not json"),          # malformed: excluded from denominator
        (5, None),                # NULL: excluded
        (6, "[1, 2, 3]"),         # non-object: excluded
    ]
    df = spark.createDataFrame(rows, "id long, j string")
    got = {r["key"]: r for r in (JsonSchemaProfiler().setInputCol("j")
                                 .transform(df).collect())}
    assert set(got) == {"a", "b", "c", "d", "e"}
    a = got["a"]
    assert a["n_present"] == 3 and math.isclose(a["frac_present"], 1.0)
    assert (a["n_number"], a["n_string"]) == (2, 1)
    assert a["dominant_type"] == "number"
    b = got["b"]
    assert (b["n_string"], b["n_boolean"]) == (1, 1)
    # tie breaks alphabetically
    assert b["dominant_type"] == "boolean"
    assert got["c"]["n_null"] == 1 and got["c"]["dominant_type"] == "null"
    assert got["d"]["n_array"] == 1 and got["e"]["n_object"] == 1
    assert math.isclose(got["e"]["frac_present"], 1 / 3)


def test_json_schema_profiler_bool_is_not_number(spark):
    """bool <: int in Python — the classifier must check bool first."""
    from flink_ml__spark.functions.linkage import JsonSchemaProfiler

    df = spark.createDataFrame(
        [(1, '{"f": true}'), (2, '{"f": false}'), (3, '{"f": 0}')],
        "id long, j string")
    r = (JsonSchemaProfiler().setInputCol("j").transform(df)
         .collect())[0]
    assert (r["n_boolean"], r["n_number"]) == (2, 1)
    assert r["dominant_type"] == "boolean"


def test_json_schema_profiler_all_invalid(spark):
    """No parseable objects: empty profile, no division error."""
    from flink_ml__spark.functions.linkage import JsonSchemaProfiler

    df = spark.createDataFrame([(1, "nope"), (2, None)],
                               "id long, j string")
    assert (JsonSchemaProfiler().setInputCol("j").transform(df)
            .count()) == 0


def test_json_schema_drift(spark):
    from flink_ml__spark.functions.linkage import JsonSchemaProfiler

    ref = spark.createDataFrame(
        [(1, '{"a": 1, "b": "x"}'), (2, '{"a": 2, "b": "y"}'),
         (3, '{"a": 3, "old": true}')], "id long, j string")
    cur = spark.createDataFrame(
        [(1, '{"a": "one", "b": "x"}'), (2, '{"a": "two", "nu": 1}')],
        "id long, j string")
    got = {r["key"]: r for r in
           (JsonSchemaProfiler().setInputCol("j").drift(ref, cur)
            .collect())}
    assert got["old"]["status"] == "removed"
    assert got["nu"]["status"] == "added"
    assert got["nu"]["ref_present"] == 0 and got["nu"]["cur_present"] == 1
    a = got["a"]
    assert a["status"] == "common" and a["type_changed"]
    assert (a["ref_dominant"], a["cur_dominant"]) == ("number", "string")
    b = got["b"]
    assert not b["type_changed"]
    assert abs(b["frac_shift"] - (1 / 2 - 2 / 3)) < 1e-12
    # added/removed never flag a type change
    assert not got["old"]["type_changed"] and not got["nu"]["type_changed"]
