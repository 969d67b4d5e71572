"""FCM golden tests (``/root/reference/test/java/cn/swust/algorithms/fcm/
FCMTest.java``)."""

import math

import pytest

from flink_ml__spark.operators.fcm import FCM, FCMModel

# ``FCMTest.java:44-51``
POINTS = [
    ([1.0, 2.0],), ([1.5, 1.8],), ([5.0, 8.0],),
    ([8.0, 8.0],), ([1.0, 0.6],), ([9.0, 11.0],),
]
# ``FCMTest.java:349-354``
GOLDEN_CENTROIDS = [
    [1.1704, 1.4739], [5.8931, 7.9994], [8.8858, 10.6673],
]
# expected cluster groupings (``FCMTest.java:52-65``)
GROUPS = [
    {(1.0, 2.0), (1.5, 1.8), (1.0, 0.6)},
    {(5.0, 8.0), (8.0, 8.0)},
    {(9.0, 11.0)},
]


def fit_model(spark, **kw):
    df = spark.createDataFrame(POINTS, ["features"])
    est = FCM().setK(3).setM(2.0).setTOL(1e-4).setMaxIter(100).setSeed(42)
    for k, v in kw.items():
        est._set(**{k: v})
    return est.fit(df), df


def test_params():
    est = FCM()
    assert est.getK() == 3
    assert est.getM() == 2.0
    assert est.getTOL() == 1e-4
    assert est.getMaxIter() == 20
    assert est.getDistanceMeasure() == "euclidean"
    est.setK(5).setM(1.5).setTOL(0.01).setMaxIter(7)
    assert (est.getK(), est.getM(), est.getTOL(), est.getMaxIter()) == (5, 1.5, 0.01, 7)


# the same fit to 16 significant digits — the driver-side and the
# distributed epochs share one kernel and must both land here
FULL_CENTROIDS = [
    [1.1703795782382915, 1.4739341522644906],
    [5.8931853703183785, 7.999351629330754],
    [8.885817670521016, 10.667327421917477],
]


# _DRIVER_FIT_ROWS 0: every epoch is a mapInPandas job instead of a
# driver-side call on the collected rows
@pytest.mark.parametrize("driver_fit_rows", [None, 0],
                         ids=["driver", "distributed"])
def test_golden_centroids(spark, monkeypatch, driver_fit_rows):
    from flink_ml__spark.operators import fcm

    if driver_fit_rows is not None:
        monkeypatch.setattr(fcm, "_DRIVER_FIT_ROWS", driver_fit_rows)
    model, _ = fit_model(spark)
    got = sorted(model.centroids)
    expected = sorted(GOLDEN_CENTROIDS)
    for g, e in zip(got, expected):
        assert math.isclose(g[0], e[0], abs_tol=1e-3), (got, expected)
        assert math.isclose(g[1], e[1], abs_tol=1e-3), (got, expected)
    for g, e in zip(got, FULL_CENTROIDS):
        assert math.isclose(g[0], e[0], abs_tol=1e-9), got
        assert math.isclose(g[1], e[1], abs_tol=1e-9), got


def test_cluster_assignments(spark):
    model, df = fit_model(spark)
    out = model.transform(df)
    assert out.columns == ["features", "prediction"]
    by_cluster = {}
    for r in out.collect():
        by_cluster.setdefault(r["prediction"], set()).add(tuple(r["features"]))
    assert sorted(by_cluster.values(), key=len) == sorted(GROUPS, key=len)


def test_degenerate_identical_points(spark):
    # 3 identical points with k=2 must still produce one effective group
    # (``FCMTest.java:238-257``)
    df = spark.createDataFrame(
        [([0.0, 0.1],), ([0.0, 0.1],), ([0.0, 0.1],)], ["features"])
    model = FCM().setK(2).setSeed(1).setMaxIter(10).fit(df)
    preds = {r["prediction"] for r in model.transform(df).collect()}
    assert len(preds) == 1


def test_too_few_points(spark):
    df = spark.createDataFrame([([0.0, 0.1],)], ["features"])
    with pytest.raises(ValueError, match="at least k"):
        FCM().setK(3).fit(df)


def test_save_load(spark, tmp_path):
    model, df = fit_model(spark)
    path = str(tmp_path / "fcm_model")
    model.save(path)
    loaded = FCMModel.load(spark, path)
    assert loaded.getK() == 3
    for g, e in zip(sorted(loaded.centroids), sorted(model.centroids)):
        assert math.isclose(g[0], e[0], abs_tol=1e-12)
    out1 = {tuple(r["features"]): r["prediction"]
            for r in model.transform(df).collect()}
    out2 = {tuple(r["features"]): r["prediction"]
            for r in loaded.transform(df).collect()}
    assert out1 == out2


def test_membership_matrix(spark):
    model, df = fit_model(spark)
    mm = model.membership_matrix(df)
    rows = mm.collect()
    assert len(rows) == 6
    for r in rows:
        assert math.isclose(sum(r["membership"]), 1.0, abs_tol=1e-9)


def test_cosine_distance(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0],), ([2.0, 0.1],), ([0.0, 1.0],), ([0.1, 2.0],)],
        ["features"])
    model = (FCM().setK(2).setSeed(7).setMaxIter(50)
             .setDistanceMeasure("cosine").fit(df))
    preds = {tuple(r["features"]): r["prediction"]
             for r in model.transform(df).collect()}
    assert preds[(1.0, 0.0)] == preds[(2.0, 0.1)]
    assert preds[(0.0, 1.0)] == preds[(0.1, 2.0)]
    assert preds[(1.0, 0.0)] != preds[(0.0, 1.0)]


def test_sparse_vector_input(spark):
    """ml.linalg vectors (incl. sparse) accepted as the features column
    (``FCMTest.java:287-306``)."""
    from pyspark.ml.linalg import Vectors

    dense_model, dense_df = fit_model(spark)
    rows = [(Vectors.sparse(2, [(j, v) for j, v in enumerate(p[0]) if v]),)
            for p in POINTS]
    df = spark.createDataFrame(rows, ["features"])
    model = (FCM().setK(3).setM(2.0).setTOL(1e-4).setMaxIter(100).setSeed(42)
             .fit(df))
    out = model.transform(df)
    by_cluster = {}
    for r in out.collect():
        key = tuple(round(x, 6) for x in r["features"].toArray())
        by_cluster.setdefault(r["prediction"], set()).add(key)
    dense_groups = {}
    for r in dense_model.transform(dense_df).collect():
        dense_groups.setdefault(r["prediction"], set()).add(
            tuple(round(x, 6) for x in r["features"]))
    assert sorted(by_cluster.values(), key=sorted) == \
        sorted(dense_groups.values(), key=sorted)


def test_set_model_data_transplant(spark):
    """``FCMModel().setModelData(m.getModelData())`` reproduces the
    fitted model (``FCMTest.java:357-370``)."""
    from flink_ml__spark.operators.fcm import FCMModel

    model, df = fit_model(spark)
    md = model.getModelData()
    assert md.columns == ["cluster_id", "centroid"]
    fresh = FCMModel().setModelData(md)
    fresh._set(**{p.name: model.getOrDefault(p) for p in model.params})
    a = [(tuple(r["features"]), r["prediction"])
         for r in model.transform(df).collect()]
    b = [(tuple(r["features"]), r["prediction"])
         for r in fresh.transform(df).collect()]
    assert sorted(a) == sorted(b)


def test_model_data_reference_shape(spark):
    """Schema parity with the reference's model data: one row
    ``(centroids, membershipMatrix)`` (``FCMModelData.java:35-47``,
    column names asserted by ``FCMTest.java:321-326``)."""
    model, df = fit_model(spark)
    md = model.getModelData(reference_shape=True, data=df)
    assert md.columns == ["centroids", "membershipMatrix"]
    row = md.first()
    # centroids.length == membershipMatrix[0].f1.size() (the reference's
    # constructor precondition)
    assert len(row["centroids"]) == 3
    assert len(row["membershipMatrix"][0]["membership"]) == 3
    assert len(row["membershipMatrix"]) == 6
    feats = {tuple(e["features"]) for e in row["membershipMatrix"]}
    assert feats == {tuple(p[0]) for p in POINTS}
    for e in row["membershipMatrix"]:
        assert math.isclose(sum(e["membership"]), 1.0, abs_tol=1e-9)


def test_model_data_reference_shape_needs_data(spark):
    model, _ = fit_model(spark)
    with pytest.raises(ValueError, match="reference_shape"):
        model.getModelData(reference_shape=True)
