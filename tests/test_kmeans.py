"""KMeans: golden clusters on separable data, determinism,
empty-cluster survival, JVM-side apply, save/load, wssse."""

import math

import pytest

from flink_ml__spark.operators import KMeans, KMeansModel


def _blob_df(spark):
    # two tight blobs around (0,0) and (10,10)
    rows = [([float(i % 3) * 0.1, float(i % 2) * 0.1],) for i in range(20)]
    rows += [([10.0 + (i % 3) * 0.1, 10.0 + (i % 2) * 0.1],)
             for i in range(20)]
    return spark.createDataFrame(rows, "embedding array<double>")


# initSampleSize 8 < 40 rows: the fit runs its epochs as mapInPandas
# jobs instead of on the collected sample — both must land on the goldens
@pytest.mark.parametrize("sample_size", [None, 8],
                         ids=["driver", "distributed"])
def test_kmeans_separates_blobs(spark, sample_size):
    df = _blob_df(spark)
    est = KMeans().setK(2).setSeed(7)
    if sample_size is not None:
        est.setInitSampleSize(sample_size)
    model = est.fit(df)
    out = model.transform(df).collect()
    lo = {r["prediction"] for r in out if r["embedding"][0] < 5}
    hi = {r["prediction"] for r in out if r["embedding"][0] > 5}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    cents = sorted(model.centroids)
    for got, want in zip(cents, [[0.095, 0.05], [10.095, 10.05]]):
        for g, w in zip(got, want):
            assert math.isclose(g, w, abs_tol=1e-9), cents


def test_kmeans_deterministic_across_partitioning(spark):
    df = _blob_df(spark)
    m1 = KMeans().setK(2).setSeed(3).fit(df.repartition(1))
    m2 = KMeans().setK(2).setSeed(3).fit(df.repartition(7))
    for a, b in zip(sorted(m1.centroids), sorted(m2.centroids)):
        for x, y in zip(a, b):
            assert math.isclose(x, y, abs_tol=1e-9)


def test_kmeans_duplicate_points_fewer_distinct_than_k(spark):
    df = spark.createDataFrame([([1.0, 1.0],)] * 30,
                               "embedding array<double>")
    model = KMeans().setK(3).setSeed(1).fit(df)
    # all points identical: every prediction is one cluster, wssse 0
    assert model.wssse(df) == 0.0
    preds = {r["prediction"] for r in model.transform(df).collect()}
    assert len(preds) == 1


def test_kmeans_apply_is_jvm_side(spark):
    df = _blob_df(spark)
    model = KMeans().setK(2).setSeed(7).fit(df)
    plan = (model.transform(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "EvalPython" not in plan  # no Python in the apply path


def test_kmeans_save_load_and_wssse(spark, tmp_path):
    df = _blob_df(spark)
    model = KMeans().setK(2).setSeed(7).fit(df)
    w = model.wssse(df)
    assert w >= 0
    p = str(tmp_path / "km")
    model.save(p)
    loaded = KMeansModel.load(spark, p)
    assert loaded.centroids == model.centroids
    assert math.isclose(loaded.wssse(df), w)
    a = [(r["prediction"]) for r in model.transform(df).collect()]
    b = [(r["prediction"]) for r in loaded.transform(df).collect()]
    assert a == b


def test_kmeans_needs_enough_points(spark):
    df = spark.createDataFrame([([1.0],)], "embedding array<double>")
    with pytest.raises(ValueError):
        KMeans().setK(2).fit(df)


def test_prototypicality_scores(spark):
    import math

    from flink_ml__spark.operators.kmeans import KMeansModel

    model = (KMeansModel([[1.0, 0.0], [0.0, 1.0]])
             .setFeaturesCol("v"))
    rows = [(1, [2.0, 0.0]),     # exactly along centroid 0
            (2, [1.0, 1.0]),     # equidistant -> cluster 0 (tie low)
            (3, [0.0, 5.0]),     # along centroid 1
            (4, [0.0, 0.0])]     # zero vector -> NULL proto
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {r["id"]: r for r in model.prototypicality(df).collect()}
    assert got[1]["prediction"] == 0
    assert math.isclose(got[1]["prototypicality"], 1.0)
    assert got[2]["prediction"] == 0
    assert math.isclose(got[2]["prototypicality"], 1 / math.sqrt(2))
    assert got[3]["prediction"] == 1
    assert math.isclose(got[3]["prototypicality"], 1.0)
    assert got[4]["prototypicality"] is None


def test_prototypicality_composes_with_stratified_pruning(spark):
    """The pruning recipe: per-cluster keep-k by LOWEST
    prototypicality (abundant-data regime drops redundant rows)."""
    from flink_ml__spark.functions.curation import StratifiedSampler
    from flink_ml__spark.operators.kmeans import KMeansModel

    model = (KMeansModel([[1.0, 0.0], [0.0, 1.0]])
             .setFeaturesCol("v"))
    rows = [(i, [1.0, 0.05 * i]) for i in range(6)] + \
           [(10 + i, [0.05 * i, 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, v array<double>")
    scored = model.prototypicality(df).withColumn(
        "neg_proto", -1 * __import__("pyspark").sql.functions.col(
            "prototypicality"))
    kept = (StratifiedSampler().setGroupCol("prediction").setK(2)
            .setScoreCol("neg_proto")
            .transform(scored))
    counts = (kept.groupBy("prediction").count().collect())
    assert {r["prediction"]: r["count"] for r in counts} == {0: 2, 1: 2}
    # least prototypical of cluster 0 = largest tilt = ids 4, 5
    ids = sorted(r["doc_id"] for r in kept.collect()
                 if r["prediction"] == 0)
    assert ids == [4, 5]
