"""Canopy tests — the reference only smoke-tests (unseeded randomness,
``CanopyTest.java:131-153``); our deterministic port asserts real outputs.
Fixture from ``CanopyTest.java:36-43``."""

import pytest

from flink_ml__spark.operators.canopy import Canopy

POINTS = [
    ([1.0, 1.5],), ([1.5, 2.0],), ([0.5, 0.7],),
    ([6.0, 7.5],), ([5.5, 7.0],), ([5.5, 4.5],),
]


def test_params():
    op = Canopy()
    # defaults asserted by the reference test (``CanopyTest.java:92-96``)
    assert op.getT1() == 1.0
    assert op.getT2() == 0.5
    assert op.getMaxIter() == 20
    assert op.getDistanceMeasure() == "euclidean"
    op.setT1(3.0).setT2(1.5)
    assert (op.getT1(), op.getT2()) == (3.0, 1.5)


def test_t1_gt_t2_enforced(spark):
    df = spark.createDataFrame(POINTS, ["features"])
    with pytest.raises(ValueError, match="T1 must be greater than T2"):
        Canopy().setT1(0.5).setT2(0.5).transform(df)


def test_output_schema(spark):
    df = spark.createDataFrame(POINTS, ["features"])
    out = Canopy().setT1(3.0).setT2(1.5).setSeed(42).transform(df)
    assert out.columns == ["centroids", "prediction"]


def test_deterministic_and_covering(spark):
    df = spark.createDataFrame(POINTS, ["features"])
    op = Canopy().setT1(3.0).setT2(1.5).setSeed(42)
    rows1 = [(tuple(r["centroids"]),
              frozenset(tuple(p) for p in r["prediction"]))
             for r in op.transform(df).collect()]
    rows2 = [(tuple(r["centroids"]),
              frozenset(tuple(p) for p in r["prediction"]))
             for r in op.transform(df).collect()]
    assert rows1 == rows2  # seeded determinism
    # every input point is covered by some canopy
    covered = set()
    for _, members in rows1:
        covered |= members
    assert covered == {tuple(p[0]) for p in POINTS}


def test_tight_threshold_separates_clusters(spark):
    df = spark.createDataFrame(POINTS, ["features"])
    out = Canopy().setT1(3.0).setT2(2.5).setSeed(42).transform(df)
    rows = out.collect()
    # the two spatial groups {(1,1.5),(1.5,2),(0.5,0.7)} and
    # {(6,7.5),(5.5,7),(5.5,4.5)} are > 3 apart, so no canopy spans both
    for r in rows:
        members = [tuple(p) for p in r["prediction"]]
        left = sum(1 for m in members if m[0] < 3)
        right = sum(1 for m in members if m[0] >= 3)
        assert left == 0 or right == 0


def test_assign_flat_output(spark):
    df = spark.createDataFrame(POINTS, ["features"])
    flat = Canopy().setT1(3.0).setT2(1.5).setSeed(42).assign(df)
    assert flat.columns == ["canopy_id", "centroid", "point"]
    assert flat.count() >= len(POINTS)


@pytest.mark.parametrize("measure,t2", [("euclidean", 0.3),
                                        ("cosine", 0.002)])
def test_distributed_rounds_match_local_tail(spark, monkeypatch, measure,
                                             t2):
    """With the driver tail switched off, every round runs distributed
    over a repartitioned pool (one checkpoint per round, 20 rounds at the
    default maxIter) and must pick the local tail's centers exactly."""
    import math

    from flink_ml__spark.operators import canopy

    pts = [([math.sin(1.3 * i) * 5, math.cos(0.7 * i) * 3,
             (i % 7) * 0.9 + 0.1],) for i in range(60)]
    df = spark.createDataFrame(pts, ["features"]).repartition(4)
    op = (Canopy().setT1(2 * t2).setT2(t2).setSeed(11)
          .setDistanceMeasure(measure))
    local = op._centers(df)
    assert len(local) == op.getMaxIter() == 20
    monkeypatch.setattr(canopy, "_DRIVER_POOL_ROWS", 0)
    assert op._centers(df) == local
