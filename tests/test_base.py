"""``flink_ml__spark.base``: SQL-text literals rendered by ``sql_double``
parse back to the very bits they came from, and ``Stage.save``/``load``
round-trip every stage's declared ``_state``."""

import importlib
import json
import os
import pkgutil
import struct

import numpy as np
from pyspark.sql import functions as F

import flink_ml__spark
from flink_ml__spark.base import Stage, sql_double, sql_ident

VALUES = [float("nan"), float("inf"), float("-inf"), -0.0, 5e-324, 1e308,
          0.1, 1 / 3]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_sql_double_round_trips_bit_exactly(spark):
    row = spark.range(1).select(*[
        F.expr(sql_double(v)).alias(f"c{i}")
        for i, v in enumerate(VALUES)]).collect()[0]
    for v, got in zip(VALUES, row):
        assert isinstance(got, float)
        assert _bits(got) == _bits(v), (v, got)


def test_sql_double_in_arithmetic_and_null(spark):
    # a negative literal after a minus must not start a -- comment
    row = spark.range(1).select(
        F.expr(f"1.0D -{sql_double(-0.5)}").alias("a"),
        F.expr(sql_double(None)).alias("b")).collect()[0]
    assert row["a"] == 1.5
    assert row["b"] is None
    assert dict(spark.range(1).select(
        F.expr(sql_double(None)).alias("b")).dtypes)["b"] == "double"


def test_sql_ident_quotes_any_name(spark):
    df = spark.createDataFrame([(1.5,)], ["we`ird name"])
    got = df.select(F.expr(f"{sql_ident('we`ird name')} * 2")).collect()
    assert got[0][0] == 3.0


class _StateToy(Stage):
    _state = ("_floats", "_matrix", "_frame", "_blob", "_nothing")

    def __init__(self):
        super().__init__()
        self._floats = self._matrix = self._frame = None
        self._blob = self._nothing = None


def test_stage_state_round_trips_bit_exactly(spark, tmp_path):
    floats = [0.1, -0.0, 5e-324, float("nan"), float("inf"),
              float("-inf"), None]
    matrix = np.array([[1 / 3, -0.0], [float("nan"), 1e308]])
    frame = spark.createDataFrame([(1, "a"), (2, None)],
                                  "id int, s string")
    blob = bytes(range(256))
    toy = _StateToy()
    toy._floats, toy._matrix, toy._frame, toy._blob = (
        floats, matrix, frame, blob)
    path = str(tmp_path / "toy")
    toy.save(path)

    # JSON state rides in the one metadata file; the frame and the
    # bytes are the only other entries
    assert sorted(os.listdir(path)) == ["blob", "frame", "metadata"]
    with open(os.path.join(path, "metadata")) as f:
        assert sorted(json.load(f)["state"]) == [
            "floats", "matrix", "nothing"]

    back = _StateToy.load(spark, path)
    assert len(back._floats) == len(floats) and back._floats[-1] is None
    for v, got in zip(floats[:-1], back._floats):
        assert _bits(got) == _bits(v), (v, got)
    assert np.asarray(back._matrix).tobytes() == matrix.tobytes()
    assert sorted(back._frame.collect()) == sorted(frame.collect())
    assert back._frame.schema == frame.schema
    assert back._blob == blob
    assert back._nothing is None


def _stage_classes():
    for mod in pkgutil.walk_packages(flink_ml__spark.__path__,
                                     "flink_ml__spark."):
        importlib.import_module(mod.name)
    seen, todo = set(), [Stage]
    while todo:
        for sub in todo.pop().__subclasses__():
            if sub not in seen:
                seen.add(sub)
                todo.append(sub)
    return sorted((c for c in seen
                   if c.__module__.startswith("flink_ml__spark.")),
                  key=lambda c: f"{c.__module__}.{c.__qualname__}")


def test_every_declared_state_is_an_attribute():
    """``load`` builds each stage with no arguments and sets its
    ``_state`` names: a typo in a declaration fails here, before any
    save."""
    classes = _stage_classes()
    assert len(classes) > 200
    for cls in classes:
        inst = cls()
        for name in cls._state:
            assert hasattr(inst, name), f"{cls.__name__}.{name}"
