"""``flink_ml__spark.base``: SQL-text literals rendered by ``sql_double``
parse back to the very bits they came from, ``Stage.save``/``load``
round-trip every stage's declared ``_state``, and every stage's params
are declared once: ``_defaults`` plus the accessors ``Stage`` derives."""

import ast
import importlib
import inspect
import json
import os
import pathlib
import pkgutil
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

import flink_ml__spark
from flink_ml__spark.base import Stage, _accessors, sql_double, sql_ident

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


def test_save_onto_the_loaded_directory_raises(spark, tmp_path):
    """A loaded model's frame reads the parquet under its own path, so
    saving it back there would delete what the write reads: the save
    raises before writing anything, and the directory stays loadable."""
    from flink_ml__spark.functions.encoding import (
        StringIndexer,
        StringIndexerModel,
    )

    df = spark.createDataFrame([("a",), ("b",), ("a",)], "cat string")
    path = str(tmp_path / "si")
    StringIndexer().setInputCol("cat").fit(df).save(path)
    loaded = StringIndexerModel.load(spark, path)
    with pytest.raises(ValueError, match="would overwrite"):
        loaded.save(path)
    again = StringIndexerModel.load(spark, path)
    assert sorted((r["cat"], r["label_index"])
                  for r in again.transform(df).collect()) == [
        ("a", 0), ("a", 0), ("b", 1)]
    fresh = str(tmp_path / "si2")
    loaded.save(fresh)
    assert StringIndexerModel.load(spark, fresh).labels() == ["a", "b"]


def _accessor(name: str) -> str:
    return name[0].upper() + name[1:]


def _same(a, b) -> bool:
    """``a == b``, NaN equal to NaN."""
    return a == b or (a != a and b != b)


def test_every_param_has_its_accessors_and_declared_default():
    """The testParam analogue: for every stage and every param,
    ``get<Name>`` reads ``getOrDefault`` (a hand-written getter may
    decode it), ``set<Name>`` of that value returns the stage and
    round-trips, and the default map is the MRO merge of the
    ``_defaults`` declarations (a subclass overrides a mixin)."""
    get_code, set_code = (f.__code__ for f in _accessors("x"))
    classes = _stage_classes()
    assert len(classes) > 200
    for cls in classes:
        inst = cls()
        declared = {}
        for c in reversed(cls.__mro__):
            declared.update(c.__dict__.get("_defaults", {}))
        assert {p.name: v for p, v in inst._defaultParamMap.items()} == {
            k: v if v is None else inst.getParam(k).typeConverter(v)
            for k, v in declared.items()}, cls.__name__
        for p in inst.params:
            where = f"{cls.__name__}.{p.name}"
            get = getattr(inst, "get" + _accessor(p.name))
            set_ = getattr(inst, "set" + _accessor(p.name))
            if not inst.hasDefault(p):
                with pytest.raises(KeyError):
                    get()
                continue
            value = get()
            if get.__code__ is get_code:
                assert _same(value, inst.getOrDefault(p)), where
            # an empty default stands for "not set", which a validating
            # hand-written setter may reject
            if inst.getOrDefault(p) is None or (
                    set_.__code__ is not set_code
                    and value in ("", [], {})):
                continue
            varargs = any(q.kind is q.VAR_POSITIONAL for q in
                          inspect.signature(set_).parameters.values())
            assert (set_(*value) if varargs else set_(value)) is inst, \
                where
            assert inst.isSet(p) and _same(get(), value), where


def _is_trivial_accessor(fn: ast.FunctionDef) -> bool:
    body = [s for s in fn.body
            if not (isinstance(s, ast.Expr)
                    and isinstance(s.value, ast.Constant))]
    if len(body) != 1 or not isinstance(body[0], ast.Return):
        return False
    call = body[0].value
    if not (isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and isinstance(call.func.value, ast.Name)
            and call.func.value.id == "self"):
        return False
    if call.func.attr == "getOrDefault":
        return (len(call.args) == 1 and not call.keywords
                and isinstance(call.args[0], ast.Attribute)
                and isinstance(call.args[0].value, ast.Name)
                and call.args[0].value.id == "self")
    if call.func.attr == "_set":
        return (not call.args and len(call.keywords) == 1
                and call.keywords[0].arg is not None
                and isinstance(call.keywords[0].value, ast.Name))
    return False


def _is_bare_init(fn: ast.FunctionDef) -> bool:
    """An ``__init__`` doing nothing but ``super().__init__()``."""
    return fn.name == "__init__" and all(
        isinstance(s, ast.Expr) and (
            isinstance(s.value, ast.Constant)
            or ast.unparse(s.value) == "super().__init__()")
        for s in fn.body)


def test_params_are_declared_once():
    """No param boilerplate in the package: ``_setDefault`` is called
    only by ``Stage.__init__`` (defaults live in ``_defaults``), no
    method just forwards to ``getOrDefault``/``_set`` (``Stage``
    derives those), and no ``__init__`` only calls its super."""
    root = pathlib.Path(flink_ml__spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for cls in ast.walk(tree):
            if not isinstance(cls, ast.ClassDef):
                continue
            for fn in cls.body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                where = f"{path.relative_to(root)}:{fn.lineno} " \
                        f"{cls.name}.{fn.name}"
                if _is_trivial_accessor(fn):
                    found.append(f"{where}: trivial accessor")
                if _is_bare_init(fn):
                    found.append(f"{where}: __init__ only calls super")
                if path.name == "base.py" and cls.name == "Stage" \
                        and fn.name == "__init__":
                    continue
                for node in ast.walk(fn):
                    if (isinstance(node, ast.Attribute)
                            and node.attr == "_setDefault"):
                        found.append(f"{where}: calls _setDefault")
    assert not found, "\n".join(found)
