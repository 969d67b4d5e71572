"""Base classes shared by every operator in the engine.

The reference library (Flink ML) models each algorithm as an
``AlgoOperator`` / ``Estimator`` / ``Model`` with a typed ``Param`` map and
``save(path)`` / ``load(env, path)`` persistence (metadata JSON + optional
model-data table) — see /root/reference
``src/main/java/cn/swust/algorithms/ahp/AHP.java:42-46,549-556`` and
``fcm/FCMModel.java:41-50``.

Here the same contract is expressed in the ``pyspark.ml`` idiom:

* params         → a ``pyspark.ml.param.Param`` class attribute, on the
  stage or on a ``Params`` mixin (the ``HasXxx`` interfaces), declared
  once: its default is an entry of the class's ``_defaults`` dict and
  ``Stage`` derives its ``get<Name>``/``set<Name>`` accessors
* AlgoOperator   → a ``Transformer`` (stateless ``transform(df) -> df``)
* Estimator      → ``Estimator.fit(df) -> Model``
* persistence    → one ``<path>/metadata`` JSON (``DefaultParamsWriter``-
  compatible layout) holding the params and the fitted state each stage
  names in ``_state``; a state value that is a ``DataFrame`` goes to
  parquet under ``<path>/<name>`` and a ``bytes`` value to the file
  ``<path>/<name>`` (``name`` without its leading underscores).

Feature columns are accepted either as ``pyspark.ml.linalg`` vectors
(``VectorUDT``) or as ``array<double>`` columns; internally all vector math
normalizes to ``array<double>`` so expressions stay inside Catalyst codegen
and results remain plain-SQL comparable.
"""

from __future__ import annotations

import functools
import importlib
import json
import math
import os
import time
from urllib.parse import urlparse

from pyspark.ml.linalg import VectorUDT
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# shared param mixins (lineage: flink-ml's HasXxx interfaces; same defaults)
# --------------------------------------------------------------------------


class HasFeaturesCol(Params):
    featuresCol = Param(
        Params._dummy(), "featuresCol", "features column name",
        typeConverter=TypeConverters.toString)

    _defaults = dict(featuresCol="features")


class HasPredictionCol(Params):
    predictionCol = Param(
        Params._dummy(), "predictionCol", "prediction column name",
        typeConverter=TypeConverters.toString)

    _defaults = dict(predictionCol="prediction")


class HasInputCol(Params):
    inputCol = Param(
        Params._dummy(), "inputCol", "input column name",
        typeConverter=TypeConverters.toString)

    _defaults = dict(inputCol="input")


class HasInputCols(Params):
    inputCols = Param(
        Params._dummy(), "inputCols", "input column names",
        typeConverter=TypeConverters.toListString)

    def setInputCols(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(inputCols=list(value))


class HasOutputCol(Params):
    outputCol = Param(
        Params._dummy(), "outputCol", "output column name",
        typeConverter=TypeConverters.toString)

    _defaults = dict(outputCol="output")


class HasOutputCols(Params):
    outputCols = Param(
        Params._dummy(), "outputCols", "output column names",
        typeConverter=TypeConverters.toListString)

    def setOutputCols(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(outputCols=list(value))


class HasMaxIter(Params):
    maxIter = Param(
        Params._dummy(), "maxIter", "maximum number of iterations (>=0)",
        typeConverter=TypeConverters.toInt)

    _defaults = dict(maxIter=20)


class HasSeed(Params):
    seed = Param(
        Params._dummy(), "seed", "random seed",
        typeConverter=TypeConverters.toInt)

    _defaults = dict(seed=0)


class HasRelativeError(Params):
    """The one exact-vs-approximate quantile switch for fit-time
    percentile aggregations (DriftMonitor, Winsorizer,
    PerplexityBucketer, QuantileMatcher, RankGaussTransformer,
    PaddingWasteProfiler, ...).

    Default 0.0 = exact percentiles — deterministic and
    SQL-oracle-replayable. ``_percentile_sql`` renders Spark's
    ``percentile`` aggregate (a full value→count map merged on a single
    final aggregation buffer); QuantileMatcher fits through
    ``functions.quantiles.exact_percentiles``, and the quantile-band
    operators (RankGaussTransformer, PaddingWasteProfiler) through
    ``functions.quantiles.quantile_edges`` (the sorted value list
    gathered on a single reducer). Either way the exact path holds the
    whole column on one node, which on a 100 TB high-cardinality double
    column is an OOM, not a slowdown. Setting ``relativeError`` > 0
    (e.g. 0.001) switches the fit to ``approx_percentile``
    (Greenwald-Khanna sketch, accuracy = ceil(1/relativeError)):
    bounded memory per partial, mergeable, and rank error
    ≤ relativeError · n — the production path at scale.
    """

    relativeError = Param(
        Params._dummy(), "relativeError",
        "0.0 = exact percentile; > 0 switches the quantile fit to "
        "approx_percentile with this relative rank error",
        typeConverter=TypeConverters.toFloat)

    _defaults = dict(relativeError=0.0)

    def setRelativeError(self, value: float):
        value = float(value)
        if not 0.0 <= value < 1.0:
            raise ValueError(
                f"relativeError must be in [0, 1), got {value}")
        return self._set(relativeError=value)

    def _percentile_sql(self, col_sql: str, pct) -> str:
        """SQL for the configured quantile aggregate: exact
        ``percentile`` at relativeError 0, else ``approx_percentile``
        with the matching Greenwald-Khanna accuracy. ``pct`` is a float
        or a list of floats (one sketch serving all cut points)."""
        if isinstance(pct, (list, tuple)):
            p_sql = "array(" + ", ".join(repr(float(p)) for p in pct) + ")"
        else:
            p_sql = repr(float(pct))
        rel = self.getOrDefault(self.relativeError)
        if rel <= 0.0:
            return f"percentile({col_sql}, {p_sql})"
        acc = int(math.ceil(1.0 / rel))
        return f"approx_percentile({col_sql}, {p_sql}, {acc})"


class HasDistanceMeasure(Params):
    distanceMeasure = Param(
        Params._dummy(), "distanceMeasure",
        "distance measure: euclidean | cosine",
        typeConverter=TypeConverters.toString)

    _defaults = dict(distanceMeasure="euclidean")

    def setDistanceMeasure(self, value: str):
        if value not in ("euclidean", "cosine"):
            raise ValueError(f"unsupported distance measure: {value}")
        return self._set(distanceMeasure=value)


class HasWindows(Params):
    """Window strategy param (flink-ml ``HasWindows`` analogue).

    ``None``/'global' = whole-input window (flink GlobalWindows default);
    otherwise a Spark interval string, e.g. ``'3 days'``, meaning
    event-time tumbling windows of that size.
    """

    windows = Param(
        Params._dummy(), "windows",
        "window strategy: None/'global' or a tumbling-window interval "
        "string like '3 days'",
        typeConverter=TypeConverters.identity)

    _defaults = dict(windows=None)


class HasTimeCol(Params):
    timeCol = Param(
        Params._dummy(), "timeCol", "event-time (rowtime) column name",
        typeConverter=TypeConverters.toString)

    _defaults = dict(timeCol="rowtime")


# --------------------------------------------------------------------------
# stage base classes
# --------------------------------------------------------------------------


def _json_default(value):
    """numpy arrays and scalars (the fitted state of the numpy-backed
    models) write as their Python ``tolist()`` values."""
    return value.tolist()


def _read_metadata(path: str) -> dict:
    with open(os.path.join(path, "metadata")) as f:
        return json.load(f)


def load_stage(spark: SparkSession, path: str, cls: type | None = None):
    """The stage saved at ``path``: its class comes from ``metadata``
    (which must be ``cls`` when given), its params and ``_state`` are
    restored from the same one read."""
    meta = _read_metadata(path)
    if cls is None:
        module, name = meta["class"].rsplit(".", 1)
        cls = getattr(importlib.import_module(module), name)
    elif meta["class"] != f"{cls.__module__}.{cls.__name__}":
        raise ValueError(f"cannot load {meta['class']} as "
                         f"{cls.__module__}.{cls.__name__}")
    inst = cls()
    for p in inst.params:
        if p.name in meta["paramMap"]:
            value = meta["paramMap"][p.name]
            if value is not None:
                inst._set(**{p.name: p.typeConverter(value)})
    inst._load_state(spark, path, meta)
    return inst


def _accessors(name: str):
    """The generated ``get``/``set`` pair of the param ``name``: read
    its value or default, set it through its ``typeConverter``."""
    def get(self):
        return self.getOrDefault(name)

    def set(self, value):
        return self._set(**{name: value})
    return get, set


@functools.cache
def _declared_defaults(cls: type) -> dict:
    """The ``_defaults`` of every class in ``cls``'s MRO, base first,
    so a subclass overrides a mixin."""
    merged = {}
    for c in reversed(cls.__mro__):
        merged.update(c.__dict__.get("_defaults", {}))
    return merged


class Stage(Params):
    """Common params and save/load for every stage: params plus the
    fitted state named in ``_state``.

    A param is declared once, as a ``Param`` class attribute with its
    ``typeConverter``, and its default goes in the declaring class's
    ``_defaults`` dict. ``__init__`` applies the ``_defaults`` of every
    class in the MRO, base first, so a subclass overrides a mixin; no
    other code calls ``_setDefault``. Each subclass gets a
    ``get<Name>`` (``getOrDefault``) and a ``set<Name>`` (``_set``,
    which converts the value through the ``typeConverter``) for every
    ``Param`` it can see, unless a class in its MRO already defines
    that name: a setter that validates its value, takes varargs or sets
    two params is written by hand and stays.

    ``save`` writes each ``_state`` attribute by type: a ``DataFrame``
    to parquet under ``<path>/<name>``, ``bytes`` to the file
    ``<path>/<name>``, anything else into the ``state`` object of the
    ``metadata`` JSON (``name`` is the attribute name without its
    leading underscores). JSON state must be JSON-shaped: lists come
    back for tuples and numpy arrays, and a dict keeps only string
    keys, so no declared state holds an int-keyed dict. Floats
    round-trip bit for bit, NaN and ±Inf included. ``load`` builds the
    class with no arguments, then restores params and state.

    ``uid`` comes from ``pyspark.ml.util.Identifiable`` (class name +
    random hex), assigned inside ``Params.__init__``.
    """

    _state: tuple[str, ...] = ()

    # -- params -------------------------------------------------------------

    def __init_subclass__(cls, **kwargs):
        super().__init_subclass__(**kwargs)
        for name in dir(cls):
            if not isinstance(getattr(cls, name, None), Param):
                continue
            suffix = name[0].upper() + name[1:]
            for fn in _accessors(name):
                attr = fn.__name__ + suffix
                if not any(attr in c.__dict__ for c in cls.__mro__):
                    fn.__name__ = attr
                    fn.__qualname__ = f"{cls.__qualname__}.{attr}"
                    setattr(cls, attr, fn)

    def __init__(self):
        super().__init__()
        self._setDefault(**_declared_defaults(type(self)))

    # -- persistence --------------------------------------------------------

    def _params_to_json(self) -> dict:
        payload = {}
        for p in self.params:
            if self.isSet(p) or self.hasDefault(p):
                payload[p.name] = self.getOrDefault(p)
        return payload

    def save(self, path: str) -> None:
        self._check_not_reading(path)
        os.makedirs(path, exist_ok=True)
        state = {}
        for name in self._state:
            key, value = name.lstrip("_"), getattr(self, name)
            if isinstance(value, DataFrame):
                value.write.mode("overwrite").parquet(
                    os.path.join(path, key))
            elif isinstance(value, bytes):
                with open(os.path.join(path, key), "wb") as f:
                    f.write(value)
            else:
                state[key] = value
        meta = {
            "class": f"{type(self).__module__}.{type(self).__name__}",
            "timestamp": int(time.time() * 1000),
            "uid": self.uid,
            "paramMap": self._params_to_json(),
            "state": state,
        }
        with open(os.path.join(path, "metadata"), "w") as f:
            json.dump(meta, f, default=_json_default)
        self._save_model_data(path)

    def _check_not_reading(self, path: str) -> None:
        """Raise before anything is written when a ``DataFrame`` state
        reads files under the ``<path>/<name>`` its save would overwrite
        (a stage loaded from ``path``): the overwrite would delete them
        mid-write. A fitted frame reads no files."""
        for name in self._state:
            value = getattr(self, name)
            if not isinstance(value, DataFrame):
                continue
            target = os.path.realpath(os.path.join(path, name.lstrip("_")))
            for uri in value.inputFiles():
                src = os.path.realpath(urlparse(uri).path)
                if os.path.commonpath([src, target]) == target:
                    raise ValueError(
                        f"cannot save {type(self).__name__} to {path}: its "
                        f"state {name} reads {target}, which the save "
                        "would overwrite")

    def _save_model_data(self, path: str) -> None:
        """Hook for state a ``_state`` type cannot hold (sub-stages, a
        pyspark.ml model with its own writer)."""

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        return load_stage(spark, path, cls)

    def _load_state(self, spark: SparkSession, path: str,
                    meta: dict | None = None) -> None:
        """Restore the ``_state`` saved at ``path`` onto this stage, its
        params untouched: the second half of ``load``, which passes the
        ``metadata`` it has read, and how an index loader puts a saved
        model back onto a live operator."""
        state = (meta or _read_metadata(path))["state"]
        for name in self._state:
            key = name.lstrip("_")
            if key in state:
                value = state[key]
            elif os.path.isdir(os.path.join(path, key)):
                value = spark.read.parquet(os.path.join(path, key))
            else:
                with open(os.path.join(path, key), "rb") as f:
                    value = f.read()
            setattr(self, name, value)
        self._load_model_data(spark, path)

    def _load_model_data(self, spark: SparkSession, path: str) -> None:
        """Reads back what ``_save_model_data`` wrote."""


class AlgoOperator(Stage):
    """Stateless operator: ``transform(df) -> df`` (reference AlgoOperator)."""

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError


class Model(AlgoOperator):
    """Transformer backed by a model-data DataFrame, persisted as the
    ``_state`` parquet ``<path>/model_data``. A subclass that holds its
    fitted state in other attributes names those in its own
    ``_state``."""

    _state = ("_model_data",)

    def __init__(self):
        super().__init__()
        self._model_data: DataFrame | None = None

    def setModelData(self, model_data: DataFrame):
        self._model_data = model_data
        return self

    def getModelData(self) -> DataFrame:
        if self._model_data is None:
            raise ValueError("model data has not been set")
        return self._model_data


class Estimator(Stage):
    """``fit(df) -> Model`` (reference Estimator)."""

    def fit(self, df: DataFrame) -> Model:
        raise NotImplementedError


# --------------------------------------------------------------------------
# column helpers
# --------------------------------------------------------------------------


def as_double_array(df: DataFrame, col: str) -> F.Column:
    """Column expression reading ``col`` as ``array<double>``.

    Accepts ``VectorUDT`` (pyspark.ml vectors), ``array<numeric>``, or a
    single numeric column. Mirrors the reference's implicit
    ``((Vector) row.getField(featuresCol)).toDense()`` input contract
    (``topsis/Topsis.java:66-69``) while staying columnar/JVM-side.
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, VectorUDT):
        from pyspark.ml.functions import vector_to_array

        return vector_to_array(F.col(col)).cast(T.ArrayType(T.DoubleType()))
    if isinstance(dtype, T.ArrayType):
        return F.col(col).cast(T.ArrayType(T.DoubleType()))
    return F.array(F.col(col).cast("double"))


def sql_double(x: float | None) -> str:
    """SQL text for the double ``x`` that parses back to the same bits.

    Hot per-row projections (fitted applies with folded tables, score
    formulas) are built as ONE SQL string passed to ONE ``F.expr``: the
    Column API costs a driver→JVM py4j round trip per ``F.lit``, per
    operator and per function, hundreds for a 32-bucket table. The
    rendered expression keeps the Column build's operand order, so the
    optimized plan — and every output bit — is unchanged.

    Bit-exactness contract: ``repr`` is the shortest decimal that
    round-trips a Python float, and Spark parses a ``D``-suffixed
    literal with ``Double.parseDouble``, so ``F.expr(sql_double(x))``
    evaluates to exactly ``x`` (``-0.0`` and subnormals included).
    NaN and ±Infinity have no literal form: they render as a cast the
    optimizer folds back to the literal. ``None`` renders a typed NULL.
    Negative values are parenthesised so ``a - (-1.0D)`` never lexes
    as a ``--`` comment.
    """
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"
    text = repr(x) + "D"
    return f"({text})" if text.startswith("-") else text


def sql_sum(terms) -> str:
    """SQL for Python's ``sum(terms)`` over Columns, in its exact shape
    ``((t0 + 0) + t1) + ...`` (``0 + t0`` builds ``t0 + 0``), so a
    projection moved to SQL text keeps its operand order and its bits.
    ``0`` for no terms, as ``sum([])``."""
    out = "0"
    for i, t in enumerate(terms):
        out = f"({t} + 0)" if i == 0 else f"({out} + {t})"
    return out


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (one column, never
    a nested-field path)."""
    return "`" + name.replace("`", "``") + "`"


def double_array_sql(df: DataFrame, col: str,
                     helper: str) -> tuple[DataFrame, str]:
    """``(df', sql)``: SQL text reading ``col`` of ``df'`` as
    ``array<double>`` — the SQL twin of :func:`as_double_array`.

    ``VectorUDT`` has no SQL cast, so a vector column is first projected
    through :func:`as_double_array` into the column ``helper`` (callers
    name it with their uid and drop it from their output); other types
    cast inline and ``df'`` is ``df``."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, VectorUDT):
        return (df.withColumn(helper, as_double_array(df, col)),
                sql_ident(helper))
    if isinstance(dtype, T.ArrayType):
        return df, f"CAST({sql_ident(col)} AS ARRAY<DOUBLE>)"
    return df, f"array(CAST({sql_ident(col)} AS DOUBLE))"


def array_width(df: DataFrame, col: str) -> int:
    """Number of elements in an array/vector column, sampled from the
    first NON-NULL row (size(NULL) is -1 with ANSI off — a NULL first
    row would silently corrupt every caller's dimensionality)."""
    row = (df.filter(F.col(col).isNotNull())
           .select(F.size(as_double_array(df, col)).alias("n")).first())
    if row is None:
        raise ValueError(
            f"cannot infer width of '{col}': no non-null rows")
    return int(row["n"])


def map_partials(df: DataFrame, kernel, *args) -> list:
    """``kernel(*mats, *args)`` on every non-empty Arrow batch of ``df``
    in ONE ``mapInPandas`` job, collected as a list of per-batch results.

    ``mats`` holds one numpy matrix per (array) column of ``df``, rows
    stacked. The kernel returns small partial aggregates (arrays or
    floats) that the caller combines on the driver — the MLlib
    treeAggregate shape, with row-count-independent traffic. An
    iterative fit that has its rows on the driver calls the same kernel
    on the collected matrices instead, so both branches share one piece
    of math.

    ``kernel`` must pickle BY VALUE: a function cloudpickle can import by
    name is pickled by reference, and every fresh Python worker then
    imports this package (pyspark.ml and friends, measured ~0.7 s) before
    its first batch. A function nested in the caller has a ``<locals>``
    qualname, which cloudpickle cannot import, so it ships the bytecode.
    """
    import pickle

    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if len(pdf):
                mats = [np.stack(pdf[c].to_numpy()) for c in pdf.columns]
                yield pd.DataFrame(
                    {"p": [pickle.dumps(kernel(*mats, *args))]})

    rows = df.mapInPandas(run, "p binary").collect()
    return [pickle.loads(r["p"]) for r in rows]


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when the source has fewer splits.

    Heavy per-row Arrow passes otherwise run in the few source tasks —
    the local test fixtures are single-row-group parquet, i.e. ONE
    split, which serializes the whole pass on one core. On a well-split
    source (the 100 TB lake case: one split per ~128 MB) this is a
    no-op, so no shuffle is added where the scan already parallelizes.
    """
    if df.isStreaming:
        # partition introspection (df.rdd) is a batch-only API; a
        # micro-batch inherits the source's split count and map-only
        # consumers of this helper run on streams unchanged
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
