"""Base classes shared by every operator in the engine.

The reference library (Flink ML) models each algorithm as an
``AlgoOperator`` / ``Estimator`` / ``Model`` with a typed ``Param`` map and
``save(path)`` / ``load(env, path)`` persistence (metadata JSON + optional
model-data table) — see /root/reference
``src/main/java/cn/swust/algorithms/ahp/AHP.java:42-46,549-556`` and
``fcm/FCMModel.java:41-50``.

Here the same contract is expressed in the ``pyspark.ml`` idiom:

* params         → ``pyspark.ml.param.Param`` on ``Params`` mixins
* AlgoOperator   → a ``Transformer`` (stateless ``transform(df) -> df``)
* Estimator      → ``Estimator.fit(df) -> Model``
* persistence    → params metadata JSON (``DefaultParamsWriter``-compatible
  layout: ``<path>/metadata``) plus, for models, a parquet model-data
  directory ``<path>/data``.

Feature columns are accepted either as ``pyspark.ml.linalg`` vectors
(``VectorUDT``) or as ``array<double>`` columns; internally all vector math
normalizes to ``array<double>`` so expressions stay inside Catalyst codegen
and results remain plain-SQL comparable.
"""

from __future__ import annotations

import json
import os
import time

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

    def __init__(self):
        super().__init__()
        self._setDefault(featuresCol="features")

    def getFeaturesCol(self) -> str:
        return self.getOrDefault(self.featuresCol)

    def setFeaturesCol(self, value: str):
        return self._set(featuresCol=value)


class HasPredictionCol(Params):
    predictionCol = Param(
        Params._dummy(), "predictionCol", "prediction column name",
        typeConverter=TypeConverters.toString)

    def __init__(self):
        super().__init__()
        self._setDefault(predictionCol="prediction")

    def getPredictionCol(self) -> str:
        return self.getOrDefault(self.predictionCol)

    def setPredictionCol(self, value: str):
        return self._set(predictionCol=value)


class HasInputCol(Params):
    inputCol = Param(
        Params._dummy(), "inputCol", "input column name",
        typeConverter=TypeConverters.toString)

    def __init__(self):
        super().__init__()
        self._setDefault(inputCol="input")

    def getInputCol(self) -> str:
        return self.getOrDefault(self.inputCol)

    def setInputCol(self, value: str):
        return self._set(inputCol=value)


class HasInputCols(Params):
    inputCols = Param(
        Params._dummy(), "inputCols", "input column names",
        typeConverter=TypeConverters.toListString)

    def __init__(self):
        super().__init__()

    def getInputCols(self) -> list[str]:
        return self.getOrDefault(self.inputCols)

    def setInputCols(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(inputCols=list(value))


class HasOutputCol(Params):
    outputCol = Param(
        Params._dummy(), "outputCol", "output column name",
        typeConverter=TypeConverters.toString)

    def __init__(self):
        super().__init__()
        self._setDefault(outputCol="output")

    def getOutputCol(self) -> str:
        return self.getOrDefault(self.outputCol)

    def setOutputCol(self, value: str):
        return self._set(outputCol=value)


class HasOutputCols(Params):
    outputCols = Param(
        Params._dummy(), "outputCols", "output column names",
        typeConverter=TypeConverters.toListString)

    def __init__(self):
        super().__init__()

    def getOutputCols(self) -> list[str]:
        return self.getOrDefault(self.outputCols)

    def setOutputCols(self, *value):
        if len(value) == 1 and isinstance(value[0], (list, tuple)):
            value = value[0]
        return self._set(outputCols=list(value))


class HasMaxIter(Params):
    maxIter = Param(
        Params._dummy(), "maxIter", "maximum number of iterations (>=0)",
        typeConverter=TypeConverters.toInt)

    def __init__(self):
        super().__init__()
        self._setDefault(maxIter=20)

    def getMaxIter(self) -> int:
        return self.getOrDefault(self.maxIter)

    def setMaxIter(self, value: int):
        return self._set(maxIter=value)


class HasSeed(Params):
    seed = Param(
        Params._dummy(), "seed", "random seed",
        typeConverter=TypeConverters.toInt)

    def __init__(self):
        super().__init__()
        self._setDefault(seed=0)

    def getSeed(self) -> int:
        return self.getOrDefault(self.seed)

    def setSeed(self, value: int):
        return self._set(seed=value)


class HasRelativeError(Params):
    """Exact-vs-approximate quantile switch for fit-time percentile
    aggregations (DriftMonitor, Winsorizer, PerplexityBucketer).

    Default 0.0 = exact ``percentile`` — deterministic and
    SQL-oracle-replayable, but Spark's exact percentile merges a full
    value→count map on a single final aggregation buffer, which on a
    100 TB high-cardinality double column is an OOM, not a slowdown.
    Setting ``relativeError`` > 0 (e.g. 0.001) switches the fit to
    ``approx_percentile`` (Greenwald-Khanna sketch, accuracy =
    ceil(1/relativeError)): bounded memory per partial, mergeable,
    and rank error ≤ relativeError · n — the production path at scale.
    """

    relativeError = Param(
        Params._dummy(), "relativeError",
        "0.0 = exact percentile; > 0 switches the quantile fit to "
        "approx_percentile with this relative rank error",
        typeConverter=TypeConverters.toFloat)

    def __init__(self):
        super().__init__()
        self._setDefault(relativeError=0.0)

    def getRelativeError(self) -> float:
        return self.getOrDefault(self.relativeError)

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
        import math

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

    def __init__(self):
        super().__init__()
        self._setDefault(distanceMeasure="euclidean")

    def getDistanceMeasure(self) -> str:
        return self.getOrDefault(self.distanceMeasure)

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

    def __init__(self):
        super().__init__()
        self._setDefault(windows=None)

    def getWindows(self):
        return self.getOrDefault(self.windows)

    def setWindows(self, value):
        return self._set(windows=value)


class HasTimeCol(Params):
    timeCol = Param(
        Params._dummy(), "timeCol", "event-time (rowtime) column name",
        typeConverter=TypeConverters.toString)

    def __init__(self):
        super().__init__()
        self._setDefault(timeCol="rowtime")

    def getTimeCol(self) -> str:
        return self.getOrDefault(self.timeCol)

    def setTimeCol(self, value: str):
        return self._set(timeCol=value)


# --------------------------------------------------------------------------
# stage base classes
# --------------------------------------------------------------------------


class Stage(Params):
    """Common save/load for every stage (params-metadata JSON).

    ``uid`` comes from ``pyspark.ml.util.Identifiable`` (class name +
    random hex), assigned inside ``Params.__init__``.
    """

    # -- persistence --------------------------------------------------------

    def _params_to_json(self) -> dict:
        payload = {}
        for p in self.params:
            if self.isSet(p) or self.hasDefault(p):
                payload[p.name] = self.getOrDefault(p)
        return payload

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        meta = {
            "class": f"{type(self).__module__}.{type(self).__name__}",
            "timestamp": int(time.time() * 1000),
            "uid": self.uid,
            "paramMap": self._params_to_json(),
        }
        with open(os.path.join(path, "metadata"), "w") as f:
            json.dump(meta, f)
        self._save_model_data(path)

    def _save_model_data(self, path: str) -> None:  # overridden by models
        pass

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        with open(os.path.join(path, "metadata")) as f:
            meta = json.load(f)
        expected = f"{cls.__module__}.{cls.__name__}"
        if meta["class"] != expected:
            raise ValueError(f"cannot load {meta['class']} as {expected}")
        inst = cls()
        for p in inst.params:
            if p.name in meta["paramMap"]:
                value = meta["paramMap"][p.name]
                if value is not None:
                    inst._set(**{p.name: p.typeConverter(value)})
        inst._load_model_data(spark, path)
        return inst

    def _load_model_data(self, spark: SparkSession, path: str) -> None:
        pass


class AlgoOperator(Stage):
    """Stateless operator: ``transform(df) -> df`` (reference AlgoOperator)."""

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError


class Model(AlgoOperator):
    """Transformer backed by a model-data DataFrame."""

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

    def _save_model_data(self, path: str) -> None:
        if self._model_data is not None:
            self._model_data.write.mode("overwrite").parquet(
                os.path.join(path, "data"))

    def _load_model_data(self, spark: SparkSession, path: str) -> None:
        data_path = os.path.join(path, "data")
        if os.path.isdir(data_path):
            self._model_data = spark.read.parquet(data_path)


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
