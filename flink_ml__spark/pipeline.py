"""Stage composition: ``Pipeline`` chains AlgoOperators/Estimators the
way a reference user chains ``transform`` calls by hand.

The reference has no Pipeline class — its examples thread tables through
stages manually (e.g. ``example/AutoFeatureTransformerExample.java``) —
but its stages follow the flink-ml Estimator/AlgoOperator contract this
engine mirrors, so composition is the natural completion of the API.
``fit`` walks the stages: transformers apply, estimators fit on the
current frame and their models apply; the result is a ``PipelineModel``
of pure transformers. Save/load delegates to each stage's own
persistence (``Stage.save``: one metadata JSON with params and fitted
state), one numbered subdir per stage; ``base.load_stage`` resolves
each subdir's class from that same metadata read.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from flink_ml__spark.base import AlgoOperator, Estimator, Stage, load_stage


class _StageListPersistence:
    """Stage-list save/load through the standard ``Stage`` hooks, so a
    Pipeline/PipelineModel also writes its own ``metadata`` file and
    can therefore NEST as a stage of another pipeline (``load_stage``
    resolves every stage dir through its metadata)."""

    def _save_model_data(self, path: str) -> None:
        with open(os.path.join(path, "pipeline"), "w") as f:
            json.dump({"n_stages": len(self.stages)}, f)
        for i, stage in enumerate(self.stages):
            stage.save(os.path.join(path, f"stage_{i}"))

    def _load_model_data(self, spark: SparkSession, path: str) -> None:
        with open(os.path.join(path, "pipeline")) as f:
            n = json.load(f)["n_stages"]
        self.stages = [load_stage(spark, os.path.join(path, f"stage_{i}"))
                       for i in range(n)]


class PipelineModel(_StageListPersistence, AlgoOperator):
    """A fitted chain: every stage is a transformer."""

    def __init__(self, stages: list[AlgoOperator] | None = None):
        super().__init__()
        self.stages = stages or []

    def transform(self, df: DataFrame) -> DataFrame:
        for stage in self.stages:
            df = stage.transform(df)
        return df


class Pipeline(_StageListPersistence, Estimator):
    """Ordered stages; ``fit`` produces a :class:`PipelineModel`.
    Save/load persists the (unfitted) stages too — a saved Pipeline
    reloads ready to ``fit``."""

    def __init__(self, stages: list[Stage] | None = None):
        super().__init__()
        self.stages = stages or []

    def setStages(self, stages: list[Stage]) -> "Pipeline":
        self.stages = list(stages)
        return self

    def fit(self, df: DataFrame) -> PipelineModel:
        fitted: list[AlgoOperator] = []
        current = df
        for stage in self.stages:
            if isinstance(stage, Estimator):
                model = stage.fit(current)
            elif isinstance(stage, AlgoOperator):
                model = stage
            else:
                raise TypeError(f"not a pipeline stage: {type(stage)}")
            current = model.transform(current)
            fitted.append(model)
        return PipelineModel(fitted)
