"""pgml.predict / predict_proba / decompose over the deployed model.

Reference hot path (§3.2, api.rs:439-540): shared-memory deployment map
+ per-process model cache → here the registry's stat-validated catalog
(one `os.stat` per call while no deploy happened) + a module-level
model cache keyed by artifact path (the executor-local lazy-singleton
pattern); batch inference is `model.transform(df)` — Spark's native
batching replaces pgml.predict_batch (api.rs:479-485).

Output policy (matching the reference's bindings, model.rs:337-420):
regression → raw prediction; classification → predicted class id;
predict_proba → class-probability array (binary: [1-p, p]).
"""

from __future__ import annotations

import importlib
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresml_spark.ml.registry import Registry
from postgresml_spark.preprocess.snapshot import PreprocessModel

_MODEL_CACHE: dict[str, tuple] = {}


def _load_artifact(artifact: str):
    """(fitted_model, meta, preprocess_model), cached per process
    (reference DEPLOYED_MODELS_BY_ID, model.rs:435-448)."""
    if artifact in _MODEL_CACHE:
        return _MODEL_CACHE[artifact]
    with open(os.path.join(artifact, "meta.json")) as f:
        meta = json.load(f)
    mod_name, cls_name = meta["model_class"].rsplit(".", 1)
    cls = getattr(importlib.import_module(mod_name), cls_name)
    model = cls.load(os.path.join(artifact, "model"))
    prep = PreprocessModel.from_json(meta["preprocess_model"])
    _MODEL_CACHE[artifact] = (model, meta, prep)
    return _MODEL_CACHE[artifact]


def _deployed_artifact(spark: SparkSession, project: str, registry: Registry | None,
                       model_id: int | None = None) -> str:
    """Artifact dir of the explicit model, else of the project's live
    deployment — read through the registry's stat-validated catalog, so
    a deploy from any process is seen on the next call."""
    registry = registry or Registry(spark)
    if model_id is None:
        row = registry.deployed_model(project)
        if row is None:
            raise ValueError(f"no deployed model for project {project!r}")
    else:
        row = registry.model_row(model_id)
        if row is None:
            raise ValueError(f"unknown model id {model_id}")
    return row["artifact_path"]


def _transform(spark, project, df, registry, model_id=None) -> tuple[DataFrame, dict]:
    from pyspark.ml.functions import array_to_vector

    artifact = _deployed_artifact(spark, project, registry, model_id)
    model, meta, prep = _load_artifact(artifact)
    feat = prep.transform(df).withColumn(
        "features_vec", array_to_vector(F.col("features"))
    )
    return model.transform(feat), meta


def predict(
    spark: SparkSession,
    project: str,
    df: DataFrame,
    registry: Registry | None = None,
    model_id: int | None = None,
    output_col: str = "prediction",
) -> DataFrame:
    """Batch inference with the deployed (or explicit) model; input df
    has raw feature columns — snapshot preprocessing is replayed
    (api.rs:523-540)."""
    out, meta = _transform(spark, project, df, registry, model_id)
    drop = [c for c in ("features", "features_vec", "rawPrediction", "probability",
                        "pca_features") if c in out.columns and c != output_col]
    if meta["task"] == "decomposition":
        from pyspark.ml.functions import vector_to_array

        return out.withColumn(output_col, vector_to_array("pca_features")).drop(*drop)
    if "prediction" in out.columns and output_col != "prediction":
        out = out.withColumnRenamed("prediction", output_col)
    return out.drop(*drop)


def predict_proba(
    spark: SparkSession,
    project: str,
    df: DataFrame,
    registry: Registry | None = None,
    model_id: int | None = None,
    output_col: str = "probabilities",
) -> DataFrame:
    """Class probabilities (api.rs:469-472; binary → [1-p, p])."""
    from pyspark.ml.functions import vector_to_array

    out, meta = _transform(spark, project, df, registry, model_id)
    if "probability" not in out.columns:
        raise ValueError("deployed model does not expose probabilities")
    out = out.withColumn(output_col, vector_to_array("probability"))
    drop = [c for c in ("features", "features_vec", "rawPrediction", "probability",
                        "prediction") if c in out.columns]
    return out.drop(*drop)


def decompose(
    spark: SparkSession,
    project: str,
    df: DataFrame,
    registry: Registry | None = None,
    output_col: str = "components",
) -> DataFrame:
    """Project features through the deployed PCA model (api.rs:487-492)."""
    return predict(spark, project, df, registry, output_col=output_col)


def predict_one(
    spark: SparkSession,
    project: str,
    features: list[float],
    registry: Registry | None = None,
    model_id: int | None = None,
) -> float:
    """Point-lookup inference: `pgml.predict('proj', ARRAY[...])`
    (api.rs:439-467) without launching a Spark job.

    The reference's OLTP hot path (§3.2: shared-memory deploy map +
    process model cache + in-process predict). Here: the cached local
    MLlib model's `.predict(Vector)` runs driver-side in microseconds —
    the parity fast path for single rows (batch `predict()` remains the
    throughput path; we do not chase 1M req/s serving, SURVEY §7).

    `features` are POST-preprocessing values (the array overload of
    pgml.predict, which bypasses snapshot replay); for raw-row inputs
    use `predict()`.
    """
    from pyspark.ml.linalg import Vectors

    artifact = _deployed_artifact(spark, project, registry, model_id)
    model, meta, _prep = _load_artifact(artifact)
    if not hasattr(model, "predict"):
        raise ValueError(
            f"model class {type(model).__name__} has no local predict; "
            "use batch predict()"
        )
    return float(model.predict(Vectors.dense([float(x) for x in features])))
