"""pgml.train_joint / predict_joint: multi-output regression.

Reference (api.rs:136-330 train_joint; predict_joint api.rs:474-477,
511-515): one project over multiple y columns, predictions returned as
a vector per row. MLlib has no multi-output regressor, so the joint
model is one fitted estimator per target sharing a single snapshot —
the same preprocessing pass and splits, k independent fits (they
parallelize as independent Spark jobs), and a predict that assembles
the per-target predictions into an array column.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresml_spark.ml.algorithms import make_estimator
from postgresml_spark.ml.metrics import regression_metrics
from postgresml_spark.ml.registry import Registry
from postgresml_spark.ml.train import strip_training_summary
from postgresml_spark.preprocess.snapshot import Snapshot


def train_joint(
    spark: SparkSession,
    project: str,
    relation: DataFrame,
    y_columns: list[str],
    algorithm: str = "linear",
    hyperparams: dict | None = None,
    test_size: float = 0.25,
    test_sampling: str = "random",
    preprocess: dict | None = None,
    order_col: str | None = None,
    registry: Registry | None = None,
) -> dict:
    registry = registry or Registry(spark)
    project_id = registry.find_or_create_project(project, "regression")

    from pyspark.ml.functions import array_to_vector

    # one snapshot over all targets: drop every y from features
    feature_df = relation
    snap = Snapshot(
        feature_df.drop(*y_columns[1:]),  # Snapshot excludes only y_column
        y_columns[0],
        test_size=test_size,
        sampling="random" if test_sampling == "stratified" else test_sampling,
        preprocess=preprocess,
        order_col=order_col,
    )
    # keep all targets alongside the features
    train_feat = snap.model.transform(
        relation.join(
            snap.train_df.select(order_col or snap.train_df.columns[0]),
            order_col or snap.train_df.columns[0],
            "left_semi",
        )
    ).withColumn("features_vec", array_to_vector(F.col("features")))
    test_feat = snap.model.transform(
        relation.join(
            snap.test_df.select(order_col or snap.test_df.columns[0]),
            order_col or snap.test_df.columns[0],
            "left_semi",
        )
    ).withColumn("features_vec", array_to_vector(F.col("features")))

    snapshot_id = registry.add_snapshot(
        "<dataframe>", ",".join(y_columns), test_size, test_sampling,
        {p.name: p.stats for p in snap.model.plans},
    )

    metrics: dict[str, dict] = {}
    model_id = registry.reserve_id("models")
    artifact = registry.artifact_dir(model_id)
    os.makedirs(artifact, exist_ok=True)
    t0 = time.time()
    for y in y_columns:
        est, runtime = make_estimator("regression", algorithm, dict(hyperparams or {}))
        fitted = strip_training_summary(
            est.fit(train_feat.withColumn("label", F.col(y).cast("double"))),
            spark,
        )
        pred = fitted.transform(test_feat.withColumn("label", F.col(y).cast("double")))
        metrics[y] = regression_metrics(pred)
        fitted.write().overwrite().save(os.path.join(artifact, f"model_{y}"))
        model_class = type(fitted).__module__ + "." + type(fitted).__name__
    meta = {
        "joint": True,
        "y_columns": y_columns,
        "model_class": model_class,
        "task": "regression",
        "algorithm": algorithm,
        "preprocess_model": snap.model.to_json(),
    }
    with open(os.path.join(artifact, "meta.json"), "w") as f:
        json.dump(meta, f)
    agg = {
        "r2_mean": sum(m["r2"] for m in metrics.values()) / len(metrics),
        "per_target": metrics,
        "fit_time": time.time() - t0,
        "r2": sum(m["r2"] for m in metrics.values()) / len(metrics),
    }
    registry.add_model(
        project_id, snapshot_id, algorithm, "mllib", hyperparams or {}, agg,
        artifact, model_id=model_id,
    )
    registry.add_deployment(project_id, model_id, "new_score")
    return {"project": project, "y_columns": y_columns, "metrics": agg,
            "model_id": model_id}


def predict_joint(
    spark: SparkSession,
    project: str,
    df: DataFrame,
    registry: Registry | None = None,
    output_col: str = "predictions",
) -> DataFrame:
    """Vector of per-target predictions (api.rs:474-477)."""
    import importlib

    from pyspark.ml.functions import array_to_vector

    from postgresml_spark.preprocess.snapshot import PreprocessModel

    registry = registry or Registry(spark)
    mid = registry.deployed_model_id(project)
    if mid is None:
        raise ValueError(f"no deployed model for project {project!r}")
    artifact = registry.model_row(mid)["artifact_path"]
    with open(os.path.join(artifact, "meta.json")) as f:
        meta = json.load(f)
    if not meta.get("joint"):
        raise ValueError(f"project {project!r} is not a joint model")
    prep = PreprocessModel.from_json(meta["preprocess_model"])
    mod_name, cls_name = meta["model_class"].rsplit(".", 1)
    cls = getattr(importlib.import_module(mod_name), cls_name)
    feat = prep.transform(df).withColumn(
        "features_vec", array_to_vector(F.col("features"))
    )
    out = feat
    pred_cols = []
    for y in meta["y_columns"]:
        model = cls.load(os.path.join(artifact, f"model_{y}"))
        out = (
            model.transform(out)
            .withColumnRenamed("prediction", f"__pred_{y}")
        )
        pred_cols.append(f"__pred_{y}")
    out = out.withColumn(output_col, F.array(*[F.col(c) for c in pred_cols]))
    return out.drop(*pred_cols, "features", "features_vec")
