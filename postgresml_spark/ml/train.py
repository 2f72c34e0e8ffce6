"""pgml.train equivalent: snapshot → preprocess → fit → score → deploy.

Reference lifecycle (api.rs:90-330, model.rs:60-160; SURVEY.md §3.1):
project find-or-create + task consistency → Snapshot (split + train-
partition stats + preprocessing plan) → estimator fit (optionally
grid/random hyperparameter search with k-fold CV, model.rs:560-610,
794-831) → test metrics (model.rs:614-721) → registry rows → auto-
deploy when the task metric beats the currently deployed model
(api.rs:251-317).

Spark shape: one driver function; the heavy lifting (stats pass, fit,
scoring) is distributed; registry writes are catalog-sized.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random as _random
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresml_spark.ml.algorithms import (
    TASK_CLASSIFICATION,
    TASK_CLUSTERING,
    TASK_DECOMPOSITION,
    TASK_METRIC,
    TASK_REGRESSION,
    make_estimator,
)
from postgresml_spark.ml.metrics import (
    classification_metrics,
    clustering_metrics,
    decomposition_metrics,
    regression_metrics,
)
from postgresml_spark.ml.registry import Registry
from postgresml_spark.preprocess.snapshot import Snapshot


def group_fold(group_col: str, k: int, seed: int = 42):
    """Group-coherent fold id in [0, k): every row of a group lands in
    the SAME fold (GroupKFold semantics — the leakage-safe assignment
    when near-duplicate rows / repeated entities exist, which is
    exactly what the dedup operators say real corpora look like).
    Hash-based, so layout-independent like the rand() folds."""
    return F.pmod(
        F.abs(F.hash(F.col(group_col).cast("string"), F.lit(seed))), F.lit(k)
    ).cast("int")


def strip_training_summary(fitted, spark: SparkSession):
    """Drop the JVM-side training summary from a freshly fitted model.

    Spark 4.1 models extending HasTrainingSummary retain the summary —
    whose predictions DataFrame pins the SparkSession — on the model
    object. The session's ObservationManager is not serializable, and a
    transform task closure can pick the model up through lazily
    canonicalized expressions, dying with NotSerializableException in
    an order-dependent way (seen as a cross-test flake on roc_auc).
    None of our paths read `.summary` off models fitted here (queries.py
    fits its own model where it wants a summary), so clear it eagerly.
    `setSummary` is private[ml] in Scala, which compiles to a public
    JVM method; models without the trait simply no-op.
    """
    jobj = getattr(fitted, "_java_obj", None)
    if jobj is not None:
        try:
            jobj.setSummary(spark._jvm.scala.Option.empty())
        except Exception:
            # observable failure (ADVICE r9 #3): if a future Spark
            # renames the package-private setSummary, the strip would
            # otherwise silently stop protecting the transform paths
            global _STRIP_WARNED
            if not _STRIP_WARNED:
                _STRIP_WARNED = True
                import logging

                logging.getLogger(__name__).warning(
                    "strip_training_summary: setSummary unavailable on "
                    "%s — training summaries are no longer stripped "
                    "(serialization flake guard inactive)",
                    type(fitted).__name__,
                )
    return fitted


_STRIP_WARNED = False


def _prep_ml_df(snap: Snapshot, which: str, task: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    df = snap.features(which)
    df = df.withColumn("features_vec", array_to_vector(F.col("features")))
    if snap.y_column is not None and task in (TASK_REGRESSION, TASK_CLASSIFICATION):
        df = df.withColumn("label", F.col(snap.y_column).cast("double"))
    return df


def _expand_search(hyperparams: dict, search: str | None, search_params: dict,
                   search_args: dict) -> list[dict]:
    """Grid = cartesian product; random = n_iter samples (model.rs:560-610)."""
    if not search or not search_params:
        return [hyperparams]
    keys = sorted(search_params)
    combos = [
        {**hyperparams, **dict(zip(keys, vals))}
        for vals in itertools.product(*[search_params[k] for k in keys])
    ]
    if search == "random":
        n_iter = int(search_args.get("n_iter", 10))
        rng = _random.Random(42)
        combos = rng.sample(combos, min(n_iter, len(combos)))
    return combos


def train(
    spark: SparkSession,
    project: str,
    task: str | None = None,
    relation: DataFrame | str | None = None,
    y_column: str | None = None,
    algorithm: str = "linear",
    hyperparams: dict | None = None,
    search: str | None = None,
    search_params: dict | None = None,
    search_args: dict | None = None,
    test_size: float = 0.25,
    test_sampling: str = "stratified",
    preprocess: dict | None = None,
    automatic_deploy: bool = True,
    order_col: str | None = None,
    registry: Registry | None = None,
) -> dict:
    """Train a model; returns {project, task, algorithm, deployed, metrics,
    model_id} (the reference's TableIterator row, api.rs:92-134)."""
    registry = registry or Registry(spark)
    if task is None:
        proj = registry.get_project(project)
        if proj is None:
            raise ValueError("task is required for a new project")
        task = proj["task"]
    project_id = registry.find_or_create_project(project, task)

    df = spark.table(relation) if isinstance(relation, str) else relation
    if df is None:
        raise ValueError("relation is required")

    sampling = test_sampling
    if sampling == "stratified" and task != TASK_CLASSIFICATION:
        sampling = "random"  # continuous labels have no strata
    snap = Snapshot(
        df, y_column, test_size=test_size, sampling=sampling,
        preprocess=preprocess, order_col=order_col,
    )
    snapshot_id = registry.add_snapshot(
        relation if isinstance(relation, str) else "<dataframe>",
        y_column or "", test_size, sampling,
        {p.name: p.stats for p in snap.model.plans},
    )

    train_ml = _prep_ml_df(snap, "train", task).cache()
    test_ml = _prep_ml_df(snap, "test", task).cache()

    combos = _expand_search(
        hyperparams or {}, search, search_params or {}, search_args or {}
    )
    target_metric, higher_better = TASK_METRIC[task]
    cv = int((search_args or {}).get("cv", 0))

    def _strip_summary(fitted):
        return strip_training_summary(fitted, spark)

    def _eval(fitted, eval_df):
        if task == TASK_DECOMPOSITION:
            return decomposition_metrics(fitted)
        pred = fitted.transform(eval_df)
        if task == TASK_CLUSTERING:
            return clustering_metrics(pred)
        return (
            regression_metrics(pred)
            if task == TASK_REGRESSION
            else classification_metrics(pred)
        )

    best = None  # (score, combo, runtime, cv_metrics)
    t0 = time.time()
    if cv >= 2 and len(combos) > 1 and task in (TASK_REGRESSION, TASK_CLASSIFICATION):
        # k-fold CV over the TRAIN partition to pick the combo
        # (Dataset::fold, dataset.rs:31-69; loop model.rs:794-831) —
        # the test partition stays held out for final metrics.
        # Fold assignment must be layout-independent: a modulo over
        # monotonically_increasing_id correlates folds with partition /
        # row position, so sorted input yields contiguous-block folds
        # and biased CV estimates. rand(seed) buckets are uniform
        # regardless of layout. search_args["cv_group"] switches to
        # group-coherent folds (GroupKFold): duplicated/near-duplicate
        # entities stay within one fold, so validation scores aren't
        # inflated by train/val twins.
        cv_group = (search_args or {}).get("cv_group")
        if cv_group:
            if cv_group not in train_ml.columns:
                raise ValueError(
                    f"cv_group column {cv_group!r} not in training relation"
                )
            fold_expr = group_fold(cv_group, cv)
        else:
            fold_expr = F.floor(F.rand(42) * cv).cast("int")
        folded = train_ml.withColumn("__fold", fold_expr).cache()
        for combo in combos:
            est, runtime = make_estimator(task, algorithm, combo)
            scores = []
            for k in range(cv):
                tr = folded.filter(F.col("__fold") != k)
                va = folded.filter(F.col("__fold") == k)
                m = _eval(_strip_summary(est.fit(tr)), va)
                s = m.get(target_metric)
                # empty validation folds (fewer distinct groups than
                # cv under cv_group, or a hash gap) yield NaN from the
                # evaluators — NaN would poison every later comparison
                # (NaN > x is always False), silently freezing model
                # selection on the first combo. Skip, don't propagate.
                if s is not None and not math.isnan(s):
                    scores.append(s if higher_better else -s)
            mean_s = sum(scores) / len(scores) if scores else None
            prev = best[0] if best is not None and best[0] is not None else -1e18
            if best is None or (mean_s is not None and mean_s > prev):
                best = (mean_s, combo, runtime, None)
        folded.unpersist()
        combos = [best[1]]  # refit winner on the full train partition

    best_fit = None  # (key, fitted, metrics, combo, runtime)
    for combo in combos:
        est, runtime = make_estimator(task, algorithm, combo)
        fitted = _strip_summary(est.fit(train_ml))
        m = _eval(
            fitted,
            test_ml
            if task != TASK_CLUSTERING or test_ml.count()
            else train_ml,
        )
        score = m.get(target_metric)
        key = score if higher_better else (-score if score is not None else None)
        if best_fit is None or (key is not None and key > best_fit[0]):
            best_fit = (key, fitted, m, combo, runtime)
    best = best_fit
    fit_time = time.time() - t0
    _, fitted, metrics, combo, runtime = best
    metrics["fit_time"] = fit_time

    model_id = registry.reserve_id("models")
    artifact = registry.artifact_dir(model_id)
    os.makedirs(artifact, exist_ok=True)
    fitted.write().overwrite().save(os.path.join(artifact, "model"))
    meta = {
        "model_class": type(fitted).__module__ + "." + type(fitted).__name__,
        "task": task,
        "algorithm": algorithm,
        "y_column": y_column,
        "preprocess_model": snap.model.to_json(),
    }
    with open(os.path.join(artifact, "meta.json"), "w") as f:
        json.dump(meta, f)
    registry.add_model(
        project_id, snapshot_id, algorithm, runtime, combo, metrics, artifact,
        model_id=model_id,
    )

    deployed = False
    if automatic_deploy:
        current = registry.deployed_model_id(project)
        cur_metric = registry.model_metric(current, target_metric) if current else None
        new_metric = metrics.get(target_metric)
        better = (
            cur_metric is None
            or new_metric is None
            or (new_metric > cur_metric if higher_better else new_metric < cur_metric)
        )
        if better:
            registry.add_deployment(project_id, model_id, "new_score")
            deployed = True

    train_ml.unpersist()
    test_ml.unpersist()
    return {
        "project": project,
        "task": task,
        "algorithm": algorithm,
        "deployed": deployed,
        "metrics": metrics,
        "model_id": model_id,
    }
