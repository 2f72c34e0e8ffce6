"""pgml.deploy: change the live model for a project.

Strategies (api.rs:332-437; orm/strategy.rs:6-13): new_score (only via
train's auto-deploy), best_score, most_recent, rollback, specific.
Metric direction per task from task.rs:91-103 (TASK_METRIC).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from postgresml_spark.ml.algorithms import TASK_METRIC
from postgresml_spark.ml.registry import Registry


def deploy(
    spark: SparkSession,
    project: str,
    strategy: str = "best_score",
    algorithm: str | None = None,
    model_id: int | None = None,
    registry: Registry | None = None,
) -> dict:
    registry = registry or Registry(spark)
    proj = registry.get_project(project)
    if proj is None:
        raise ValueError(f"unknown project {project!r}")
    models = [
        m for m in registry.rows("models")
        if m["project_id"] == proj["id"] and (not algorithm or m["algorithm"] == algorithm)
    ]

    if strategy == "specific":
        if model_id is None:
            raise ValueError("strategy='specific' requires model_id")
        chosen = model_id
    elif strategy == "most_recent":
        if not models:
            raise ValueError("no models to deploy")
        chosen = max(m["id"] for m in models)
    elif strategy == "rollback":
        deps = sorted(
            (d for d in registry.rows("deployments") if d["project_id"] == proj["id"]),
            key=lambda d: d["id"], reverse=True,
        )
        if len(deps) < 2:
            raise ValueError("no previous deployment to roll back to")
        chosen = deps[1]["model_id"]
    elif strategy == "best_score":
        metric, higher = TASK_METRIC[proj["task"]]
        if not models:
            raise ValueError("no models to deploy")
        scored = [(json.loads(m["metrics"]).get(metric), m["id"]) for m in models]
        scored = [(s, i) for s, i in scored if s is not None]
        chosen = (max if higher else min)(scored)[1]
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    registry.add_deployment(proj["id"], chosen, strategy)
    return {"project": project, "strategy": strategy, "model_id": chosen}
