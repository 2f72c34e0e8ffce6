"""Model/project/deployment registry as one driver-side JSON catalog.

Reference catalog (pgml-extension/sql/schema.sql): pgml.projects
(:49-57), pgml.snapshots (:63-75), pgml.models (:82-102),
pgml.deployments (:108-119), pgml.files (:124-135), plus the views
pgml.overview / trained_models / deployed_models (:141-207).

Spark translation: the four tables are catalog-sized, not data-sized,
so they live in one ``catalog.json`` under the warehouse dir: each
table's rows plus a ``next_id`` counter per table (the SERIAL
sequences). No registry call runs a Spark job; only ``read`` /
``overview`` / ``dump_all`` (which return or write DataFrames),
``load_all`` (which reads a CSV dump) and the one-time import of an
old parquet-layout registry touch Spark.

- Writes. Every mutation holds ``fcntl.flock`` on ``catalog.lock``
  while it reads the catalog, changes it, writes a temp file and
  ``os.replace``s it over ``catalog.json`` — readers see the old or
  the new catalog, never a partial one, and two writers (threads or
  processes) never lose each other's rows.
- Ids. Ids are allocated inside the lock from ``next_id``, which only
  grows: a reserved id (``reserve_id``, used when the artifact dir must
  be named before the row exists) is never handed out again, and an
  inserted or loaded id bumps the counter past itself.
- Reads. The parsed catalog is cached per process, keyed by path and
  ``os.stat`` (inode, mtime_ns, size), with its lookup indexes (project
  by name, latest deployment per project, model by id) built once per
  parse. While the file is unchanged a lookup costs one ``stat`` and no
  read, and a write from another process is seen on the next call —
  the role of the reference's shared-memory deployment map
  (project.rs:78-94).

Model bytes (pgml.files' BYTEA chunks) become MLlib's native
model.save() directories under ``artifacts/``; predict.py loads them
lazily and caches them per process like the reference's
DEPLOYED_MODELS_BY_ID (model.rs:435-448).
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import DataFrame, Row, SparkSession

_SCHEMAS = {
    "projects": "id long, name string, task string, created_at double",
    "snapshots": (
        "id long, relation string, y_column string, test_size double, "
        "sampling string, columns string, created_at double"
    ),
    "models": (
        "id long, project_id long, snapshot_id long, algorithm string, "
        "runtime string, hyperparams string, metrics string, status string, "
        "artifact_path string, created_at double"
    ),
    "deployments": "id long, project_id long, model_id long, strategy string, created_at double",
}
_COLUMNS = {
    t: [c.strip().split(" ")[0] for c in s.split(",")] for t, s in _SCHEMAS.items()
}
_OVERVIEW_SCHEMA = (
    "model_id long, project_id long, name string, task string, "
    "deployment_id long, algorithm string, metrics string"
)


class _Catalog:
    """One parse of catalog.json: rows as ``Row``s plus lookup indexes."""

    def __init__(self, doc: dict):
        self.rows = {
            t: [Row(**{c: r[c] for c in _COLUMNS[t]}) for r in doc.get(t, [])]
            for t in _SCHEMAS
        }
        self.project_by_name = {r["name"]: r for r in self.rows["projects"]}
        self.model_by_id = {r["id"]: r for r in self.rows["models"]}
        self.latest_deployment: dict[int, Row] = {}
        for d in self.rows["deployments"]:
            cur = self.latest_deployment.get(d["project_id"])
            if cur is None or d["id"] > cur["id"]:
                self.latest_deployment[d["project_id"]] = d


_EMPTY = _Catalog({})
# catalog path -> ((st_ino, st_mtime_ns, st_size), _Catalog)
_CACHE: dict[str, tuple[tuple[int, int, int], _Catalog]] = {}


def _stat_key(st: os.stat_result) -> tuple[int, int, int]:
    return (st.st_ino, st.st_mtime_ns, st.st_size)


class Registry:
    def __init__(self, spark: SparkSession | None, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse or os.environ.get(
            "PGML_SPARK_WAREHOUSE", os.path.join(os.getcwd(), ".pgml_warehouse")
        )
        os.makedirs(self.warehouse, exist_ok=True)
        self._catalog_path = os.path.join(self.warehouse, "catalog.json")
        self._lock_path = os.path.join(self.warehouse, "catalog.lock")

    # -- storage ------------------------------------------------------------

    def _catalog(self) -> _Catalog:
        """The current catalog: one ``stat`` while it is unchanged."""
        path = self._catalog_path
        try:
            key = _stat_key(os.stat(path))
        except FileNotFoundError:
            if not self._has_legacy_tables():
                return _EMPTY
            with self._mutate():  # imports the parquet tables once
                pass
            return self._catalog()
        hit = _CACHE.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]
        with open(path) as f:
            key = _stat_key(os.fstat(f.fileno()))
            cat = _Catalog(json.load(f))
        _CACHE[path] = (key, cat)
        return cat

    @contextmanager
    def _mutate(self) -> Iterator[dict]:
        """Yield the catalog document under the writer lock; publish it
        (temp file + ``os.replace``) when the body returns normally."""
        with open(self._lock_path, "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                with open(self._catalog_path) as f:
                    doc = json.load(f)
            except FileNotFoundError:
                doc = self._import_legacy_tables()
            yield doc
            tmp = f"{self._catalog_path}.{uuid.uuid4().hex}"
            try:
                with open(tmp, "w") as f:
                    json.dump(doc, f)
                    f.flush()
                    key = _stat_key(os.fstat(f.fileno()))
                os.replace(tmp, self._catalog_path)
            except BaseException:
                if os.path.exists(tmp):
                    os.remove(tmp)
                raise
            _CACHE[self._catalog_path] = (key, _Catalog(doc))

    @staticmethod
    def _insert(doc: dict, table: str, row: dict) -> int:
        """Append `row`, giving it the next id unless it carries one; the
        table's counter moves past the row's id either way."""
        nxt = doc.setdefault("next_id", {})
        rid = row.setdefault("id", nxt.get(table, 1))
        nxt[table] = max(nxt.get(table, 1), rid + 1)
        doc.setdefault(table, []).append(row)
        return rid

    def reserve_id(self, table: str) -> int:
        """Allocate an id of `table` ahead of its row (train names the
        artifact dir after the model id); it is never handed out again."""
        with self._mutate() as doc:
            nxt = doc.setdefault("next_id", {})
            rid = nxt.get(table, 1)
            nxt[table] = rid + 1
            return rid

    def rows(self, table: str) -> list[Row]:
        return self._catalog().rows[table]

    def read(self, table: str) -> DataFrame:
        return self.spark.createDataFrame(self.rows(table), _SCHEMAS[table])

    # -- one-time import of the parquet layout ---------------------------------

    def _has_legacy_tables(self) -> bool:
        return any(os.path.isdir(os.path.join(self.warehouse, t)) for t in _SCHEMAS)

    def _import_legacy_tables(self) -> dict:
        """Catalog document from a registry written as one parquet dir
        per table (the layout before catalog.json); empty if none."""
        doc: dict[str, Any] = {"next_id": {}}
        for t, schema in _SCHEMAS.items():
            src = os.path.join(self.warehouse, t)
            if not os.path.isdir(src):
                continue
            for r in self.spark.read.schema(schema).parquet(src).collect():
                self._insert(doc, t, r.asDict())
        return doc

    # -- projects -----------------------------------------------------------

    def find_or_create_project(self, name: str, task: str) -> int:
        row = self.get_project(name)
        if row is None:
            with self._mutate() as doc:
                row = next((p for p in doc.get("projects", []) if p["name"] == name), None)
                if row is None:
                    return self._insert(doc, "projects", {
                        "name": name, "task": task, "created_at": time.time(),
                    })
        if task and row["task"] != task:
            # api.rs:163-183 — task consistency check
            raise ValueError(
                f"project {name!r} exists with task {row['task']!r}, not {task!r}"
            )
        return row["id"]

    def get_project(self, name: str) -> Row | None:
        return self._catalog().project_by_name.get(name)

    # -- snapshots / models / deployments ------------------------------------

    def add_snapshot(self, relation: str, y_column: str, test_size: float,
                     sampling: str, columns: dict) -> int:
        with self._mutate() as doc:
            return self._insert(doc, "snapshots", {
                "relation": relation, "y_column": y_column,
                "test_size": float(test_size), "sampling": sampling,
                "columns": json.dumps(columns, default=str), "created_at": time.time(),
            })

    def add_model(self, project_id: int, snapshot_id: int, algorithm: str,
                  runtime: str, hyperparams: dict, metrics: dict,
                  artifact_path: str, model_id: int | None = None) -> int:
        row = {
            "project_id": project_id, "snapshot_id": snapshot_id,
            "algorithm": algorithm, "runtime": runtime,
            "hyperparams": json.dumps(hyperparams), "metrics": json.dumps(metrics),
            "status": "successful", "artifact_path": artifact_path,
            "created_at": time.time(),
        }
        with self._mutate() as doc:
            if model_id is not None:
                if any(m["id"] == model_id for m in doc.get("models", [])):
                    raise ValueError(f"model id {model_id} already exists")
                row["id"] = model_id
            return self._insert(doc, "models", row)

    def add_deployment(self, project_id: int, model_id: int, strategy: str) -> int:
        with self._mutate() as doc:
            return self._insert(doc, "deployments", {
                "project_id": project_id, "model_id": model_id,
                "strategy": strategy, "created_at": time.time(),
            })

    @staticmethod
    def _latest_deployment(cat: _Catalog, project_name: str) -> Row | None:
        proj = cat.project_by_name.get(project_name)
        return None if proj is None else cat.latest_deployment.get(proj["id"])

    def deployed_model_id(self, project_name: str) -> int | None:
        """Latest deployment for the project (schema.sql:199-205 view)."""
        dep = self._latest_deployment(self._catalog(), project_name)
        return None if dep is None else dep["model_id"]

    def deployed_model(self, project_name: str) -> Row | None:
        """Model row of the project's latest deployment, off one catalog
        lookup (the per-request path of predict)."""
        cat = self._catalog()
        dep = self._latest_deployment(cat, project_name)
        return None if dep is None else cat.model_by_id.get(dep["model_id"])

    def model_row(self, model_id: int) -> Row | None:
        return self._catalog().model_by_id.get(model_id)

    def model_metric(self, model_id: int, metric: str) -> float | None:
        row = self.model_row(model_id)
        if row is None:
            return None
        return json.loads(row["metrics"]).get(metric)

    # -- views (schema.sql:141-207) ------------------------------------------

    def overview(self) -> DataFrame:
        """Every project with its live deployment and model (NULLs when
        it has none)."""
        cat = self._catalog()
        out = []
        for p in cat.rows["projects"]:
            dep = cat.latest_deployment.get(p["id"])
            m = None if dep is None else cat.model_by_id.get(dep["model_id"])
            out.append((
                None if dep is None else dep["model_id"], p["id"], p["name"], p["task"],
                None if dep is None else dep["id"],
                None if m is None else m["algorithm"],
                None if m is None else m["metrics"],
            ))
        return self.spark.createDataFrame(out, _OVERVIEW_SCHEMA)

    def artifact_dir(self, model_id: int) -> str:
        return os.path.join(self.warehouse, "artifacts", f"model_{model_id}")

    # -- dump/load (pgml.dump_all / load_all, api.rs:1028-1074) ---------------

    def dump_all(self, path: str) -> list[str]:
        """COPY catalog tables to CSV under `path`."""
        out = []
        os.makedirs(path, exist_ok=True)
        for t in _SCHEMAS:
            df = self.read(t)
            dst = os.path.join(path, t)
            df.coalesce(1).write.mode("overwrite").option("header", True).csv(dst)
            out.append(dst)
        return out

    def load_all(self, path: str) -> dict[str, int]:
        """Restore catalog tables from a dump_all directory: each dumped
        table replaces its rows; id counters never move back."""
        loaded = {}
        for t, schema in _SCHEMAS.items():
            src = os.path.join(path, t)
            if os.path.exists(src):
                df = self.spark.read.schema(schema).option("header", True).csv(src)
                loaded[t] = [r.asDict() for r in df.collect()]
        with self._mutate() as doc:
            for t, rows in loaded.items():
                doc[t] = []
                for r in rows:
                    self._insert(doc, t, r)
        return {t: len(rows) for t, rows in loaded.items()}
