"""Which library calls a traced run wraps, and the per-layer metrics.

Every per-layer metric is measured over the traced loop and divided by
its number of passes (four serve requests, an ingest insert and update,
one batch pass of eleven ops), so runs of different length compare. Times are wall ms, not divided by the host probe. Exceptions say so in their
unit: ``session.start_s`` is once per run, ``*_ratio``/``*_frac`` and
``*_per_*`` are ratios, and ``query.<name>_s`` is a warm median.
Layers a workload never calls read 0.
"""

from __future__ import annotations

import math
import os
import statistics

from tracing import Tracer
from workloads import BATCH_QUERIES

# (module, owner attribute or None for a module-level function, names, span)
TARGETS = (
    ("postgresml_spark.collections.collection", "Collection",
     ("upsert_documents", "upsert_documents_df"), "collection.upsert"),
    ("postgresml_spark.collections.pipeline", "Pipeline", ("sync",), "pipeline.sync"),
    ("postgresml_spark.collections.pipeline", "Pipeline", ("embed_query",), "embed.query"),
    ("postgresml_spark.collections.storage", "VersionedTable",
     ("overwrite", "append"), "storage.write"),
    ("postgresml_spark.collections.storage", "BucketedVersionedTable",
     ("overwrite", "delta_overwrite", "partial_overwrite"), "storage.write"),
    ("postgresml_spark.collections.storage", None,
     ("overwrite_multi", "delta_overwrite_multi"), "storage.write"),
    ("postgresml_spark.collections.storage", "VersionedTable",
     ("read", "read_version"), "storage.read"),
    ("postgresml_spark.collections.storage", "BucketedVersionedTable",
     ("read", "read_version", "read_buckets"), "storage.read"),
    ("postgresml_spark.collections.serving", "ServedPipelineIndex", ("__init__",), "serving.build"),
    ("postgresml_spark.collections.serving", "ServedTextIndex", ("__init__",), "serving.build"),
    ("postgresml_spark.collections.serving", "ServedPipelineIndex", ("refresh",), "serving.refresh"),
    ("postgresml_spark.collections.serving", "ServedPipelineIndex",
     ("search", "best_chunk_scores", "candidate_chunk_scores", "best_chunk_scores_for_docs"),
     "serving.search"),
    ("postgresml_spark.collections.serving", "ServedTextIndex", ("best_chunk_scores",),
     "serving.search"),
    ("postgresml_spark.collections.search", None, ("vector_search", "hybrid_search"), "search"),
    ("postgresml_spark.operators.similarity", "ResidentHNSW", ("search",), "similarity.search"),
    ("postgresml_spark.operators.similarity", "ResidentANN", ("search",), "similarity.search"),
    ("postgresml_spark.operators.similarity", "ResidentHNSW", ("add",), "similarity.add"),
    ("postgresml_spark.operators.similarity", "ResidentHNSW", ("__init__",), "similarity.build"),
    ("postgresml_spark.operators.similarity", "ResidentANN", ("__init__",), "similarity.build"),
    ("postgresml_spark.operators.filter_dsl", None,
     ("compile_filter", "compile_filter_py"), "filter_dsl.compile"),
    ("postgresml_spark.ml.train", None, ("train",), "train"),
    ("postgresml_spark.preprocess.snapshot", "Snapshot", ("__init__",), "snapshot"),
    ("postgresml_spark.ml.registry", "Registry",
     ("find_or_create_project", "get_project", "add_snapshot", "add_model",
      "add_deployment", "deployed_model_id", "model_row", "model_metric", "read"),
     "registry"),
    ("postgresml_spark.ml.deploy", None, ("deploy",), "deploy"),
    ("postgresml_spark.ml.predict", None, ("predict_one",), "predict.one"),
)

# name -> unit; BENCHMARK.json's per_layer list is this, in this order
METRICS = {
    "session.start_s": "s",
    "collection.upsert_calls": "1/pass",
    "collection.upsert_ms": "ms/pass",
    "pipeline.sync_calls": "1/pass",
    "pipeline.sync_ms": "ms/pass",
    "pipeline.rows_rederived": "1/pass",
    "pipeline.rederived_per_changed_doc": "ratio",
    "storage.write_calls": "1/pass",
    "storage.write_ms": "ms/pass",
    "storage.read_ms": "ms/pass",
    "storage.files_written": "1/pass",
    "storage.bytes_per_user_byte": "ratio",
    "serving.build_ms": "ms/pass",
    "serving.refresh_calls": "1/pass",
    "serving.refresh_ms": "ms/pass",
    "serving.search_ms": "ms/pass",
    "serving.filter_cache_hit_ratio": "ratio",
    "search.calls": "1/pass",
    "search.self_ms": "ms/pass",
    "similarity.search_calls": "1/pass",
    "similarity.search_ms": "ms/pass",
    "similarity.add_ms": "ms/pass",
    "similarity.build_ms": "ms/pass",
    "filter_dsl.compile_calls": "1/pass",
    "embed.query_ms": "ms/pass",
    "train.fit_ms": "ms/pass",
    "snapshot.ms": "ms/pass",
    "registry.ms": "ms/pass",
    "deploy.ms": "ms/pass",
    "predict.batch_ms": "ms/pass",
    "predict.one_ms": "ms/pass",
    **{f"query.{q}_s": "s" for q in BATCH_QUERIES},
    "spark.jobs": "1/pass",
    "spark.stages": "1/pass",
    "spark.tasks": "1/pass",
    "spark.job_cover_frac": "ratio",
    "spark.executor_run_ms": "ms/pass",
    "spark.executor_cpu_ms": "ms/pass",
    "spark.shuffle_read_bytes": "B/pass",
    "spark.shuffle_write_bytes": "B/pass",
    "spark.spill_bytes": "B/pass",
    "spark.catalyst_ms": "ms/pass",
    "py4j.calls": "1/pass",
    "trace.overhead_frac": "ratio",
}


def install(tracer: Tracer) -> None:
    """Wrap every TARGETS call, plus the counters that need arguments
    or results: rows re-derived by a sync, docs per upsert, fit time,
    and filter-bitmap cache hits of the served index."""
    import importlib

    from postgresml_spark.collections import serving

    def filter_counting(orig):
        def search(self, *args, **kwargs):
            filt = kwargs.get("filter")
            before = len(self._filter_cache)
            out = orig(self, *args, **kwargs)
            if filt:
                tracer.count("serving.filter_lookups")
                tracer.count("serving.filter_hits", len(self._filter_cache) == before)
            return out
        return search

    tracer.wrap_callable(serving.ServedPipelineIndex, "search", filter_counting)
    after = {
        "pipeline.sync": lambda out, a, k: tracer.count(
            "pipeline.rows_rederived", sum((out or {}).values())),
        "collection.upsert": lambda out, a, k: tracer.count(
            "collection.docs_upserted", len(a[1]) if isinstance(a[1], list) else 0),
        "train": lambda out, a, k: tracer.count(
            "train.fit_ms", out["metrics"]["fit_time"] * 1e3),
    }
    for mod_name, owner_name, attrs, span in TARGETS:
        mod = importlib.import_module(mod_name)
        owner = getattr(mod, owner_name) if owner_name else mod
        for attr in attrs:
            if owner_name is None or attr in vars(owner):
                tracer.wrap(owner, attr, span, after.get(span))


class StorageProbe:
    """Files and bytes the warehouse gained, found by walking it after
    each operation that wrote (new inodes only, so hard links of
    unchanged files do not count)."""

    def __init__(self, root: str):
        self.root = root
        self.seen = self._inodes()

    def _inodes(self) -> dict[int, int]:
        out = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                out[st.st_ino] = st.st_size
        return out

    def delta(self) -> tuple[int, int]:
        now = self._inodes()
        new = [size for ino, size in now.items() if ino not in self.seen]
        self.seen = now
        return len(new), sum(new)


def metrics(tracer: Tracer, spark_rows: dict, loop, ref, kinds, pass_ops: int,
            ctx) -> tuple[dict, dict]:
    """(per-layer metrics {name: (value, unit)}, per-op-type detail)."""
    agg = tracer.aggregate()
    ops = [op for op in agg if op != "setup"]
    passes = max(loop.passes(pass_ops), 1e-9)

    def span_sum(name: str, field: str) -> float:
        return sum(agg[op].get(name, {}).get(field, 0.0) for op in ops)

    def count(name: str) -> float:
        return sum(v for (op, n), v in tracer.counts.items() if n == name and op is not None)

    def spark(field: str) -> float:
        return sum(row[field] for row in spark_rows.values())

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    per_pass = {
        "collection.upsert_calls": span_sum("collection.upsert", "count"),
        "collection.upsert_ms": span_sum("collection.upsert", "busy_ms"),
        "pipeline.sync_calls": span_sum("pipeline.sync", "count"),
        "pipeline.sync_ms": span_sum("pipeline.sync", "busy_ms"),
        "pipeline.rows_rederived": count("pipeline.rows_rederived"),
        "storage.write_calls": span_sum("storage.write", "count"),
        "storage.write_ms": span_sum("storage.write", "busy_ms"),
        "storage.read_ms": span_sum("storage.read", "busy_ms"),
        "storage.files_written": count("storage.files_written"),
        "serving.build_ms": span_sum("serving.build", "busy_ms"),
        "serving.refresh_calls": span_sum("serving.refresh", "count"),
        "serving.refresh_ms": span_sum("serving.refresh", "busy_ms"),
        "serving.search_ms": span_sum("serving.search", "busy_ms"),
        "search.calls": span_sum("search", "count"),
        "search.self_ms": span_sum("search", "self_ms"),
        "similarity.search_calls": span_sum("similarity.search", "count"),
        "similarity.search_ms": span_sum("similarity.search", "busy_ms"),
        "similarity.add_ms": span_sum("similarity.add", "busy_ms"),
        "similarity.build_ms": span_sum("similarity.build", "busy_ms"),
        "filter_dsl.compile_calls": span_sum("filter_dsl.compile", "count"),
        "embed.query_ms": span_sum("embed.query", "busy_ms"),
        "train.fit_ms": count("train.fit_ms"),
        "snapshot.ms": span_sum("snapshot", "busy_ms"),
        "registry.ms": span_sum("registry", "busy_ms"),
        "deploy.ms": span_sum("deploy", "busy_ms"),
        "predict.batch_ms": span_sum("op.predict", "busy_ms"),
        "predict.one_ms": span_sum("predict.one", "busy_ms"),
        "spark.jobs": spark("jobs"),
        "spark.stages": spark("stages"),
        "spark.tasks": spark("tasks"),
        "spark.executor_run_ms": spark("executor_run_ms"),
        "spark.executor_cpu_ms": spark("executor_cpu_ms"),
        "spark.shuffle_read_bytes": spark("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": spark("shuffle_write_bytes"),
        "spark.spill_bytes": spark("spill_bytes"),
        "spark.catalyst_ms": count("spark.catalyst_ms"),
        "py4j.calls": count("py4j.calls"),
    }
    out = {name: value / passes for name, value in per_pass.items()}
    out["session.start_s"] = ctx.session_s
    out["pipeline.rederived_per_changed_doc"] = ratio(
        count("pipeline.rows_rederived"), count("collection.docs_upserted"))
    out["storage.bytes_per_user_byte"] = ratio(count("storage.bytes_written"), ctx.user_bytes)
    out["serving.filter_cache_hit_ratio"] = ratio(
        count("serving.filter_hits"), count("serving.filter_lookups"))
    wall = spark("wall_s")
    out["spark.job_cover_frac"] = ratio(
        sum(r["job_cover_frac"] * r["wall_s"] for r in spark_rows.values()), wall)
    for name in BATCH_QUERIES:
        out[f"query.{name}_s"] = loop.median(name) if name in loop.lat else 0.0
    logs = [math.log(loop.rel_median(k) / ref.rel_median(k))
            for k in kinds if k in loop.rel and k in ref.rel]
    out["trace.overhead_frac"] = math.expm1(statistics.fmean(logs)) if logs else 0.0

    detail = {}
    for op in ops:
        n = len(loop.lat.get(op, [])) or 1
        detail[op] = {
            "ops": len(loop.lat.get(op, [])),
            "spans": {name: {k: v / n for k, v in row.items()} for name, row in agg[op].items()},
            "counts": {name: v / n for (o, name), v in tracer.counts.items() if o == op},
            "spark": {k: (v / n if k != "job_cover_frac" else v)
                      for k, v in spark_rows.get(op, {}).items()},
            "rel_traced": loop.rel_median(op) if op in loop.rel else None,
            "rel_untraced": ref.rel_median(op) if op in ref.rel else None,
        }
    return {name: (out[name], unit) for name, unit in METRICS.items()}, detail
