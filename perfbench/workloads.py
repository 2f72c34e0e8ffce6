"""The three perfbench workloads, driven through the library's public API.

Each workload has a set-up (timed as ``setup_s``), an untimed warm-up,
and a closed loop with one client: the next operation starts when the
previous one returns. The loop runs for at least ``--seconds`` and at
least ``MIN_OPS`` operations, so even a short run has whole passes.
Correctness checks run outside every timed region, after each op and
after the loop; so does the host-speed probe (``host_probe``).

- serve: online reads on a resident collection. Requests mix default
  vector search (pinned HNSW pipeline), hybrid search, lang-filtered
  vector search and single-row predict. Measured: no Spark job and no
  storage write per request, so write-path and scheduler changes
  should leave it unchanged.
- ingest: writes beside reads on a hybrid collection whose index the
  router picks (declared-default HNSW). Each round
  upserts new docs (append path) and then changed docs (rebuild
  path); each write is timed from upsert start until a search returns
  it, so cost moved between the write and the first read still shows.
- batch: offline Spark work at sf0.1, one catalog query per class
  (relational q01, operator q13, driver-bound q44) plus the ML
  lifecycle (train + deploy, batch predict). No serving tier, no
  versioned store.
"""

from __future__ import annotations

import importlib
import json
import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen

N_FEATURES = 4
TRAIN_ROWS = 1_000
PREDICT_ROWS = 200_000
INGEST_BATCH = 20
VISIBLE_TIMEOUT_S = 30.0
BATCH_QUERIES = ("q01_pricing_summary", "q13_knn_cosine", "q44_kmeans_k1_centroid")
# Operation kinds of each workload; a pass is one op of each kind (for
# serve nominal: requests are a seeded random mix of the kinds).
KINDS = {
    "serve": datagen.SERVE_KINDS,
    "ingest": ("insert", "update"),
    "batch": BATCH_QUERIES + ("train", "predict"),
}
# A batch pass runs its sub-second ops three times, so their medians
# rest on three samples: q01 and q13 in a seeded order with q44, then
# train + deploy, then predict with the model just deployed.
BATCH_SHUFFLED = [BATCH_QUERIES[0]] * 3 + [BATCH_QUERIES[1]] * 3 + [BATCH_QUERIES[2]]
BATCH_TAIL = ["train"] + ["predict"] * 3
# ingest: two rounds, so each write kind's median rests on two samples
MIN_OPS = {"serve": 400, "ingest": 4, "batch": len(BATCH_SHUFFLED) + len(BATCH_TAIL)}
# ops per pass; ingest and batch loops stop only between passes
PASS_OPS = {"serve": len(KINDS["serve"]), "ingest": 2, "batch": MIN_OPS["batch"]}
STEP = {"serve": 1, "ingest": 2, "batch": MIN_OPS["batch"]}
# serve: one pipeline carries the pinned HNSW index and the full-text
# index (served hybrid search scores the semantic side by an exact
# matvec, so a second, router-indexed pipeline would only add set-up)
SERVE_SCHEMA = {"text": {
    "semantic_search": {"model": "hash:32", "hnsw": {"m": 8, "ef_construction": 16}},
    "full_text_search": {"configuration": "english"},
}}
INGEST_SCHEMA = {"text": {
    "semantic_search": {"model": "hash:32", "hnsw": {}},
    "full_text_search": {"configuration": "english"},
}}


PROBE_LOOP = 20_000  # iterations of the host-speed probe (about 1.5 ms)
PROBE_EVERY_S = 0.05  # probe between ops, at most this often


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes: the host's current speed.

    On a shared 4-core x86_64 VM, single-threaded Python ran up to 1.5x
    slower for seconds to minutes at a time. Dividing each op's latency
    by probes taken around it cancels most of that drift: serve medians
    spread about 6% between runs this way, 15-40% raw.
    """
    t0 = time.perf_counter()
    acc = 0
    for i in range(PROBE_LOOP):
        acc += i * i % 7
    return time.perf_counter() - t0


class Failure(Exception):
    """An operation returned a wrong or incomplete result."""


class LoopResult:
    """Latencies per operation kind, plus the failures of one loop.

    ``lat`` holds seconds; ``rel`` the same latencies divided by the
    host-speed probe (median of the probe events nearest the op).
    """

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.rel: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0
        self.errors: list[str] = []
        self._ops: list[tuple[str, float, int]] = []  # kind, seconds, probes before
        self._probes: list[float] = []

    def probe(self) -> None:
        self._probes.append(statistics.median(host_probe() for _ in range(3)))

    def record(self, kind: str, dt: float) -> None:
        self.lat.setdefault(kind, []).append(dt)
        self._ops.append((kind, dt, len(self._probes)))

    def finish(self, wall: float) -> None:
        self.probe()
        self.wall = wall
        for kind, dt, p in self._ops:
            near = self._probes[max(0, p - 2):p + 2]
            self.rel.setdefault(kind, []).append(dt / statistics.median(near))

    def median(self, kind: str) -> float:
        return statistics.median(self.lat[kind])

    def probe_median(self) -> float:
        return statistics.median(self._probes)

    def rel_median(self, kind: str) -> float:
        return statistics.median(self.rel[kind])

    def percentile(self, kind: str, q: float) -> float:
        return float(np.percentile(self.lat[kind], q))

    def passes(self, pass_ops: int) -> float:
        return sum(len(v) for v in self.lat.values()) / pass_ops


def run_loop(ops, seconds: float, min_ops: int, step: int = 1, check=None,
             tracer=None, spark_probe=None, after=None) -> LoopResult:
    """Closed loop over ``ops`` (an iterator of (kind, fn)). ``fn()``
    raises on error; its wall time is the operation's latency. Stops
    after ``seconds`` and ``min_ops``, at a multiple of ``step`` ops (a
    whole pass), leaving the rest of ``ops`` for the next loop.
    Outside the timing, ``check(kind, result)`` raises ``Failure`` on a
    wrong result, ``after(kind)`` runs after each op, and the host-speed
    probe runs every ``PROBE_EVERY_S``."""
    res = LoopResult()
    res.probe()
    t_start = last_probe = time.perf_counter()
    n = 0
    while n < min_ops or n % step or time.perf_counter() - t_start < seconds:
        try:
            kind, fn = next(ops)
        except StopIteration:
            break
        n += 1
        res.attempted += 1
        try:
            if tracer is None:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            else:
                with spark_probe.operation(kind), tracer.operation(kind):
                    t0 = time.perf_counter()
                    out = fn()
                    dt = time.perf_counter() - t0
            if check is not None:
                check(kind, out)
        except Exception as e:  # one failed op must not end the run
            res.failed += 1
            res.errors.append(f"{kind}: {type(e).__name__}: {e}")
        else:
            res.record(kind, dt)
        if after is not None:
            after(kind)
        if time.perf_counter() - last_probe >= PROBE_EVERY_S:
            res.probe()
            last_probe = time.perf_counter()
    res.finish(time.perf_counter() - t_start)
    return res


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise Failure(msg)


# -- serve -------------------------------------------------------------------


def _vector_query(text: str, langs=None, limit: int = 10) -> dict:
    q: dict = {"query": {"fields": {"text": {"query": text}}}, "limit": limit}
    if langs is not None:
        q["query"]["filter"] = {"lang": {"$in": list(langs)}}
    return q


def _hybrid_query(text: str, ft_text: str, limit: int = 10,
                  sem_boost: float = 1.0) -> dict:
    return {"query": {
        "semantic_search": {"text": {"query": text, "boost": sem_boost}},
        "full_text_search": {"text": {"query": ft_text}},
    }, "limit": limit}


def _load_corpus(ctx, name: str):
    import pandas as pd

    from postgresml_spark.collections import Collection

    docs = datagen.documents()
    df = ctx.spark.createDataFrame(pd.DataFrame(
        {"id": docs["doc_id"], "text": docs["text"], "lang": docs["lang"]}))
    coll = Collection(name, ctx.spark, warehouse=ctx.warehouse)
    coll.upsert_documents_df(df)
    return coll, docs


def _train_model(ctx, project: str, relation, registry) -> dict:
    ml_train = importlib.import_module("postgresml_spark.ml.train")
    return ml_train.train(
        ctx.spark, project, task="regression", relation=relation,
        y_column="y", algorithm="linear", registry=registry,
    )


def serve(ctx) -> dict:
    import pandas as pd

    from postgresml_spark.collections import Pipeline
    ml_predict = importlib.import_module("postgresml_spark.ml.predict")
    from postgresml_spark.ml.registry import Registry

    spark = ctx.spark
    t0 = time.perf_counter()
    registry = Registry(spark, warehouse=os.path.join(ctx.warehouse, "registry"))
    mdf = spark.createDataFrame(pd.DataFrame(datagen.regression_rows(TRAIN_ROWS, datagen.CORPUS_SEED)))
    with ThreadPoolExecutor(1) as pool:
        # the model and the collection share no state: build them side by side
        trained = pool.submit(_train_model, ctx, "serve_model", mdf, registry)
        coll, docs = _load_corpus(ctx, "serve")
        pipe = Pipeline("serve", SERVE_SCHEMA)
        coll.add_pipeline(pipe)
        pipe.served_index("text").hnsw  # index builds are part of set-up
        pipe.served_text_index("text")
        ctx.mark("setup.collection")
        _check(trained.result()["deployed"], "serve model was not deployed")
    ctx.mark("setup.model")
    setup_s = ctx.session_s + time.perf_counter() - t0

    def op(req):
        kind = req["kind"]
        if kind == "vector":
            return kind, lambda: (req, coll.vector_search(_vector_query(req["text"]), pipe))
        if kind == "filtered":
            return kind, lambda: (
                req, coll.vector_search(_vector_query(req["text"], req["langs"]), pipe))
        if kind == "hybrid":
            return kind, lambda: (
                req, coll.search(_hybrid_query(req["text"], req["ft_text"]), pipe))
        return kind, lambda: (
            req, ml_predict.predict_one(spark, "serve_model", req["features"], registry=registry))

    # results are checked as they come, not kept: a growing heap of kept
    # results would slow the loop through the garbage collector
    recall_sample: list[tuple[str, list[int]]] = []
    one_sample: list[tuple[list[float], float]] = []

    def check(kind, result):
        req, out = result
        if kind == "predict_one":
            if len(one_sample) < 50:
                one_sample.append((req["features"], out))
            return
        scores = [r["score"] for r in out]
        _check(len(out) <= 10 and all(a >= b for a, b in zip(scores, scores[1:])),
               "results over the limit or not sorted by score")
        if kind == "filtered":
            _check(all(r["document"]["lang"] in req["langs"] for r in out),
                   "a result outside the lang filter")
        elif kind == "vector" and len(recall_sample) < 200:
            recall_sample.append((req["text"], [r["document_id"] for r in out]))

    # warm-up: first calls of each kind (lazy filter bitmaps, model load)
    warm = run_loop((op(r) for r in datagen.serve_requests(ctx.seed + 10_000)), 1.0, 40,
                    check=check)
    _check(warm.failed == 0, f"serve warm-up failed: {warm.errors[:3]}")
    recall_sample.clear()
    one_sample.clear()
    loop, layers = ctx.measure((op(r) for r in datagen.serve_requests(ctx.seed)), "serve", check)

    # -- recall and predict parity, outside the timed loop -------------------
    idx = pipe.served_index("text")
    recalls = []
    for text, got in recall_sample:
        q = np.asarray(pipe.embed_query(text, "text"), dtype=np.float64)
        cos = idx.mat64 @ q / np.maximum(idx.norms64 * np.linalg.norm(q), 1e-300)
        exact = {int(d) for d in idx.doc_ids[np.lexsort((idx.doc_ids, -cos))[:10]]}
        recalls.append(len(exact & {int(d) for d in got}) / 10)
    # predict_one must equal batch predict on the same rows
    bad = 0
    if one_sample:
        pdf = pd.DataFrame([f for f, _ in one_sample],
                           columns=[f"x{i + 1}" for i in range(N_FEATURES)])
        pdf["__i"] = range(len(one_sample))
        got = {r["__i"]: r["prediction"] for r in ml_predict.predict(
            spark, "serve_model", spark.createDataFrame(pdf), registry=registry
        ).select("__i", "prediction").collect()}
        bad = sum(not math.isclose(got[i], v, rel_tol=1e-9, abs_tol=1e-9)
                  for i, (_, v) in enumerate(one_sample))
    loop.failed += bad
    lat_all = [x for v in loop.lat.values() for x in v]
    detail = {f"{k}_p50_ms": loop.median(k) * 1e3 for k in KINDS["serve"]}
    detail.update({
        "serve_p90_ms": float(np.percentile(lat_all, 90)) * 1e3,
        "serve_qps": len(lat_all) / loop.wall,
        "vector_recall_at_10": float(np.mean(recalls)) if recalls else 0.0,
        "index_kind": idx.kind,
    })
    return {"setup_s": setup_s, "loop": loop, "detail": detail, "layers": layers}


# -- ingest ------------------------------------------------------------------


def ingest(ctx) -> dict:
    from postgresml_spark.collections import Pipeline

    t0 = time.perf_counter()
    coll, docs = _load_corpus(ctx, "ingest")
    ctx.mark("setup.corpus")
    hy = Pipeline("hybrid", INGEST_SCHEMA)
    coll.add_pipeline(hy)
    ctx.mark("setup.pipelines")
    hy.served_index("text")
    hy.served_text_index("text")
    ctx.mark("setup.indexes")
    setup_s = ctx.session_s + time.perf_counter() - t0

    text_of = dict(zip(docs["doc_id"], docs["text"]))
    pending_checks: list[tuple[str, dict]] = []

    def visible(batch: list[dict], tag: str) -> None:
        """Search for the batch's tag until every doc of the batch is
        returned with its new text (read-your-writes)."""
        want = {d["id"]: d["text"] for d in batch}
        # a tiny semantic boost: the rare-tag full-text score decides
        q = _hybrid_query(tag, tag, limit=len(batch), sem_boost=0.01)
        deadline = time.perf_counter() + VISIBLE_TIMEOUT_S
        while True:
            # document_id is the row id an upsert assigns; the user's id
            # is in the payload
            got = {r["document"]["id"]: r["document"]["text"] for r in coll.search(q, hy)}
            if got == want:
                return
            if time.perf_counter() > deadline:
                raise Failure(f"{tag}: {len(set(got) & set(want))}/{len(want)} visible")
            time.sleep(0.01)

    def write(kind: str, batch: list[dict], tag: str):
        def fn():
            coll.upsert_documents(batch)
            visible(batch, tag)
            return batch
        return kind, fn

    def check(kind, batch):
        ctx.user_bytes += sum(len(json.dumps(d, sort_keys=True)) for d in batch)
        if kind == "update":
            pending_checks.append((text_of[batch[0]["id"]], batch[0]))
        for d in batch:
            text_of[d["id"]] = d["text"]

    def ops(rounds):
        for r in rounds:
            yield write("insert", r["new"], r["new_tag"])
            yield write("update", r["changed"], r["changed_tag"])

    # warm-up: the first round's update runs the list upsert,
    # incremental sync, delta write and index refresh once
    rounds = datagen.ingest_rounds(ctx.seed, batch=INGEST_BATCH)
    first = next(rounds)
    warm = run_loop(iter([write("update", first["changed"], first["changed_tag"])]), 0, 1,
                    check=check)
    _check(warm.failed == 0, f"ingest warm-up failed: {warm.errors[:3]}")
    loop, layers = ctx.measure(ops(rounds), "ingest", check)

    # the old text of an updated doc is gone: searching it verbatim
    # must not return that doc with its old payload
    bad = 0
    for old, doc in pending_checks:
        res = coll.search(_hybrid_query(old, old.split()[0]), hy)
        bad += any(r["document"]["id"] == doc["id"] and r["document"]["text"] == old
                   for r in res)
    loop.failed += bad
    n_docs = INGEST_BATCH * sum(len(v) for v in loop.lat.values())
    detail = {
        "insert_visible_p50_s": loop.median("insert"),
        "update_visible_p50_s": loop.median("update"),
        "ingest_docs_per_s": n_docs / loop.wall,
        "hybrid_index_kind": hy.served_index("text").kind,
    }
    return {"setup_s": setup_s, "loop": loop, "detail": detail, "layers": layers}


# -- batch -------------------------------------------------------------------


def batch(ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry
    ml_deploy = importlib.import_module("postgresml_spark.ml.deploy")
    ml_predict = importlib.import_module("postgresml_spark.ml.predict")
    from postgresml_spark.ml.registry import Registry
    from pyspark.sql import functions as F
    from selfcheck import _normalize  # the oracle gate's hashing rule

    spark = ctx.spark
    builds = []
    for i in range(3):  # repeated so setup_s is a median, not one sample
        t0 = time.perf_counter()
        sf_dir = os.path.join(ctx.tmp, f"sf0.1-{i}")
        datagen.write_star_schema(sf_dir)
        _write_ml_tables(sf_dir)
        builds.append(time.perf_counter() - t0)
    ctx.mark("setup.data")
    setup_s = ctx.session_s + statistics.median(builds)

    queries = entry.queries()
    registry = Registry(spark, warehouse=os.path.join(ctx.warehouse, "registry"))
    train_df = spark.read.parquet(os.path.join(sf_dir, "ml_train.parquet"))
    predict_df = spark.read.parquet(os.path.join(sf_dir, "ml_predict.parquet"))
    last: dict[str, object] = {}

    def run_query(name):
        def fn():
            df = queries[name](spark, sf_dir)
            last[name] = (df.columns, [tuple(r) for r in df.collect()])
            ctx.note_catalyst(df)
        return name, fn

    def run_train():
        last["train"] = _train_model(ctx, "batch_model", train_df, registry)
        ml_deploy.deploy(spark, "batch_model", strategy="most_recent", registry=registry)

    def run_predict():
        # the action consumes the prediction column (count() could prune it)
        df = ml_predict.predict(spark, "batch_model", predict_df, registry=registry).agg(
            F.count("*").alias("n"), F.sum("prediction").alias("s"),
            F.sum(F.abs(F.col("prediction") - F.col("y"))).alias("abs_err"))
        last["predict"] = df.head()
        ctx.note_catalyst(df)

    fns = {**dict(run_query(q) for q in BATCH_QUERIES), "train": run_train, "predict": run_predict}

    def ops(order):
        for name in order:
            yield name, fns[name]

    # warm-up: every op once, in three threads so their untimed JIT and
    # class-loading costs overlap; predict needs train's deployed model
    chains = [BATCH_QUERIES[:2], BATCH_QUERIES[2:], ("train", "predict")]
    with ThreadPoolExecutor(len(chains)) as pool:
        for f in [pool.submit(lambda c=c: [fns[n]() for n in c]) for c in chains]:
            f.result()
    order = datagen.batch_order(ctx.seed, BATCH_SHUFFLED, BATCH_TAIL)
    loop, layers = ctx.measure(ops(order), "batch")

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    oracles = entry.oracle_sql()
    bad = 0
    for name in BATCH_QUERIES:
        cols, rows = last[name]
        rel = con.sql(oracles[name])
        bad += _normalize(rows, cols) != _normalize(rel.fetchall(), list(rel.columns))
    tr, pr = last["train"], last["predict"]
    bad += not (tr["metrics"]["r2"] > 0.99)
    bad += not (pr["n"] == PREDICT_ROWS and pr["abs_err"] / pr["n"] < 0.5)
    loop.failed += bad
    detail = {
        "batch_wall_s": sum(loop.median(q) for q in BATCH_QUERIES),
        "train_s": loop.median("train"),
        "train_fit_s": tr["metrics"]["fit_time"],
        "predict_rows_per_s": PREDICT_ROWS / loop.median("predict"),
        **{f"{q}_s": loop.median(q) for q in BATCH_QUERIES},
    }
    return {"setup_s": setup_s, "loop": loop, "detail": detail, "layers": layers}


def _write_ml_tables(sf_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, n, seed in (("ml_train", TRAIN_ROWS, datagen.CORPUS_SEED),
                          ("ml_predict", PREDICT_ROWS, datagen.CORPUS_SEED + 1)):
        pq.write_table(pa.table(datagen.regression_rows(n, seed)),
                       os.path.join(sf_dir, f"{name}.parquet"))


WORKLOADS = {"serve": serve, "ingest": ingest, "batch": batch}
