"""Incremental-sync scale evidence (VERDICT r6 next #7).

Builds an N-doc collection (sf0.1 documents replicated), full-syncs a
semantic+full-text pipeline, then re-upserts 1% of the docs with
changed text and measures:

  - full_resync_s / docs_per_sec  (chunk+embed+tokenize+write ALL docs)
  - incremental_sync_s / docs_per_sec  (change-log path: chunk/embed/
    write ONLY the 1% — count asserted)
  - noop_sync_ms  (watermark compare: zero Spark jobs)
  - refresh_ms / refresh_spark_jobs  (the resident vector and text
    indexes catching up with the 1% sync from the store's delta
    sidecars) and first_search_ms (the served hybrid search that
    follows); first_search_after_write_ms is their sum, what the first
    served hybrid search after the write costs
  - refresh_50docs_ms  (the same catch-up after a second write of a
    fixed 50 docs: the batch is constant, so it isolates how the
    refresh grows with the corpus)

The hash embedder makes embedding ~free, so the measured full/inc
ratio is orchestration- and scan-bound; with the reference's real
embedder (17-30 ms/row, BASELINE.md) full resync of 1M docs is
4.7-8.3 h of embedding while the incremental 1% is 2.8-5 min — the
structural ratio is ~100x. This artifact records the measured
twin-embedder floor at two corpus sizes.

Run SOLO: SPARK_DRIVER_MEMORY=32g python tools/incsync_scale.py [N ...]
Merges its records into tools/incsync_scale.json (one per n_docs).
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from postgresml_spark.collections import Collection, Pipeline  # noqa: E402
from postgresml_spark.session import get_spark  # noqa: E402


def run(spark, n_target: int) -> dict:
    import shutil

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("text").isNotNull()).select("doc_id", "text", "lang")
    )
    nb = base.count()
    K = max(1, n_target // nb)
    big = base.crossJoin(spark.range(K).withColumnRenamed("id", "rep")) \
        .select((F.col("doc_id") * K + F.col("rep")).alias("id"),
                "text", "lang")
    n = nb * K
    wh = tempfile.mkdtemp(prefix="incsync_scale_")
    coll = Collection("incscale", spark, warehouse=wh)
    t0 = time.perf_counter()
    coll.upsert_documents_df(big)
    t_ingest = time.perf_counter() - t0
    pipe = Pipeline("p", {"text": {
        "semantic_search": {"model": "hash:1024"},
        "full_text_search": {"configuration": "english"},
    }})
    coll.add_pipeline(pipe)  # initial build (not timed)
    t0 = time.perf_counter()
    pipe.resync()
    t_full = time.perf_counter() - t0
    coll._pipelines.pop("p")
    # resident indexes built and warmed before the write, as a serving
    # process holds them
    hq = {"query": {"semantic_search": {"text": {"query": "UPDATED data"}},
                    "full_text_search": {"text": {"query": "updated"}}},
          "limit": 10}
    coll.search(hq, pipe, method="index")
    changed = big.filter(F.pmod(F.col("id"), F.lit(100)) == 0) \
        .withColumn("text", F.concat(F.lit("UPDATED "), F.col("text")))
    n_chg = changed.count()
    coll.upsert_documents_df(changed)
    t0 = time.perf_counter()
    counts = pipe.sync()
    t_inc = time.perf_counter() - t0
    assert counts["text_chunks"] == n_chg, counts
    sc = spark.sparkContext
    sc.setJobGroup("incsync-refresh", "served index refresh")
    t0 = time.perf_counter()
    pipe.served_index("text")
    pipe.served_text_index("text")
    t_refresh = time.perf_counter() - t0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    refresh_jobs = len(sc.statusTracker().getJobIdsForGroup("incsync-refresh"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    t0 = time.perf_counter()
    hits = coll.search(hq, pipe, method="index")
    t_search = time.perf_counter() - t0
    assert any(r["document"]["text"].startswith("UPDATED") for r in hits)
    coll.upsert_documents_df(changed.limit(50).withColumn(
        "text", F.concat(F.lit("AGAIN "), F.col("text"))))
    pipe.sync()
    t0 = time.perf_counter()
    pipe.served_index("text")
    pipe.served_text_index("text")
    t_refresh50 = time.perf_counter() - t0
    t0 = time.perf_counter()
    noop = pipe.sync()
    t_noop = time.perf_counter() - t0
    assert all(v == 0 for v in noop.values())
    shutil.rmtree(wh, ignore_errors=True)
    return {
        "n_docs": n,
        "changed_docs": n_chg,
        "ingest_s": round(t_ingest, 2),
        "full_resync_s": round(t_full, 2),
        "full_resync_docs_per_sec": round(n / t_full, 1),
        "incremental_sync_s": round(t_inc, 2),
        "incremental_sync_docs_per_sec": round(n / t_inc, 1),
        "full_over_inc_ratio": round(t_full / t_inc, 2),
        "noop_sync_ms": round(t_noop * 1000, 2),
        "refresh_ms": round(t_refresh * 1000, 1),
        "refresh_spark_jobs": refresh_jobs,
        "first_search_ms": round(t_search * 1000, 1),
        "first_search_after_write_ms": round((t_refresh + t_search) * 1000, 1),
        "refresh_50docs_ms": round(t_refresh50 * 1000, 1),
        "embedder": "hash:1024 (deterministic twin — see module docstring)",
    }


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]
    spark = get_spark("incsync_scale")
    out = [run(spark, n) for n in sizes]
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "incsync_scale.json")
    try:
        with open(path) as f:
            kept = [r for r in json.load(f)
                    if r["n_docs"] not in {o["n_docs"] for o in out}]
    except (OSError, ValueError):
        kept = []
    with open(path, "w") as f:
        json.dump(sorted(kept + out, key=lambda r: r["n_docs"]), f)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
