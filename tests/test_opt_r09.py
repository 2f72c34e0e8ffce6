"""Round-9 optimization pins: zero-job footer statistics, the
driver-side XXH64 twin, literal tombstone filters, and the lifecycle
job budget (guide §1.2 / §2.4 / §2.6 — the optimizations change
operator internals, so each gets a focused contract test)."""

import os

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_driver_xxhash64_matches_spark(spark):
    """The bm25/trigram served paths hash query terms driver-side now;
    the twin must equal Spark SQL's xxhash64 bit-for-bit (else bucket
    pruning would silently read the wrong partitions)."""
    from postgresml_spark.functions.hashing import (
        spark_pmod_xxhash64,
        spark_xxhash64,
    )

    words = [
        "", "a", "ab", "abc", "vector", "merge", "stream", "hash",
        "tbl", "ÿüñíçødé", "x" * 7, "y" * 8, "z" * 9, "w" * 31,
        "v" * 32, "u" * 33, "t" * 100, "query term with spaces",
    ]
    rows = (
        spark.createDataFrame([(w,) for w in words], "w string")
        .select(
            "w",
            F.xxhash64("w").alias("h"),
            F.pmod(F.xxhash64("w"), F.lit(32)).cast("int").alias("b"),
        )
        .collect()
    )
    for r in rows:
        assert spark_xxhash64(r["w"]) == r["h"], r["w"]
        assert spark_pmod_xxhash64(r["w"], 32) == r["b"], r["w"]


def test_driver_xxhash64_long_matches_spark(spark):
    """The sharded served indexes route a refreshed document to its
    shard driver-side; the long twin must equal Spark SQL's
    xxhash64(<long>) and its pmod, scalar and vectorized, over the
    edges and 1,000 seeded random longs."""
    import numpy as np

    from postgresml_spark.functions.hashing import spark_xxhash64_long

    rng = np.random.default_rng(11)
    vals = [0, 1, -1, 2**63 - 1, -(2**63), 2**63 - 2, -(2**63) + 1]
    vals += rng.integers(-(2**63), 2**63 - 1, size=1000,
                         endpoint=True).tolist()
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.xxhash64("v").alias("h"),
                F.pmod(F.xxhash64("v"), F.lit(3)).alias("b"))
        .collect()
    )
    want = {r["v"]: (r["h"], r["b"]) for r in rows}
    for v in vals:
        assert spark_xxhash64_long(v) == want[v][0], v
    got = spark_xxhash64_long(np.asarray(vals, dtype=np.int64))
    assert got.tolist() == [want[v][0] for v in vals]
    assert np.mod(got, 3).tolist() == [want[v][1] for v in vals]


def test_parquet_dir_stats_census(spark, tmp_path):
    """Footer census == Spark aggregation on a bucket-partitioned
    write, including max(column) and null counts; sidecar stores
    (_delta/_tombstones) are excluded like Spark's listing excludes
    them."""
    from postgresml_spark.collections.storage import (
        BucketedVersionedTable,
        parquet_dir_stats,
    )

    tbl = BucketedVersionedTable(
        spark, str(tmp_path / "t"), "id long, k string, v string", key="k"
    )
    df = spark.createDataFrame(
        [(i, f"k{i}", None if i % 3 == 0 else f"v{i}") for i in range(50)],
        "id long, k string, v string",
    )
    tbl.overwrite(df)
    vdir = tbl._vdir(tbl._current_version())
    # drop a decoy sidecar dir that must NOT be counted
    os.makedirs(os.path.join(vdir, "_delta"), exist_ok=True)
    import shutil
    src = None
    for root, _, files in os.walk(vdir):
        for fn in files:
            if fn.endswith(".parquet") and "__bucket=" in root:
                src = os.path.join(root, fn)
                break
        if src:
            break
    shutil.copy2(src, os.path.join(vdir, "_delta", "part-0.parquet"))

    st = parquet_dir_stats(vdir, column="id", null_count_col="v")
    assert st["rows"] == 50
    assert st["stats_ok"]
    assert int(st["max"]) == 49
    assert st["nulls"] == df.filter(F.col("v").isNull()).count()


def test_upsert_stats_and_delete_counts(spark, tmp_path):
    """n_rows/max_id stats maintained across fresh upsert, re-upsert
    and delete; the delete count (now footer-derived) matches the
    filter's true cardinality."""
    from postgresml_spark.collections import Collection

    coll = Collection("opt9", spark, warehouse=str(tmp_path))
    n = coll.upsert_documents(
        [{"id": i, "text": f"t{i}", "lang": "en" if i % 2 else "de"}
         for i in range(30)]
    )
    assert n == 30
    st = coll.documents.stats()
    assert st["n_rows"] == 30 and st["max_id"] >= 30
    # re-upsert 5 (small-batch literal path)
    n = coll.upsert_documents([{"id": i, "text": f"u{i}"} for i in range(5)])
    assert n == 5
    st = coll.documents.stats()
    assert st["n_rows"] == 30  # replaced, not added
    assert coll.documents.read().count() == 30
    # delete the 15 'de' docs (ids 0,2,...28 kept text from upsert?
    # ids 0-4 were re-upserted without lang — they no longer match)
    deleted = coll.delete_documents({"lang": "de"})
    expect = len([i for i in range(5, 30) if i % 2 == 0])
    assert deleted == expect
    assert coll.documents.stats()["n_rows"] == 30 - expect
    assert coll.documents.read().count() == 30 - expect


def _jobs_for(spark, group_prefix, fn):
    """Run fn under a unique job group; return the Spark job count."""
    import uuid as _uuid

    sc = spark.sparkContext
    group = f"{group_prefix}-{_uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group_prefix)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_text_index_observed_stats(spark, tmp_path):
    """build/append_to_text_index derive (n_docs, avgdl) from observed
    metrics on the write job itself (guide §1.2 — the separate agg job
    and its persist are gone). The stats must equal a direct
    aggregation over the same corpus, and the build must be ONE job."""
    from postgresml_spark.functions.text import (
        append_to_text_index,
        build_text_index,
        tokenize,
    )

    d = spark.createDataFrame(
        [(i, f"alpha beta doc {i} " + "pad " * (i % 4)) for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ftidx")
    (_, stats), n_jobs = _jobs_for(
        spark, "obs-build", lambda: build_text_index(d, path)
    )
    truth = d.select(tokenize(F.col("text")).alias("t")).agg(
        F.count("*").alias("n"), F.avg(F.size("t")).alias("a")
    ).head()
    assert stats["n_docs"] == truth["n"] == 40
    assert stats["avgdl"] == float(truth["a"])  # bit-equal long-sum avg
    # ONE action: the write (3 AQE stage jobs). The old separate agg
    # job (+ its persist) would make this 4.
    assert n_jobs <= 3, f"build_text_index grew an extra job: {n_jobs}"

    d2 = spark.createDataFrame(
        [(100 + i, f"gamma delta {i}") for i in range(10)],
        "doc_id long, text string",
    )
    stats2, n_jobs2 = _jobs_for(
        spark, "obs-append", lambda: append_to_text_index(d2, path)
    )
    assert stats2["n_docs"] == 50
    both = d.unionByName(d2).select(tokenize(F.col("text")).alias("t")).agg(
        F.avg(F.size("t")).alias("a")
    ).head()
    assert abs(stats2["avgdl"] - float(both["a"])) < 1e-12
    assert n_jobs2 <= 3, f"append_to_text_index grew an extra job: {n_jobs2}"

    # empty corpus: count 0, avg NULL -> bootstrap 0.0 (unchanged)
    e = spark.createDataFrame([], "doc_id long, text string")
    _, stats0 = build_text_index(e, str(tmp_path / "empty"))
    assert stats0["n_docs"] == 0 and stats0["avgdl"] == 0.0


def test_sparse_index_observed_counts(spark, tmp_path):
    """build/append_to_sparse_index and ServedSparseIndex count docs
    via observed metrics on their existing jobs — no trailing
    df.count() corpus scan (guide §1.2)."""
    from postgresml_spark.operators.sparse import (
        ServedSparseIndex,
        append_to_sparse_index,
        build_sparse_index,
    )

    d = spark.createDataFrame(
        [(i, f"vector merge stream {i}") for i in range(25)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "sidx")
    stats, n_jobs = _jobs_for(
        spark, "obs-sparse", lambda: build_sparse_index(d, path)
    )
    assert stats["n_docs"] == 25
    # write action only (3 AQE stage jobs); the old trailing
    # df.count() corpus scan would make this 4
    assert n_jobs <= 3, f"build_sparse_index grew an extra job: {n_jobs}"

    d2 = spark.createDataFrame(
        [(200 + i, f"hash table {i}") for i in range(7)],
        "doc_id long, text string",
    )
    stats2, n_jobs2 = _jobs_for(
        spark, "obs-sparse-app", lambda: append_to_sparse_index(d2, path)
    )
    assert stats2["n_docs"] == 32
    assert n_jobs2 <= 3, f"append_to_sparse_index grew an extra job: {n_jobs2}"

    idx, n_jobs3 = _jobs_for(
        spark, "obs-served", lambda: ServedSparseIndex(d)
    )
    assert idx.n_docs == 25
    # features toPandas + df_t collect (AQE stage jobs); the old
    # trailing df.count() added one more
    assert n_jobs3 <= 10, f"ServedSparseIndex grew an extra job: {n_jobs3}"
    assert idx.search(["vector"], k=3)  # scoring still works


def test_lifecycle_job_budget(spark, tmp_path):
    """Scheduling-overhead ceiling for the SDK lifecycle (VERDICT r8
    next #8): a 20-doc upsert + incremental sync on an attached
    chunks+embeddings+tsvectors pipeline stays within the optimized
    job budget. Every job here is ~0.1-0.3 s of local scheduling, so
    the ceiling IS the latency contract; regressions that re-add
    count/broadcast/take jobs trip it."""
    import uuid as _uuid

    from postgresml_spark.collections import Collection, Pipeline

    coll = Collection("jb9", spark, warehouse=str(tmp_path))
    pipe = Pipeline("p", {"text": {
        "semantic_search": {"model": "hash:16"},
        "full_text_search": {"configuration": "english"},
    }})
    coll.upsert_documents(
        [{"id": i, "text": f"alpha beta doc {i}"} for i in range(100)]
    )
    coll.add_pipeline(pipe)

    sc = spark.sparkContext
    group = f"jb-{_uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job budget")
    try:
        coll.upsert_documents(
            [{"id": i, "text": f"gamma delta doc {i}"} for i in range(20)]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # optimized path: detection take + log write + version write
    # (+AQE stage jobs) + 3 concurrent delta writes (+stages).
    # Was ~18 before round 9; headroom over the measured count (9)
    # absorbs AQE stage-count jitter without letting the old plan back.
    assert len(jobs) <= 14, sorted(jobs)
    # SECOND incremental sync: the derived tables now carry a _delta,
    # so this sync exercises the delta-compaction path. Small batches
    # compact via a literal NOT-isin filter — the broadcast-exchange
    # stage job per delta write is gone (guide §2.4), so the budget is
    # the same as the first sync's.
    group2 = f"jb2-{_uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group2, "job budget 2")
    try:
        coll.upsert_documents(
            [{"id": i, "text": f"epsilon zeta doc {i}"} for i in range(10, 25)]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs2 = sc.statusTracker().getJobIdsForGroup(group2)
    assert len(jobs2) <= 14, sorted(jobs2)
    # and the derived tables are correct after the concurrent writes
    chunks = pipe.table("text_chunks")
    assert chunks.filter(F.col("chunk").contains("gamma")).count() == 10
    assert chunks.filter(F.col("chunk").contains("epsilon")).count() == 15
    assert pipe.table("text_embeddings").count() == chunks.count()
    assert pipe.table("text_tsvectors").count() == chunks.count()
