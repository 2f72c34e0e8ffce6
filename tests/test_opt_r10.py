"""Round-10 optimization pins: NULL-key guards on the literal
tombstone/batch paths, the DataFrame-replaced_keys delta regression
(ADVICE r9 #1), the batched multi-table sync write, the O(1) upsert
stats arithmetic, and the literal-map sparse query plan (each change
alters operator internals, so each gets a focused contract test)."""

import os

import pytest

from pyspark.sql import functions as F


def test_tomb_filter_null_key_is_noop(spark, tmp_path):
    """A NULL among tombstone keys must filter NOTHING (left_anti
    semantics: NULL never matches), not raise from sorted(set(keys))
    (VERDICT r9 next #7)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from postgresml_spark.collections.storage import BucketedVersionedTable

    tbl = BucketedVersionedTable(
        spark, str(tmp_path / "t"), "id long, k string, v string", key="k"
    )
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, None, "z")],
        "id long, k string, v string",
    )
    tbl.overwrite(df)
    vdir = tbl._vdir(tbl._current_version())
    tdir = os.path.join(vdir, "_tombstones")
    os.makedirs(tdir)
    pq.write_table(
        pa.table({"__key": pa.array(["a", None], pa.string())}),
        os.path.join(tdir, "part-00000.parquet"),
    )
    rows = {r["id"] for r in tbl.read().collect()}
    # 'a' tombstoned; NULL tombstone is a no-op; NULL-keyed row kept
    assert rows == {2, 3}


def test_delta_overwrite_null_batch_key(spark, tmp_path):
    """None among replaced_keys must neither crash nor tombstone the
    string 'None' (old pyarrow path wrote str(None)); a doc keyed
    'None' survives a batch containing a real None."""
    from postgresml_spark.collections.storage import BucketedVersionedTable

    tbl = BucketedVersionedTable(
        spark, str(tmp_path / "t"), "id long, k string", key="k"
    )
    tbl.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "None"), (3, "b")], "id long, k string"
    ))
    tbl.delta_overwrite(
        spark.createDataFrame([(10, "a")], "id long, k string"),
        ["a", None],
    )
    rows = {r["id"] for r in tbl.read().collect()}
    assert rows == {10, 2, 3}  # 'a' replaced; 'None'-keyed doc kept


def test_delta_overwrite_dataframe_keys_over_existing_delta(spark, tmp_path):
    """ADVICE r9 #1: a second delta write over a version that already
    carries a _delta must compact the old delta correctly
    (replaced_keys is a driver-side key list; a DataFrame raises
    TypeError)."""
    from postgresml_spark.collections.storage import BucketedVersionedTable

    tbl = BucketedVersionedTable(
        spark, str(tmp_path / "t"), "id long, k string", key="k"
    )
    tbl.overwrite(spark.createDataFrame(
        [(i, f"k{i}") for i in range(6)], "id long, k string"
    ))
    # first delta via the list path
    tbl.delta_overwrite(
        spark.createDataFrame([(10, "k1")], "id long, k string"), ["k1"]
    )
    # second delta (replaces k1 again + k2)
    tbl.delta_overwrite(
        spark.createDataFrame([(11, "k1"), (12, "k2")], "id long, k string"),
        ["k1", "k2"],
    )
    rows = {r["id"]: r["k"] for r in tbl.read().collect()}
    assert rows == {0: "k0", 3: "k3", 4: "k4", 5: "k5", 11: "k1", 12: "k2"}


def test_multi_delta_write_is_one_job_and_identical(spark, tmp_path):
    """The batched multi-table delta write (VERDICT r9 next #3) must
    produce per-table _delta content identical to three sequential
    delta_overwrite calls, in ONE Spark write job."""
    import uuid as _uuid

    from postgresml_spark.collections import Collection, Pipeline

    coll = Collection("mw10", spark, warehouse=str(tmp_path))
    pipe = Pipeline("p", {"text": {
        "semantic_search": {"model": "hash:16"},
        "full_text_search": {"configuration": "english"},
    }})
    coll.upsert_documents(
        [{"id": i, "text": f"alpha beta doc {i}"} for i in range(60)]
    )
    coll.add_pipeline(pipe)

    sc = spark.sparkContext
    group = f"mw-{_uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "multi write")
    try:
        coll.upsert_documents(
            [{"id": i, "text": f"gamma delta doc {i}"} for i in range(12)]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # upsert tail (take + log + version write (+AQE stages)) + ONE
    # batched delta write for chunks+embeddings+tsvectors. Was <= 14
    # with three concurrent writers (test_lifecycle_job_budget r9).
    assert len(jobs) <= 11, sorted(jobs)

    # all three tables advanced to a delta version with content
    chunks = pipe.table("text_chunks")
    emb = pipe.table("text_embeddings")
    tsv = pipe.table("text_tsvectors")
    assert chunks.filter(F.col("chunk").contains("gamma")).count() == 12
    assert emb.count() == chunks.count()
    assert tsv.count() == chunks.count()
    # chunk_id sets line up exactly across the three tables
    cids = {r["chunk_id"] for r in chunks.select("chunk_id").collect()}
    assert {r["chunk_id"] for r in emb.select("chunk_id").collect()} == cids
    assert {r["chunk_id"] for r in tsv.select("chunk_id").collect()} == cids
    # and each table's version dir carries its own _delta files
    for name in ("text_chunks", "text_embeddings", "text_tsvectors"):
        t = pipe._tables[name]
        ddir = os.path.join(t._vdir(t._current_version()), "_delta")
        assert os.path.isdir(ddir)
        assert any(f.endswith(".parquet") for f in os.listdir(ddir)), name


def test_upsert_stats_arithmetic_matches_census(spark, tmp_path):
    """n_rows maintained arithmetically (prev - replaced + new) must
    equal the true table cardinality across fresh / replace / mixed
    batches, including batch-internal duplicate uuids (VERDICT r9
    next #5 — the O(n_files) footer walk left the upsert hot path)."""
    from postgresml_spark.collections import Collection

    coll = Collection("st10", spark, warehouse=str(tmp_path))
    coll.upsert_documents([{"id": i, "text": f"t{i}"} for i in range(40)])
    assert coll.documents.stats()["n_rows"] == 40
    # mixed batch: 10 replacements + 5 new + a duplicated uuid
    docs = [{"id": i, "text": f"u{i}"} for i in range(10)]
    docs += [{"id": 100 + i, "text": f"n{i}"} for i in range(5)]
    docs.append({"id": 3, "text": "dup wins"})
    n = coll.upsert_documents(docs)
    assert n == 15  # 15 distinct incoming docs survive the dedup
    st = coll.documents.stats()
    assert st["n_rows"] == 45 == coll.documents.read().count()
    # delete keeps the arithmetic consistent afterwards too
    deleted = coll.delete_documents({"id": {"$eq": 3}})
    assert deleted == 1
    assert coll.documents.stats()["n_rows"] == 44
    n = coll.upsert_documents([{"id": 3, "text": "back"}])
    assert coll.documents.stats()["n_rows"] == 45
    assert coll.documents.read().count() == 45


def test_sparse_search_literal_map_matches_join_form(spark, tmp_path):
    """sparse_search_index now binds the query vector as a literal map
    + isin pushdown filter instead of a broadcast join; scores must
    equal the join form bit-for-bit (same row order into the same
    aggregation buffers)."""
    import tempfile

    from postgresml_spark.operators.sparse import (
        _py_term_index,
        build_sparse_index,
        sparse_search_index,
    )

    d = spark.createDataFrame(
        [(i, f"vector merge stream hash {i % 7} value row " * (1 + i % 3))
         for i in range(120)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "sidx")
    stats = build_sparse_index(d, path)
    terms = ["vector", "merge", "merge"]

    got = sparse_search_index(spark, path, terms, k=10).collect()

    # reference: the r9 broadcast-join form, inlined
    import json as _json
    import math

    from pyspark.sql import types as T

    dim, seed = int(stats["dim"]), stats["seed"]
    tf: dict[int, int] = {}
    for t in terms:
        i = _py_term_index(t.lower(), dim, seed)
        tf[i] = tf.get(i, 0) + 1
    qrows = [(i, 1.0 + math.log(c)) for i, c in sorted(tf.items())]
    buckets = sorted({i % stats["n_buckets"] for i, _ in qrows})
    qdf = spark.createDataFrame(qrows, "idx bigint, qtflog double")
    reader = spark.read.schema(
        T.StructType.fromJson(_json.loads(stats["schema"]))
    )
    post = (
        reader.parquet(path)
        .filter(F.col("__bucket").isin(buckets))
        .join(F.broadcast(qdf), "idx")
    )
    dfi = post.groupBy("idx").agg(F.count("*").alias("__df"))
    idf = (
        F.log((F.lit(float(stats["n_docs"])) + 1.0) / (F.col("__df") + 1.0))
        + 1.0
    )
    score = F.sum(F.col("tflog") * F.col("qtflog") * idf * idf)
    want = (
        post.join(F.broadcast(dfi), "idx")
        .groupBy("doc_id")
        .agg(score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    )
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_set_similarity_checkpoint_identity(spark):
    """q203's operator now localCheckpoints the shingle arrays (one
    UDF evaluation instead of six; the prefix postings stay lazy so
    ReusedExchange dedupes the window — OPTIMIZATION_r10.md q203);
    pairs must match the brute-force inverted-index join exactly."""
    from postgresml_spark.operators.dedup import set_similarity_join

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    for i in range(30):
        text = " ".join(words[: 4 + (i % 6)]) + (f" tail{i % 5}" * (i % 3))
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in set_similarity_join(
            df, "text", "doc_id", shingle_n=3, threshold=0.3
        ).collect()
    }

    # brute force over the same shingle definition
    from postgresml_spark.operators.dedup import word_shingles_batch

    sh = df.select(
        F.col("doc_id").alias("id"),
        word_shingles_batch(3)(F.col("text")).alias("s"),
    ).collect()
    sets = {r["id"]: set(r["s"]) for r in sh}
    want = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= 0.3:
                want.add((a, b, round(inter / union, 6)))
    assert got == want


def test_filter_keys_not_in_matches_isin_and_escapes(spark):
    """storage._filter_keys_not_in builds the key set as ONE parsed
    SQL IN (py4j round-trip per key removed — OPTIMIZATION_r10.md);
    it must match the isin form exactly, keep NULL keys (left_anti
    parity), and survive keys containing quotes, backslashes (escaped
    before the quote: `a\\b` was silently not filtered and a trailing
    backslash raised ParseException) and newlines."""
    from postgresml_spark.collections.storage import _filter_keys_not_in

    rows = [("a",), ("b",), (None,), ("o'brien",), ("z",)]
    df = spark.createDataFrame(rows, "k string")
    keys = ["b", "o'brien", "missing"]
    got = sorted(
        r["k"] or "<null>"
        for r in _filter_keys_not_in(df, F.col("k"), keys).collect()
    )
    want = sorted(
        r["k"] or "<null>"
        for r in df.filter(
            F.col("k").isNull() | ~F.col("k").isin(keys)
        ).collect()
    )
    assert got == want == ["<null>", "a", "z"]
    # backslash, trailing backslash, newline and quote keys, each next
    # to the key a broken escape would turn it into
    odd = ["a\\b", "tail\\", "line\nbreak", "it's", "\\'mix\\''"]
    df_odd = spark.createDataFrame(
        [(k,) for k in odd + ["ab", "tail", "line", "keep"]], "k string"
    )
    got_odd = sorted(
        r["k"] for r in _filter_keys_not_in(df_odd, F.col("k"), odd).collect()
    )
    want_odd = sorted(
        r["k"] for r in df_odd.filter(~F.col("k").isin(odd)).collect()
    )
    assert got_odd == want_odd == ["ab", "keep", "line", "tail"]
    # derived-key expression (the embeddings/tsvectors tables key on
    # an expression, not a named column)
    got2 = sorted(
        r["k"] or "<null>"
        for r in _filter_keys_not_in(
            df, F.upper(F.col("k")), ["B", "Z"]
        ).collect()
    )
    assert got2 == ["<null>", "a", "o'brien"]
