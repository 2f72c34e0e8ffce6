"""Served HNSW tier wired into SDK vector_search (VERDICT r2 #3).

The pipeline schema's `semantic_search.hnsw {m, ef_construction}`
(pipeline.rs:61-94) configures a resident index built from the synced
tables; `vector_search(..., method='index')` serves from it with an
exact float64 re-score and NO Spark job on the query path. Contracts
pinned here: recall@10 >= 0.95 vs the exact DataFrame path, score
agreement to 6 decimals on common results, version-checked rebuild
after upsert+sync, and the filtered-query boundary."""

import shutil
import tempfile
import time
from contextlib import nullcontext

import numpy as np
import pytest

from tests.conftest import assert_no_spark_jobs, jobs_snapshot
from pyspark.sql import functions as F

from postgresml_spark.collections import Collection, Pipeline
from postgresml_spark.session import load_table


@pytest.fixture(scope="module")
def served_setup(spark, sf_dir):
    wh = tempfile.mkdtemp(prefix="pgml_served_")
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    coll = Collection("served", spark, warehouse=wh)
    coll.upsert_documents_df(d.select(F.col("doc_id").alias("id"), "text", "lang"))
    pipe = Pipeline(
        "p",
        {
            "text": {
                "semantic_search": {
                    "model": "hash:32",
                    "hnsw": {"m": 12, "ef_construction": 48},
                }
            }
        },
    )
    coll.add_pipeline(pipe)
    yield coll, pipe
    shutil.rmtree(wh, ignore_errors=True)


QUERIES = [
    "distributed query engine",
    "vector similarity search",
    "stream processing state",
    "columnar storage format",
    "machine learning pipeline",
]


def _q(text, limit=10):
    return {"query": {"fields": {"text": {"query": text}}}, "limit": limit}


def test_hnsw_params_parsed(served_setup):
    _, pipe = served_setup
    assert pipe.hnsw_params("text") == {"m": 12, "ef_construction": 48}
    p2 = Pipeline("d", {"text": {"semantic_search": {"model": "hash:16"}}})
    assert p2.hnsw_params("text") == {"m": 16, "ef_construction": 64}


def test_recall_and_score_parity(served_setup):
    """Score-recall@10 >= 0.95: a served result counts as a hit when
    its score reaches the exact path's 10th-best score — the standard
    ANN recall metric, and the only well-defined one under score ties
    (hash embeddings of a templated synthetic corpus tie heavily; with
    tied boundaries ANY index — pgvector's HNSW included — returns an
    arbitrary tied member from `ORDER BY dist LIMIT k`)."""
    coll, pipe = served_setup
    hits = total = 0
    for qt in QUERIES:
        exact = coll.vector_search(_q(qt), pipe, method="exact")
        served = coll.vector_search(_q(qt), pipe, method="index")
        assert len(served) == len(exact)
        kth = round(min(r["score"] for r in exact), 6)
        hits += sum(1 for r in served if round(r["score"], 6) >= kth)
        total += len(exact)
        # exact float64 re-score: scores agree to oracle rounding on
        # every result both paths returned
        e_scores = {r["document_id"]: r["score"] for r in exact}
        for r in served:
            if r["document_id"] in e_scores:
                assert round(r["score"], 6) == round(e_scores[r["document_id"]], 6)
        # result shape parity
        assert set(served[0]) == set(exact[0])
    assert hits / total >= 0.95, f"score-recall@10 {hits}/{total}"


def test_served_path_latency_and_no_spark_job(served_setup, spark):
    coll, pipe = served_setup
    coll.vector_search(_q(QUERIES[0]), pipe, method="index")  # build + warm
    with assert_no_spark_jobs(spark, "served path"):
        t0 = time.perf_counter()
        for qt in QUERIES:
            coll.vector_search(_q(qt), pipe, method="index")
        dt = (time.perf_counter() - t0) / len(QUERIES)
    assert dt < 0.1, f"served query {dt*1000:.1f} ms"


def test_rebuild_after_sync(served_setup):
    coll, pipe = served_setup
    idx0 = pipe.served_index("text")
    coll.upsert_documents(
        [{"id": 10_000_001, "text": "entirely novel zebra quantum document"}]
    )  # triggers pipeline sync via _mark_pipelines_stale
    assert idx0.is_stale()
    res = coll.vector_search(
        _q("entirely novel zebra quantum document"), pipe, method="index"
    )
    assert res and res[0]["document"]["id"] == 10_000_001
    assert res[0]["score"] == pytest.approx(1.0)


def test_filtered_query_served_matches_exact(served_setup):
    """Metadata-filtered vector search now stays ON the served index
    (the pgvector 0.8 iterative-index-scan analog) and must reproduce
    the exact table plan's results. full_text_filter remains the one
    table-side boundary."""
    coll, pipe = served_setup
    for filt in (
        {"lang": "en"},
        {"lang": {"$in": ["fr", "es"]}},
        {"$not": {"lang": "en"}},
        {"lang": {"$eq": "zz-nothing"}},  # zero matches
    ):
        q = {
            "query": {"fields": {"text": {"query": "engine"}}, "filter": filt},
            "limit": 5,
        }
        served = coll.vector_search(q, pipe, method="index")
        exact = coll.vector_search(q, pipe, method="exact")
        # hash embeddings of the templated corpus tie heavily, so doc
        # identity at tied ranks is arbitrary on BOTH paths (the same
        # reason test_recall_and_score_parity uses score-recall); the
        # filtered top-5 SCORE LIST is unique and must match exactly
        assert [round(r["score"], 6) for r in served] == [
            round(r["score"], 6) for r in exact
        ], f"filtered served/exact divergence for {filt}"
        # and every served result must genuinely satisfy the filter
        from postgresml_spark.operators.filter_dsl import compile_filter_py

        pred = compile_filter_py(filt)
        assert all(pred(s["document"]) for s in served)
    # full_text_filter still needs the table plan
    ftq = {
        "query": {
            "fields": {"text": {"query": "engine", "full_text_filter": "engine"}}
        },
        "limit": 5,
    }
    with pytest.raises(ValueError, match="full_text_filter"):
        coll.vector_search(ftq, pipe, method="index")


def test_filtered_query_served_no_spark_job(served_setup, spark):
    coll, pipe = served_setup
    q = {
        "query": {"fields": {"text": {"query": "engine"}},
                  "filter": {"lang": {"$in": ["en", "de"]}}},
        "limit": 5,
    }
    coll.vector_search(q, pipe, method="index")  # warm (lazy ANN build)
    with assert_no_spark_jobs(spark, "filtered served query"):
        res = coll.vector_search(q, pipe, method="index")
    assert res and all(r["document"]["lang"] in ("en", "de") for r in res)


def test_filter_bitmap_cache_hot_path_and_invalidation(spark, sf_dir):
    """VERDICT r5 next #2: the filter DSL evaluates against resident
    metadata ONCE per (filter, index version); repeats reuse the cached
    doc-id set / row bitmap. The cache must (a) actually be hit, (b)
    bring repeated-filter latency well under the 5 ms target, and (c)
    invalidate on upsert+sync so metadata changes surface."""
    wh = tempfile.mkdtemp(prefix="pgml_fcache_")
    try:
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
        coll = Collection("fcache", spark, warehouse=wh)
        coll.upsert_documents_df(
            d.select(F.col("doc_id").alias("id"), "text", "lang")
        )
        pipe = Pipeline(
            "p",
            {"text": {"semantic_search": {"model": "hash:32",
                                          "hnsw": {"m": 12,
                                                   "ef_construction": 48}}}},
        )
        coll.add_pipeline(pipe)
        q = {
            "query": {"fields": {"text": {"query": "distributed engine"}},
                      "filter": {"lang": {"$in": ["en", "fr"]}}},
            "limit": 5,
        }
        first = coll.vector_search(q, pipe, method="index")  # build + fill
        idx = pipe._served["text"]
        assert len(idx._filter_cache) == 1
        # key is canonical JSON: same filter dict, different key order,
        # same entry
        q2 = {
            "query": {"fields": {"text": {"query": "columnar storage"}},
                      "filter": {"lang": {"$in": ["en", "fr"]}}},
            "limit": 5,
        }
        coll.vector_search(q2, pipe, method="index")
        assert len(idx._filter_cache) == 1
        t0 = time.perf_counter()
        for _ in range(5):
            res = coll.vector_search(q, pipe, method="index")
        dt = (time.perf_counter() - t0) / 5
        assert res == first
        assert dt < 0.005, f"cached filtered query {dt*1000:.2f} ms"
        # invalidation: flip one en doc's lang; the filter must stop
        # matching it after the sync-triggered refresh
        vic = first[0]["document"]["id"]
        coll.upsert_documents(
            [{"id": vic, "text": first[0]["document"]["text"], "lang": "zz"}]
        )
        res2 = coll.vector_search(q, pipe, method="index")
        assert all(r["document"]["id"] != vic for r in res2), (
            "stale bitmap served a doc whose metadata no longer matches"
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_auto_uses_index_when_applicable(served_setup):
    coll, pipe = served_setup
    a = coll.vector_search(_q(QUERIES[1]), pipe, method="auto")
    i = coll.vector_search(_q(QUERIES[1]), pipe, method="index")
    assert [r["document_id"] for r in a] == [r["document_id"] for r in i]


def test_default_method_routing_table(served_setup, spark):
    """method defaults to 'auto' (r3 VERDICT #2): the routing decision
    table for the no-kwarg SDK entry points, pinned.

    | query shape                      | route  | evidence            |
    |----------------------------------|--------|---------------------|
    | unfiltered fields                | served | no Spark job        |
    | metadata filter                  | served | no job, filter held |
    | full_text_filter on a field      | exact  | routing pinned      |
    """
    coll, pipe = served_setup
    sc = spark.sparkContext

    coll.vector_search(_q(QUERIES[0]), pipe)  # warm/build via default
    with assert_no_spark_jobs(spark, "default (auto) unfiltered serve"):
        res = coll.vector_search(_q(QUERIES[2]), pipe)  # no method kwarg
    assert res == coll.vector_search(_q(QUERIES[2]), pipe, method="index")

    # metadata filter → STILL SERVED (filtered ANN, r4), filter honored,
    # no Spark job
    fq = {
        "query": {"fields": {"text": {"query": "engine"}},
                  "filter": {"lang": "en"}},
        "limit": 5,
    }
    coll.vector_search(fq, pipe)  # warm the filtered path
    with assert_no_spark_jobs(spark, "default (auto) filtered serve"):
        got = coll.vector_search(fq, pipe)
    assert got and all(r["document"]["lang"] == "en" for r in got)

    # full_text_filter → exact fallback (the served tier can't see it;
    # running it needs a full-text-configured pipeline, so pin the
    # routing decision itself)
    from postgresml_spark.collections.search import _served_applicable

    assert not _served_applicable(
        {"fields": {"text": {"query": "engine", "full_text_filter": "engine"}}}
    )
    assert _served_applicable({"fields": {"text": {"query": "engine"}}})
    assert _served_applicable(
        {"fields": {"text": {"query": "engine"}}, "filter": {"lang": "en"}}
    )


def test_rerank_seam_with_fake_cross_encoder(served_setup):
    """VERDICT r2 #9: the reference-shaped rerank spec drives a
    PLUGGABLE scorer. A fake 'cross-encoder' records exactly what it
    was handed: chunks must arrive in vector-rank order (the
    corpus_id-alignment contract of vector_search_query_builder.rs:
    331-360), num_documents_to_rerank bounds the overfetch, and the
    injected scores (not lexical overlap) decide the final order."""
    coll, pipe = served_setup
    qt = "distributed query engine"
    base = coll.vector_search(_q(qt, limit=8), pipe)
    assert len(base) == 8
    seen = {}

    def fake_ce(query, chunks):
        seen["query"] = query
        seen["chunks"] = list(chunks)
        # reverse the vector order deterministically
        return [float(i) for i in range(len(chunks))]

    res = coll.vector_search(
        _q(qt, limit=3), pipe,
        rerank={"query": qt, "num_documents_to_rerank": 8, "scorer": fake_ce},
    )
    # scorer received the overfetched head in vector-rank order
    assert seen["query"] == qt
    assert seen["chunks"] == [r["chunk"] for r in base]
    # injected scores (ascending by vector rank) flip the ordering:
    # top-3 by rerank_score are the LAST three vector-ranked candidates
    assert [r["rerank_score"] for r in res] == [7.0, 6.0, 5.0]
    assert [r["document_id"] for r in res] == [
        base[7]["document_id"], base[6]["document_id"], base[5]["document_id"]
    ]
    assert len(res) == 3


def test_rerank_seam_served_path_matches_exact(served_setup):
    coll, pipe = served_setup
    qt = "vector similarity search"
    spec = {"query": qt, "num_documents_to_rerank": 6}
    a = coll.vector_search(_q(qt, limit=3), pipe, rerank=dict(spec))
    b = coll.vector_search(_q(qt, limit=3), pipe, rerank=dict(spec), method="index")
    assert [r["document_id"] for r in a] == [r["document_id"] for r in b]
    assert [round(r["rerank_score"], 9) for r in a] == [
        round(r["rerank_score"], 9) for r in b
    ]


def test_rerank_spec_validation(served_setup):
    coll, pipe = served_setup
    with pytest.raises(ValueError, match="query"):
        coll.vector_search(_q("engine"), pipe, rerank={"model": "x"})
    bad = lambda q, chunks: [1.0]  # wrong arity
    with pytest.raises(ValueError, match="scores"):
        coll.vector_search(
            _q("engine", limit=5), pipe,
            rerank={"query": "engine", "scorer": bad,
                    "num_documents_to_rerank": 5},
        )


@pytest.fixture(scope="module")
def hybrid_setup(spark, sf_dir):
    wh = tempfile.mkdtemp(prefix="pgml_served_hy_")
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    coll = Collection("served_hy", spark, warehouse=wh)
    coll.upsert_documents_df(d.select(F.col("doc_id").alias("id"), "text", "lang"))
    pipe = Pipeline(
        "p",
        {
            "text": {
                "semantic_search": {"model": "hash:32",
                                    "hnsw": {"m": 8, "ef_construction": 32}},
                "full_text_search": {"configuration": "english"},
            }
        },
    )
    coll.add_pipeline(pipe)
    yield coll, pipe
    shutil.rmtree(wh, ignore_errors=True)


def _hq(sem, ft, limit=10):
    return {
        "query": {
            "semantic_search": {"text": {"query": sem, "boost": 1.5}},
            "full_text_search": {"text": {"query": ft, "boost": 0.8}},
        },
        "limit": limit,
    }


def test_served_hybrid_parity_with_exact(hybrid_setup):
    """Served hybrid = exact hybrid: same docs in the same order with
    the same total and per-field scores (semantic side is a FULL exact
    matvec — no candidate-generation recall gap on the summed path)."""
    coll, pipe = hybrid_setup
    cases = [
        ("distributed query engine", "spark stream"),
        ("vector similarity search", "vector merge table"),
        ("columnar storage format", "row group scan"),
    ]
    for sem, ft in cases:
        exact = coll.search(_hq(sem, ft), pipe, method="exact")
        served = coll.search(_hq(sem, ft), pipe, method="index")
        assert [r["document_id"] for r in served] == [
            r["document_id"] for r in exact
        ]
        for a, b in zip(served, exact):
            assert round(a["score"], 6) == round(b["score"], 6)
            for c in ("score_sem_text", "score_ft_text"):
                av, bv = a[c], b[c]
                if av is None or bv is None:
                    assert av == bv
                else:
                    assert round(av, 6) == round(bv, 6)


def test_served_hybrid_no_spark_job_and_telemetry_buffer(hybrid_setup, spark):
    from postgresml_spark.collections.search import flush_search_telemetry

    coll, pipe = hybrid_setup
    coll.search(_hq("warm up", "warm"), pipe, method="index")  # build+warm
    with assert_no_spark_jobs(spark, "served hybrid"):
        t0 = time.perf_counter()
        res = coll.search(_hq("distributed query engine", "spark stream"),
                          pipe, method="index")
        dt = time.perf_counter() - t0
    assert dt < 0.2 and res and "search_id" in res[0]
    # buffered telemetry flushes into the same tables the exact path uses
    n = flush_search_telemetry(coll)
    assert n >= 1
    logged = {
        r["search_id"]: r
        for r in coll.spark.read.parquet(
            coll.root + "/searches/v_" + open(
                coll.root + "/searches/_current").read().strip()
        ).collect()
    }
    assert res[0]["search_id"] in logged
    # flushed rows carry the pipeline name and the search-time stamp,
    # same as the exact path's synchronous rows (r3 ADVICE)
    row = logged[res[0]["search_id"]]
    assert row["pipeline"] == pipe.name
    assert row["created_at"] <= time.time()
    assert flush_search_telemetry(coll) == 0  # buffer drained


def test_served_hybrid_zero_hit_query_still_logs_telemetry(hybrid_setup):
    """ADVICE r5: a filter matching nothing returned [] BEFORE the
    telemetry append, breaking served/exact parity (the exact path
    logs a searches row even for zero-hit queries). The empty search
    must land in the buffer with an empty results list."""
    from postgresml_spark.collections.search import flush_search_telemetry

    coll, pipe = hybrid_setup
    flush_search_telemetry(coll)  # start clean
    q = _hq("engine", "spark")
    q["query"]["filter"] = {"lang": "zz-no-such-language"}
    res = coll.search(q, pipe, method="index")
    assert res == []
    buf = coll._search_log_buffer
    assert len(buf) == 1 and buf[0]["results"] == []
    assert buf[0]["pipeline"] == pipe.name
    assert flush_search_telemetry(coll) == 1


def test_hybrid_candidate_mode_agreement(hybrid_setup, spark):
    """VERDICT r5 next #1: method='candidate' bounds the semantic side
    to an ANN shortlist (the reference's own plan shape —
    search_query_builder.rs:131-187) instead of the O(corpus·d) full
    matvec. Contract: >=0.95 mean top-10 agreement with the exact
    served plan on the bench corpus, no Spark job, and docs absent
    from the shortlist contribute 0 (never a crash or a NaN)."""
    coll, pipe = hybrid_setup
    cases = [
        ("distributed query engine", "spark stream"),
        ("vector similarity search", "vector merge table"),
        ("columnar storage format", "row group scan"),
        ("hash join strategy", "hash table build"),
        ("window aggregate partition", "window frame"),
    ]
    coll.search(_hq(*cases[0]), pipe, method="candidate")  # build + warm
    agree = 0.0
    # with-statement (ADVICE r8 #3): a failing assertion inside the
    # loop must still pop the job group off the SparkContext thread
    with assert_no_spark_jobs(spark, "candidate hybrid"):
        for sem, ft in cases:
            exact = coll.search(_hq(sem, ft), pipe, method="index")
            cand = coll.search(_hq(sem, ft), pipe, method="candidate")
            e_ids = [r["document_id"] for r in exact]
            c_ids = [r["document_id"] for r in cand]
            agree += len(set(e_ids) & set(c_ids)) / max(len(e_ids), 1)
            # any doc whose semantic score the shortlist DID cover must
            # carry the identical float64 exact-rescored value
            e_sem = {r["document_id"]: r["score_sem_text"] for r in exact}
            for r in cand:
                if (r["score_sem_text"] is not None
                        and r["document_id"] in e_sem):
                    assert r["score_sem_text"] == pytest.approx(
                        e_sem[r["document_id"]], abs=1e-9
                    )
    assert agree / len(cases) >= 0.95, f"top-10 agreement {agree/len(cases)}"
    # per-field overfetch knob: tiny candidates still returns sane rows
    q = _hq("distributed query engine", "spark stream")
    q["query"]["semantic_search"]["text"]["candidates"] = 3
    rows = coll.search(q, pipe, method="candidate")
    assert rows and all(r["score"] == r["score"] for r in rows)  # no NaN


def test_search_results_payload_carries_search_info(hybrid_setup):
    """VERDICT r7 next #8: the served hybrid payload itself surfaces
    the candidate path's quality flags — a SearchResults list (drop-in
    list of dicts) with `search_info` carrying search_id /
    candidate_mult / candidates_exhausted, so callers don't need
    telemetry to see a best-effort top-k."""
    from postgresml_spark.collections.search import SearchResults

    coll, pipe = hybrid_setup
    res = coll.search(
        _hq("distributed query engine", "spark stream"), pipe,
        method="candidate",
    )
    assert isinstance(res, SearchResults) and isinstance(res, list)
    info = res.search_info
    assert info["search_id"] == res[0]["search_id"]
    assert info["semantic_mode"] == "candidate"
    assert info["candidates_exhausted"] is False
    assert info["candidate_mult"] >= 1
    # matches the telemetry-side record for the same search
    logged = coll._search_log_buffer[-1]
    assert logged["search_id"] == info["search_id"]
    assert logged["candidates_exhausted"] == info["candidates_exhausted"]
    # the exact-matvec served mode carries the surface too (trivially
    # not exhausted), and plain-list semantics are untouched
    res_ix = coll.search(
        _hq("distributed query engine", "spark stream"), pipe,
        method="index",
    )
    assert isinstance(res_ix, SearchResults)
    assert res_ix.search_info["candidates_exhausted"] is False
    assert res_ix.search_info["candidate_mult"] is None
    assert [r["document_id"] for r in res_ix] == [
        r["document_id"] for r in list(res_ix)
    ]


def test_hybrid_search_info_same_keys_for_every_method(hybrid_setup):
    """SearchResults.search_info is the one result channel of
    hybrid_search: the exact DataFrame plan, the served exact matvec
    and the candidate path return it with the same keys."""
    from postgresml_spark.collections.search import SearchResults

    coll, pipe = hybrid_setup
    q = _hq("distributed query engine", "spark stream")
    infos = {}
    for method in ("exact", "index", "candidate"):
        res = coll.search(q, pipe, method=method)
        assert isinstance(res, SearchResults) and res
        assert res.search_info["search_id"] == res[0]["search_id"]
        infos[method] = res.search_info
    assert set(infos["exact"]) == set(infos["index"]) == set(infos["candidate"])
    assert infos["exact"]["semantic_mode"] == "exact"
    assert infos["exact"]["candidate_mult"] is None
    assert infos["candidate"]["semantic_mode"] == "candidate"


def test_served_hybrid_filtered_matches_exact(hybrid_setup):
    """Metadata-filtered HYBRID search serves from the resident tier
    (both score sides mask to the same filtered document set) and must
    match the exact DataFrame plan."""
    coll, pipe = hybrid_setup
    for filt in ({"lang": "en"}, {"$not": {"lang": "en"}}):
        q = _hq("engine", "spark")
        q["query"]["filter"] = filt
        served = coll.search(q, pipe, method="index")
        exact = coll.search(q, pipe, method="exact")
        assert [r["document_id"] for r in served] == [
            r["document_id"] for r in exact
        ], f"filtered hybrid served/exact divergence for {filt}"
        for s, e in zip(served, exact):
            assert abs(s["score"] - e["score"]) < 1e-6
        assert all(r["document"]["lang"] == "en" for r in served) == (
            filt == {"lang": "en"}
        )


def test_incremental_refresh_appends_into_live_graph(spark, sf_dir):
    """Append-only sync deltas must NOT rebuild the HNSW: the same
    index object grows via ResidentHNSW.add (O(batch)); a changed
    document refreshes in place too (its ANN rebuilds lazily on the
    driver). Both paths stay correct."""
    import postgresml_spark.collections.serving as serving_mod

    wh = tempfile.mkdtemp(prefix="pgml_served_inc_")
    try:
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
        coll = Collection("served_inc", spark, warehouse=wh)
        coll.upsert_documents_df(
            d.select(F.col("doc_id").alias("id"), "text")
        )
        pipe = Pipeline(
            "p", {"text": {"semantic_search": {"model": "hash:32"}}}
        )
        coll.add_pipeline(pipe)
        idx0 = pipe.served_index("text")
        n0 = len(idx0.chunk_ids)

        builds = {"n": 0}
        orig_init = serving_mod.ServedPipelineIndex.__init__

        def spy_init(self, *a, **kw):
            builds["n"] += 1
            return orig_init(self, *a, **kw)

        serving_mod.ServedPipelineIndex.__init__ = spy_init
        try:
            # pure append -> incremental: same object, no __init__ call
            coll.upsert_documents(
                [{"id": 20_000_001, "text": "unique okapi laser payload"},
                 {"id": 20_000_002, "text": "another brand new banana entry"}]
            )
            idx1 = pipe.served_index("text")
            assert builds["n"] == 0, "append must not trigger a rebuild"
            assert idx1 is idx0 and len(idx1.chunk_ids) == n0 + 2
            assert len(idx1.hnsw.mat) == n0 + 2
            res = coll.vector_search(
                _q("unique okapi laser payload"), pipe, method="index"
            )
            assert res[0]["document"]["id"] == 20_000_001
            assert res[0]["score"] == pytest.approx(1.0)
            # served results still agree with exact after the append
            exact = coll.vector_search(
                _q("unique okapi laser payload"), pipe, method="exact"
            )
            assert res[0]["document_id"] == exact[0]["document_id"]

            # metadata-visible growth again (idempotent second refresh)
            assert pipe.served_index("text") is idx0

            # CHANGED document -> refreshed in place from the delta
            # sidecars (its old row dies, the new one arrives), and the
            # served top hit is the exact one
            coll.upsert_documents(
                [{"id": 20_000_001, "text": "completely rewritten text body"}]
            )
            idx2 = pipe.served_index("text")
            assert builds["n"] == 0, "a changed doc must refresh in place"
            assert idx2 is idx0 and len(idx2.chunk_ids) == n0 + 2
            q = _q("completely rewritten text body")
            res = coll.vector_search(q, pipe, method="index")
            exact = coll.vector_search(q, pipe, method="exact")
            assert res[0]["document"]["id"] == 20_000_001
            assert res[0]["document_id"] == exact[0]["document_id"]
            assert res[0]["score"] == pytest.approx(exact[0]["score"])
        finally:
            serving_mod.ServedPipelineIndex.__init__ = orig_init
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_streaming_ingest_refreshes_served_index_incrementally(spark, tmp_path):
    """End-to-end freshness story: files land → streaming foreachBatch
    upserts into the collection (pipelines re-sync incrementally) →
    the SERVED index catches up via append-only graph inserts, never a
    rebuild — the full continuous-ingest → serving loop with O(batch)
    work per hop."""
    import json as json_mod
    import os

    import postgresml_spark.collections.serving as serving_mod
    from postgresml_spark.streaming.streams import (
        stream_documents_into_collection,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "in")
    os.makedirs(src)
    coll = Collection("stream_served", spark, warehouse=wh)
    coll.upsert_documents(
        [{"id": i, "body": f"seed document number {i} about spark"}
         for i in range(8)]
    )
    pipe = Pipeline("p", {"body": {"semantic_search": {"model": "hash:32"}}})
    coll.add_pipeline(pipe)
    idx0 = pipe.served_index("body")
    n0 = len(idx0.chunk_ids)

    builds = {"n": 0}
    orig_init = serving_mod.ServedPipelineIndex.__init__

    def spy_init(self, *a, **kw):
        builds["n"] += 1
        return orig_init(self, *a, **kw)

    serving_mod.ServedPipelineIndex.__init__ = spy_init
    try:
        q = stream_documents_into_collection(
            spark, src, coll, checkpoint=str(tmp_path / "ckpt")
        )
        try:
            with open(os.path.join(src, "batch1.json"), "w") as f:
                f.write(json_mod.dumps(
                    {"id": 100, "body": "streamed walrus quantum arrival"}) + "\n")
                f.write(json_mod.dumps(
                    {"id": 101, "body": "second streamed flamingo payload"}) + "\n")
            q.processAllAvailable()
        finally:
            q.stop()
        res = coll.vector_search(
            {"query": {"fields": {"body": {
                "query": "streamed walrus quantum arrival"}}}, "limit": 3},
            pipe, method="index",
        )
        assert builds["n"] == 0, "streamed appends must not rebuild the graph"
        assert pipe.served_index("body") is idx0
        assert len(idx0.chunk_ids) == n0 + 2
        assert res[0]["document"]["id"] == 100
        assert res[0]["score"] == pytest.approx(1.0)
    finally:
        serving_mod.ServedPipelineIndex.__init__ = orig_init


def test_rag_through_served_index(served_setup, spark):
    """RAG context assembly from the resident tier: same prompt and
    sources as the exact path, zero Spark jobs on the retrieval."""
    coll, pipe = served_setup
    q = {
        "CONTEXT": {
            "vector_search": _q("distributed query engine", limit=3),
            "aggregate": {"join": "\n---\n"},
        },
        "completion": {"prompt": "Answer with: {CONTEXT}"},
    }
    exact = coll.rag(dict(q), pipe, method="exact")
    coll.rag(dict(q), pipe, method="index")  # warm (refresh if stale)
    with assert_no_spark_jobs(spark, "served rag"):
        served = coll.rag(dict(q), pipe, method="index")
    assert served["prompt"] == exact["prompt"]
    assert [r["document_id"] for r in served["sources"]["CONTEXT"]] == [
        r["document_id"] for r in exact["sources"]["CONTEXT"]
    ]
    assert "{CONTEXT}" not in served["prompt"]


def test_embed_query_real_model_seam_with_faked_module(served_setup, monkeypatch):
    """Driver-side real-model query embedding (the reference embeds
    queries client-side and inlines the literal): a faked
    sentence_transformers proves the load → cache → encode flow, so
    only the model download is unexercised in this image."""
    import sys
    import types

    from postgresml_spark.collections import pipeline as pipe_mod

    calls = {"loads": 0, "encodes": []}

    class _ST:
        def __init__(self, name):
            calls["loads"] += 1
            assert name == "fake-st-model"

        def encode(self, texts):
            calls["encodes"].append(list(texts))
            return [[0.25, 0.5, 0.25] for _ in texts]

    fake = types.ModuleType("sentence_transformers")
    fake.SentenceTransformer = _ST
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)
    monkeypatch.setattr(pipe_mod, "_QUERY_MODELS", {}, raising=True)

    coll, _ = served_setup
    p = Pipeline("st", {"text": {"semantic_search": {"model": "fake-st-model"}}})
    p.collection = coll
    assert p.embed_query("hello world", "text") == [0.25, 0.5, 0.25]
    assert p.embed_query("again", "text") == [0.25, 0.5, 0.25]
    assert calls["loads"] == 1, "model must be cached per process"
    assert calls["encodes"] == [["hello world"], ["again"]]


def test_rerank_real_cross_encoder_seam_with_faked_module(served_setup, monkeypatch):
    """resolve_rerank_scorer's gated CrossEncoder branch: a faked
    module proves model-name routing, (query, chunk) pairing, and that
    CE scores (not lexical overlap) drive the final order."""
    import sys
    import types

    seen = {}

    class _CE:
        def __init__(self, name):
            seen["model"] = name

        def predict(self, pairs):
            seen["pairs"] = list(pairs)
            return [float(i) for i in range(len(pairs))]  # ascending

    fake = types.ModuleType("sentence_transformers")
    fake.CrossEncoder = _CE
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)

    coll, pipe = served_setup
    qt = "columnar storage format"
    base = coll.vector_search(_q(qt, limit=6), pipe)
    res = coll.vector_search(
        _q(qt, limit=2), pipe,
        rerank={"query": qt, "model": "fake-ce", "num_documents_to_rerank": 6},
    )
    assert seen["model"] == "fake-ce"
    assert seen["pairs"] == [(qt, r["chunk"]) for r in base]
    # ascending CE scores reverse the vector order
    assert [r["document_id"] for r in res] == [
        base[5]["document_id"], base[4]["document_id"]
    ]


def test_ivfflat_index_kind(spark, sf_dir):
    """pgvector's other index type: `semantic_search.ivfflat {lists,
    probes}` serves through ResidentANN (centroid-pruned probes) with
    the same exact-rescore contract; configuring both kinds raises."""
    wh = tempfile.mkdtemp(prefix="pgml_served_ivf_")
    try:
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
        coll = Collection("served_ivf", spark, warehouse=wh)
        coll.upsert_documents_df(d.select(F.col("doc_id").alias("id"), "text"))
        pipe = Pipeline(
            "p",
            {"text": {"semantic_search": {
                "model": "hash:32",
                "ivfflat": {"lists": 8, "probes": 8},  # probes=lists ⇒ exhaustive
            }}},
        )
        coll.add_pipeline(pipe)
        assert pipe.index_config("text") == ("ivfflat", {"lists": 8, "probes": 8})
        hits = total = 0
        for qt in QUERIES[:3]:
            exact = coll.vector_search(_q(qt), pipe, method="exact")
            served = coll.vector_search(_q(qt), pipe, method="index")
            kth = round(min(r["score"] for r in exact), 6)
            hits += sum(1 for r in served if round(r["score"], 6) >= kth)
            total += len(exact)
        assert hits == total, "exhaustive probes must equal exact"
        # appends invalidate and lazily rebuild (no in-place IVF insert)
        coll.upsert_documents([{"id": 30_000_001, "text": "brand new llama entry"}])
        res = coll.vector_search(_q("brand new llama entry"), pipe, method="index")
        assert res[0]["document"]["id"] == 30_000_001

        both = Pipeline("b", {"text": {"semantic_search": {
            "model": "hash:16", "hnsw": {}, "ivfflat": {}}}})
        with pytest.raises(ValueError, match="both"):
            both.index_config("text")
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# -- index persistence (build once on Spark, reload on any serving host) -----


def test_hnsw_save_load_round_trip(tmp_path):
    """A load()ed graph is search- and add()-identical to its builder:
    pgvector's HNSW survives restarts in Postgres pages; the resident
    tier's durability contract is save() -> load() with zero rebuild
    (reference build cost context: BASELINE.md's 68-min ivfflat)."""
    import numpy as np

    from postgresml_spark.operators.similarity import ResidentHNSW

    rng = np.random.default_rng(11)
    n, dim = 4000, 48
    mat = rng.normal(0, 1, (n, dim)).astype(np.float32)
    ids = np.arange(500, 500 + n)
    built = ResidentHNSW((ids, mat), m=8, ef_construction=48, workers=1)
    built.save(str(tmp_path / "hnsw"))
    loaded = ResidentHNSW.load(str(tmp_path / "hnsw"))

    assert np.array_equal(built.nbr0, loaded.nbr0)
    assert np.array_equal(built.cnt0, loaded.cnt0)
    assert np.array_equal(built.levels, loaded.levels)
    assert (built.entry, built.max_level) == (loaded.entry, loaded.max_level)
    for lvl in range(1, built.max_level + 1):
        assert built.upper[lvl] == loaded.upper[lvl]

    qs = [mat[i] + rng.normal(0, 0.01, dim) for i in range(25)]
    for q in qs:
        assert built.search(q, k=10, ef=80) == loaded.search(q, k=10, ef=80)

    # incremental add() diverges identically from the shared state
    extra = rng.normal(0, 1, (5, dim)).astype(np.float32)
    built.add(np.arange(9000, 9005), extra)
    loaded.add(np.arange(9000, 9005), extra)
    for q in qs[:5]:
        assert built.search(q, k=10, ef=80) == loaded.search(q, k=10, ef=80)


def test_ivf_full_probe_equals_exact_after_load(tmp_path):
    """nprobe=nlist probing on a loaded index is exhaustive, so it must
    reproduce exact brute-force top-k: same ids in rank order, scores
    agreeing past the oracle's 6-decimal boundary. (Not bit-for-bit:
    the probed path matmuls each contiguous centroid run as a separate
    BLAS call, and float32 summation order across run boundaries
    differs from one full matvec at ~1e-7 — below any contract the
    engine makes.)"""
    import numpy as np

    from postgresml_spark.operators.similarity import ResidentANN

    rng = np.random.default_rng(13)
    mat = rng.normal(0, 1, (2000, 24)).astype(np.float32)
    ids = np.arange(2000)
    full = ResidentANN((ids, mat), nlist=8, nprobe=8)
    full.save(str(tmp_path / "full"))
    loaded = ResidentANN.load(str(tmp_path / "full"))
    exact = ResidentANN((ids, mat))
    for i in range(15):
        q = mat[i] * 2 + rng.normal(0, 0.05, 24)
        got = loaded.search(q, k=10)
        want = exact.search(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want]
        assert np.allclose(
            [g[1] for g in got], [w[1] for w in want], atol=1e-6
        )


def test_resident_filtered_search_contracts():
    """Filtered ANN contracts at the index layer (the pgvector 0.8
    iterative-scan analog, operators/similarity.py):

    - permissive mask ≡ unfiltered search,
    - zero-match mask → [],
    - HNSW filtered results are EXACT-complete (masked-exact fast path
      / connectivity backstop guarantee min(k, matches) rows, all true
      top-k),
    - IVF keeps expanding probes until k allowed rows surface even
      when the nearest lists hold none (fixed-nprobe would under-fill).
    """
    import numpy as np

    from postgresml_spark.operators.similarity import ResidentANN, ResidentHNSW

    rng = np.random.default_rng(7)
    n, d = 4000, 24
    mat = rng.normal(size=(n, d)).astype(np.float32)
    ids = np.arange(n)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q = rng.normal(size=d)
    qu = (q / np.linalg.norm(q)).astype(np.float32)

    allowed_ids = ids[ids % 11 == 0]
    scores = unit @ qu
    want = sorted(
        ((int(i), float(scores[i])) for i in allowed_ids),
        key=lambda t: -t[1],
    )[:10]

    hnsw = ResidentHNSW((ids, mat), m=8, ef_construction=32)
    got = hnsw.search(q, k=10, allowed=hnsw.row_mask(allowed_ids))
    assert [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[1] for g in got], [w[1] for w in want], atol=1e-5)

    # permissive ≡ unfiltered; zero-match → []
    assert hnsw.search(q, k=5, allowed=np.ones(n, bool)) == hnsw.search(q, k=5)
    assert hnsw.search(q, k=5, allowed=np.zeros(n, bool)) == []

    ann = ResidentANN((ids, mat), nlist=16, nprobe=2)
    assert ann.search(q, k=5, allowed=np.zeros(len(ids), bool)) == []
    # adversarial mask: allow ONLY rows assigned to the centroid
    # FARTHEST from q — the first nprobe lists contain zero allowed
    # rows, so only iterative expansion can fill the result
    far_list = int(np.argmin(ann.centroids @ (qu / np.linalg.norm(qu))))
    lo, hi = int(ann.offsets[far_list]), int(ann.offsets[far_list + 1])
    assert hi - lo > 10, "degenerate clustering; pick another seed"
    mask = np.zeros(n, bool)
    mask[lo:hi] = True
    got_far = ann.search(q, k=10, allowed=mask)
    assert len(got_far) == 10, (
        "iterative probe expansion must fill k from far lists "
        f"(got {len(got_far)})"
    )
    allowed_rows = np.arange(lo, hi)
    far_scores = ann.mat[allowed_rows] @ (qu / np.linalg.norm(qu))
    want_far = sorted(
        ((int(ann.ids[r]), float(s)) for r, s in zip(allowed_rows, far_scores)),
        key=lambda t: -t[1],
    )[:10]
    assert [g[0] for g in got_far] == [w[0] for w in want_far]


def test_resident_bq_contracts(spark, sf_dir):
    """ResidentBQ (pgvector binary_quantize + rerank, resident):

    - Hamming stage agrees with the Spark `hamming_topk` plan
      bit-for-bit (shared sign convention),
    - two-stage search recall: the rescore window recovers the exact
      top-k on the real embeddings table at default R,
    - bits-only host serves shortlists from d/8 B/vector and refuses
      to rescore with a named error,
    - filtered mask restricts the shortlist.
    """
    import numpy as np

    from postgresml_spark.operators.similarity import (
        ResidentBQ,
        hamming_topk,
        knn_exact,
    )
    from postgresml_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = e.filter(F.col("vec_id") != 0)

    bq = ResidentBQ(corpus)
    # 32x memory claim: packed bits are dim/8 bytes per vector
    assert bq.bits.shape[1] == bq.dim // 8

    # Hamming parity with the Spark plan (integer-exact, ties by id)
    spark_top = [
        (r["vec_id"], r["hamming"])
        for r in hamming_topk(corpus, q, dim=bq.dim, k=15).collect()
    ]
    assert bq.shortlist(q, r=15) == spark_top

    # two-stage recall at default window: exact top-10 ids recovered
    exact = [r["vec_id"] for r in knn_exact(corpus, q, k=10).collect()]
    got = [i for i, _ in bq.search(q, k=10)]
    overlap = len(set(got) & set(exact)) / 10
    assert overlap >= 0.8, f"BQ rescore recall {overlap} (window too small?)"

    # bits-only host
    bits_only = ResidentBQ(corpus, keep_floats=False)
    assert bits_only.shortlist(q, r=5) == bq.shortlist(q, r=5)
    with pytest.raises(ValueError, match="bits-only"):
        bits_only.search(q, k=5)

    # filtered serving: mask rows, results stay inside the mask
    allowed_ids = np.asarray([i for i, _ in spark_top[:7]])
    mask = bq.row_mask(allowed_ids)
    filt = bq.search(q, k=5, allowed=mask)
    assert filt and all(i in set(allowed_ids.tolist()) for i, _ in filt)


def test_hnsw_connectivity_repair():
    """_repair_connectivity: artificially orphan nodes (strip every
    in-edge) and assert repair restores full level-0 reachability —
    the invariant behind q183's exhaustive-closure gate. Build-time
    repair runs automatically; this pins the mechanism itself."""
    import numpy as np

    from postgresml_spark.operators.similarity import ResidentHNSW

    rng = np.random.default_rng(11)
    mat = rng.normal(size=(3000, 24)).astype(np.float32)
    h = ResidentHNSW((np.arange(3000), mat), m=8, ef_construction=32)
    assert h._reach_mask().all()  # post-build invariant

    # orphan 20 victims: remove them from every other node's out-list
    victims = set(range(100, 120)) - {h.entry}
    for node in range(len(mat)):
        if node in victims:
            continue
        keep = [x for x in h.nbr0[node, : h.cnt0[node]] if x not in victims]
        h.nbr0[node, : len(keep)] = keep
        h.cnt0[node] = len(keep)
    mask = h._reach_mask()
    assert not mask[list(victims)].any()  # genuinely unreachable now

    reattached = h._repair_connectivity()
    assert reattached >= len(victims)
    assert h._reach_mask().all()
    # and they're actually findable: exhaustive search sees every node
    got = h.search(rng.normal(size=24), k=3000, ef=3000)
    assert len(got) == 3000


def test_resident_pq_contracts(spark, sf_dir):
    """ResidentPQ (FAISS ADC half, m B/vector):

    - windowed two-stage search recovers the exact top-k on the real
      embeddings table (the production path q187's exhaustive closure
      deliberately bypasses),
    - exhaustive rescore ≡ exact brute force (the closure itself),
    - filtered mask restricts results.

    Save/load, codes-only loads included, is pinned for every tier in
    tests/test_resident_tiers.py.
    """
    import numpy as np

    from postgresml_spark.operators.similarity import ResidentPQ, knn_exact
    from postgresml_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = e.filter(F.col("vec_id") != 0)

    pq = ResidentPQ(corpus, m=8)
    assert pq.codes.shape[1] == 8 and pq.codes.dtype == np.uint8

    exact = [r["vec_id"] for r in knn_exact(corpus, q, k=10).collect()]

    # windowed production path: default rescore window recovers top-10
    got = [i for i, _ in pq.search(q, k=10)]
    overlap = len(set(got) & set(exact)) / 10
    assert overlap >= 0.8, f"PQ windowed recall {overlap}"

    # exhaustive closure: rescore window = corpus ⇒ identical ids
    full = [i for i, _ in pq.search(q, k=10, rescore_k=len(pq.ids))]
    assert full == exact

    # filtered serving
    allowed = pq.row_mask(np.asarray(exact[:5]))
    filt = pq.search(q, k=5, allowed=allowed)
    assert filt and {i for i, _ in filt} <= set(exact[:5])


def test_resident_sq8_contracts(spark, sf_dir):
    """ResidentSQ8 (scalar quantization, d B/vector):

    - the algebraic fast ADC agrees with the term-by-term exact form
      (same top-r at default windows; elementwise within float32
      tolerance) — the fast path is what serves, the exact form is
      what q188's oracle re-derives,
    - windowed search recovers exact top-k on the real table,
    - normalize=False serves L2 (ascending-distance semantics).

    Codes are integer-exactly stable across save/load
    (tests/test_resident_tiers.py).
    """
    import numpy as np

    from postgresml_spark.operators.similarity import ResidentSQ8, knn_exact
    from postgresml_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = e.filter(F.col("vec_id") != 0)

    sq = ResidentSQ8(corpus)
    assert sq.codes.dtype == np.uint8 and sq.codes.shape[1] == sq.dim

    qv = np.asarray(q, dtype=np.float64)
    qn = qv / np.linalg.norm(qv)
    d_exact = sq._adc_exact(qn)
    d_fast = sq._adc_fast(qn)
    rel = np.max(np.abs(d_exact - d_fast) / (np.abs(d_exact) + 1e-9))
    assert rel < 1e-3, f"ADC forms diverge: rel={rel}"
    assert [i for i, _ in sq.shortlist(q, r=20)] == [
        i for i, _ in sq.shortlist(q, r=20, exact_adc=True)
    ]

    exact = [r["vec_id"] for r in knn_exact(corpus, q, k=10).collect()]
    got = [i for i, _ in sq.search(q, k=10)]
    assert len(set(got) & set(exact)) / 10 >= 0.9

    raw = ResidentSQ8(corpus, normalize=False)
    short = raw.shortlist(q, r=5, exact_adc=True)
    assert all(
        short[i][1] <= short[i + 1][1] for i in range(len(short) - 1)
    )


def test_resident_ivfpq_contracts(spark, sf_dir):
    """IVF-PQ composition (nlist>0): probed ADC must honor the same
    contracts as flat PQ — exhaustive probes + full rescore ≡ exact
    brute force, filtered queries fill from expanded probes — while
    gathering only probed code slices (pinned by recall at nprobe ≪
    nlist). Save/load of the coarse stage: tests/test_resident_tiers.py."""
    import numpy as np

    from postgresml_spark.operators.similarity import ResidentPQ, knn_exact
    from postgresml_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = e.filter(F.col("vec_id") != 0)

    ivfpq = ResidentPQ(corpus, m=8, nlist=8, nprobe=2)
    exact = [r["vec_id"] for r in knn_exact(corpus, q, k=10).collect()]

    # pruned-probe production path still recovers the top-k
    got = [i for i, _ in ivfpq.search(q, k=10, rescore_k=256)]
    assert len(set(got) & set(exact)) / 10 >= 0.8

    # exhaustive probes + corpus-wide rescore ⇒ exactly brute force
    full = ResidentPQ(corpus, m=8, nlist=8, nprobe=8)
    assert [
        i for i, _ in full.search(q, k=10, rescore_k=len(full.ids))
    ] == exact

    # filtered: results confined to the mask even when the first probe
    # batch misses it (iterative expansion)
    allowed = ivfpq.row_mask(np.asarray(exact[5:10]))
    filt = ivfpq.search(q, k=5, allowed=allowed)
    assert filt and {i for i, _ in filt} <= set(exact[5:10])


def test_auto_does_not_build_undeclared_index(spark, sf_dir):
    """auto = pgvector planner semantics: a pipeline whose schema
    declares NO index (no hnsw/ivfflat key) seq-scans — the exact
    DataFrame plan, no silent index build inside the user's first
    query.  An explicit method='index' call may build one; auto then
    reuses the live index (no-job check)."""
    import shutil
    import tempfile

    wh = tempfile.mkdtemp(prefix="pgml_noidx_")
    try:
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
        coll = Collection("noidx", spark, warehouse=wh)
        coll.upsert_documents_df(
            d.select(F.col("doc_id").alias("id"), "text", "lang")
        )
        pipe = Pipeline(
            "p", {"text": {"semantic_search": {"model": "hash:32"}}}
        )
        coll.add_pipeline(pipe)
        assert not pipe.declares_index("text")

        q = {"query": {"fields": {"text": {"query": QUERIES[0]}}}, "limit": 5}
        sc = spark.sparkContext
        before = jobs_snapshot(spark)
        exact_default = coll.vector_search(q, pipe)  # default = auto
        after = jobs_snapshot(spark)
        assert after != before, (
            "auto on an undeclared-index pipeline must run the exact "
            "Spark plan (a Spark job), not silently build an index"
        )
        assert pipe._served.get("text") is None

        # same results as explicit exact
        exact = coll.vector_search(q, pipe, method="exact")
        assert [r["document_id"] for r in exact_default] == [
            r["document_id"] for r in exact
        ]

        # explicit opt-in builds; auto reuses the live index afterwards
        served = coll.vector_search(q, pipe, method="index")
        assert pipe.has_live_index("text")
        with assert_no_spark_jobs(spark, "auto reuse of live index"):
            again = coll.vector_search(q, pipe)
        assert [r["document_id"] for r in again] == [
            r["document_id"] for r in served
        ]
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# -- index-declaration-time router (VERDICT r4 #1) ---------------------------


def test_clustered_fraction_probe():
    """The clusteredness probe separates twin-heavy corpora (big
    near-duplicate cliques — the HNSW failure case) from diffuse ones."""
    import numpy as np

    from postgresml_spark.operators.similarity import (
        clustered_fraction,
        route_index_kind,
    )

    rng = np.random.default_rng(3)
    # 20 modes x 500 members, tiny noise: the twin-heavy shape
    centers = rng.normal(size=(20, 64))
    clustered = np.repeat(centers, 500, axis=0) + rng.normal(
        scale=0.01, size=(10_000, 64)
    )
    diffuse = rng.normal(size=(10_000, 64))

    assert clustered_fraction(clustered) > 0.9
    assert clustered_fraction(diffuse) < 0.05

    kind, frac = route_index_kind(clustered, "hnsw", pinned=False)
    assert kind == "ivfflat" and frac > 0.9
    kind, frac = route_index_kind(diffuse, "hnsw", pinned=False)
    assert kind == "hnsw" and frac < 0.05
    # explicit hnsw params are always respected
    kind, frac = route_index_kind(clustered, "hnsw", pinned=True)
    assert kind == "hnsw" and frac == -1.0
    # non-hnsw declarations pass through untouched
    kind, frac = route_index_kind(clustered, "ivfflat")
    assert kind == "ivfflat" and frac == -1.0


def test_served_index_routes_clustered_corpus_to_ivfflat(spark):
    """A declared-DEFAULT hnsw ({}) on a near-duplicate-heavy corpus is
    routed to the ivfflat tier at build time; results still match the
    exact plan (exact re-score contract). A PINNED hnsw (explicit m)
    on the same corpus is respected."""
    wh = tempfile.mkdtemp(prefix="pgml_router_")
    try:
        # 40 distinct texts x 50 copies each -> hash embeddings form
        # 40 exact cliques of 50: clustered_fraction ~ 1.0
        rows = [
            {"id": i, "text": f"repeated corpus boilerplate variant {i % 40}"}
            for i in range(2000)
        ]
        coll = Collection("router", spark, warehouse=wh)
        coll.upsert_documents(rows)
        pipe = Pipeline(
            "p",
            {"text": {"semantic_search": {"model": "hash:16", "hnsw": {}}}},
        )
        coll.add_pipeline(pipe)
        q = {"query": {"fields": {"text": {"query": rows[7]["text"]}}},
             "limit": 5}
        served = coll.vector_search(q, pipe, method="index")
        idx = pipe._served["text"]
        assert idx.kind == "ivfflat", "clustered corpus must route"
        assert idx.routed_fraction is not None and idx.routed_fraction > 0.5
        exact = coll.vector_search(q, pipe, method="exact")
        kth = round(min(r["score"] for r in exact), 6)
        assert all(round(r["score"], 6) >= kth for r in served)

        pinned = Pipeline(
            "pp",
            {"text": {"semantic_search": {"model": "hash:16",
                                          "hnsw": {"m": 12}}}},
        )
        coll.add_pipeline(pinned)
        # guardrail (VERDICT r5 next #6): the pin is RESPECTED but a
        # structured warning surfaces the measured recall risk
        import pytest as _pytest

        from postgresml_spark.operators.similarity import (
            PinnedHNSWRecallWarning,
        )

        with _pytest.warns(PinnedHNSWRecallWarning, match="ivfflat"):
            coll.vector_search(q, pinned, method="index")
        pidx = pinned._served["text"]
        assert pidx.kind == "hnsw", "explicit hnsw params pin the kind"
        assert pidx.routed_fraction is not None and pidx.routed_fraction > 0.5
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_pinned_hnsw_guardrail_silent_on_diffuse_corpus(spark):
    """The pinned-hnsw recall warning must NOT fire on a diffuse corpus
    (distinct texts -> hash embeddings spread out; clustered_fraction
    ~ 0) — the guardrail is specific to the twin-heavy failure mode."""
    import warnings as _warnings

    from postgresml_spark.operators.similarity import (
        PinnedHNSWRecallWarning,
    )

    wh = tempfile.mkdtemp(prefix="pgml_guardrail_")
    try:
        # 128-dim hash embeddings over distinct texts: in 16 dims the
        # nearest-neighbor cosine of 500 random points exceeds 0.9 by
        # chance alone (measured frac 0.94) — the probe needs the
        # dimensionality real embedding models have
        rows = [
            {"id": i, "text": f"unique document {i} about topic {i * 37}"}
            for i in range(500)
        ]
        coll = Collection("guardrail", spark, warehouse=wh)
        coll.upsert_documents(rows)
        pipe = Pipeline(
            "p",
            {"text": {"semantic_search": {"model": "hash:128",
                                          "hnsw": {"m": 12}}}},
        )
        coll.add_pipeline(pipe)
        q = {"query": {"fields": {"text": {"query": rows[3]["text"]}}},
             "limit": 5}
        with _warnings.catch_warnings():
            _warnings.simplefilter("error", PinnedHNSWRecallWarning)
            coll.vector_search(q, pipe, method="index")
        pidx = pipe._served["text"]
        assert pidx.kind == "hnsw"
        assert pidx.routed_fraction is not None and pidx.routed_fraction < 0.3
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# -- multi-shard scatter-gather serving (VERDICT r5 next #4) -----------------


@pytest.fixture(scope="module")
def shard_setup(spark, sf_dir):
    """One collection, TWO resident layouts over identical data: the
    single-shard index and a 2-shard doc-hash scatter-gather. ivfflat
    probes == lists makes the per-shard ANN exhaustive, so the layouts
    must agree EXACTLY (result identity, not just recall)."""
    wh = tempfile.mkdtemp(prefix="pgml_shards_")
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    coll = Collection("shards", spark, warehouse=wh)
    coll.upsert_documents_df(d.select(F.col("doc_id").alias("id"), "text", "lang"))
    pipe = Pipeline(
        "p",
        {
            "text": {
                "semantic_search": {"model": "hash:32",
                                    "ivfflat": {"lists": 4, "probes": 4}},
                "full_text_search": {"configuration": "english"},
            }
        },
    )
    coll.add_pipeline(pipe)
    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ShardedPipelineIndex,
        ShardedTextIndex,
    )

    single = ServedPipelineIndex(coll, pipe, "text")
    sharded = ShardedPipelineIndex(coll, pipe, "text", 2)
    sharded_ft = ShardedTextIndex(coll, pipe, "text", 2)
    yield coll, pipe, single, sharded, sharded_ft
    shutil.rmtree(wh, ignore_errors=True)


def test_shards_partition_the_corpus(shard_setup):
    """Doc-hash shards are disjoint and cover the corpus exactly."""
    _, _, single, sharded, _ = shard_setup
    a = set(sharded.shards[0].doc_json)
    b = set(sharded.shards[1].doc_json)
    assert a and b and not (a & b)
    assert a | b == set(single.doc_json)
    # chunk rows partition too (no chunk counted twice or dropped)
    assert (len(sharded.shards[0].chunk_ids) + len(sharded.shards[1].chunk_ids)
            == len(single.chunk_ids))
    # the merged payload view is the full corpus
    assert set(sharded.doc_json) == set(single.doc_json)


def test_scatter_gather_search_identity(shard_setup):
    """2-shard scatter-gather top-k == single-shard top-k: same docs,
    same order, same float64 exact-rescored scores — with and without
    a metadata filter."""
    _, _, single, sharded, _ = shard_setup
    for qt in QUERIES:
        for filt in (None, {"lang": {"$in": ["en", "fr"]}}):
            one = single.search(qt, limit=10, filter=filt)
            two = sharded.search(qt, limit=10, filter=filt)
            assert [round(r["score"], 9) for r in one] == [
                round(r["score"], 9) for r in two
            ], f"shard score divergence for {qt!r} filter={filt}"
            if one and len({round(r["score"], 9) for r in one}) == len(one):
                # tie-free top-k: document identity holds exactly; a
                # tie band returns an arbitrary tied member on EITHER
                # layout (same as `ORDER BY dist LIMIT k` on pgvector)
                assert [r["document_id"] for r in one] == [
                    r["document_id"] for r in two
                ], f"shard doc divergence for {qt!r} filter={filt}"


def test_scatter_gather_hybrid_arrays_identity(shard_setup):
    """The hybrid building blocks gather to IDENTICAL arrays: exact
    best-chunk scores (full coverage), candidate shortlist scores, and
    targeted doc gathers are doc-disjoint concatenations."""
    import numpy as np

    _, _, single, sharded, _ = shard_setup
    for qt in QUERIES[:3]:
        d1, s1 = single.best_chunk_scores(qt)
        d2, s2 = sharded.best_chunk_scores(qt)
        # doc arrays identical; scores to 1e-12 (BLAS matvec blocking
        # differs with matrix row count, so the last float64 ulp can —
        # the oracle gate rounds at 6 decimals)
        assert np.array_equal(d1, d2)
        assert np.allclose(s1, s2, atol=1e-12, rtol=0)
        sub = d1[:: max(1, len(d1) // 50)]
        g1 = single.best_chunk_scores_for_docs(qt, sub)
        g2 = sharded.best_chunk_scores_for_docs(qt, sub)
        assert np.array_equal(g1[0], g2[0])
        assert np.allclose(g1[1], g2[1], atol=1e-12, rtol=0)


def test_sharded_hybrid_end_to_end(shard_setup):
    """Full hybrid search served from the 2-shard layout (semantic +
    full-text scatter-gather through the REAL merge) equals the
    single-shard served result — exact and candidate modes."""
    coll, pipe, single, sharded, sharded_ft = shard_setup
    pipe._served["text"] = single
    pipe._served.pop("__ft__text", None)
    for sem, ft in [("distributed query engine", "spark stream"),
                    ("columnar storage format", "row group scan")]:
        one_exact = coll.search(_hq(sem, ft), pipe, method="index")
        one_cand = coll.search(_hq(sem, ft), pipe, method="candidate")
        pipe._served["text"] = sharded
        pipe._served["__ft__text"] = sharded_ft
        two_exact = coll.search(_hq(sem, ft), pipe, method="index")
        two_cand = coll.search(_hq(sem, ft), pipe, method="candidate")
        pipe._served["text"] = single
        pipe._served.pop("__ft__text", None)
        for one, two in ((one_exact, two_exact), (one_cand, two_cand)):
            assert [(r["document_id"], round(r["score"], 9)) for r in one] == [
                (r["document_id"], round(r["score"], 9)) for r in two
            ]


def test_sharded_refresh_routes_append_to_owning_shard(shard_setup):
    """An upsert lands on exactly ONE shard's resident state after
    refresh(), and the scatter-gather finds it."""
    coll, pipe, single, sharded, _ = shard_setup
    coll.upsert_documents(
        [{"id": 77_000_001, "text": "sharded zebra quantum refresh probe"}]
    )
    assert sharded.is_stale()
    sharded.refresh()
    res = sharded.search("sharded zebra quantum refresh probe", limit=3)
    assert res and res[0]["document"]["id"] == 77_000_001
    assert res[0]["score"] == pytest.approx(1.0)
    did = res[0]["document_id"]  # surrogate table id, the doc_json key
    owners = [i for i, s in enumerate(sharded.shards) if did in s.doc_json]
    assert len(owners) == 1, f"doc must live on exactly one shard: {owners}"


def test_pipeline_served_index_shards_knob(shard_setup):
    """pipeline.served_index(field, shards=n) builds the sharded layout
    on a fresh build and keeps serving a live index as-is."""
    coll, pipe, *_ = shard_setup
    from postgresml_spark.collections.serving import ShardedPipelineIndex

    pipe._served.pop("text", None)
    idx = pipe.served_index("text", shards=2)
    assert isinstance(idx, ShardedPipelineIndex)
    # live index reused even without the knob (no silent re-shard)
    assert pipe.served_index("text") is idx


def test_ef_search_parameter_passes_through(hybrid_setup, monkeypatch):
    """The SDK per-field `parameters.ef_search` reaches the served
    index (the per-query analog of pgvector's `SET hnsw.ef_search`,
    the knob the pinned-HNSW guardrail recommends raising), and the
    widened-beam results still serve without a Spark job."""
    from postgresml_spark.collections import serving

    coll, pipe = hybrid_setup
    idx = pipe.served_index("text")
    seen = {}
    orig = type(idx).search

    def spy(self, *a, **kw):
        seen["ef"] = kw.get("ef")
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(idx), "search", spy)
    q = {
        "query": {
            "fields": {
                "text": {
                    "query": "vector search engine",
                    "parameters": {"ef_search": 900},
                }
            }
        },
        "limit": 5,
    }
    res = coll.vector_search(q, pipe, method="index")
    assert seen["ef"] == 900
    assert res and len(res) <= 5
    # and without parameters the default (None -> internal policy) rides
    del q["query"]["fields"]["text"]["parameters"]
    coll.vector_search(q, pipe, method="index")
    assert seen["ef"] is None


def _geometric_ivf_corpus():
    """Canonical dense-band shape: a 3200-chunk near-duplicate band at
    one center (the common-term regime where the shortlist-min sits
    inside the band) + 15 far tight clusters, 6,200 × 384. Noise scale
    0.01 keeps per-cell covering radii ~0.2 (||noise|| ≈ 0.01·sqrt(384)),
    so the unprobed-cell bound lands far below the band. Returns
    (rng, chunk_ids, doc_ids, mat, query vector, doc payloads); the rng
    is handed on for callers that draw more data."""
    import json as _json

    import numpy as np

    rng = np.random.default_rng(17)
    dim, n_chunks = 384, 6200
    centers = rng.normal(size=(16, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = np.concatenate([np.zeros(3200, dtype=int),
                         1 + np.arange(3000) % 15])
    mat = (centers[cl] + rng.normal(scale=0.01, size=(n_chunks, dim))
           ).astype(np.float32)
    chunk_ids = np.arange(n_chunks, dtype=np.int64)
    doc_ids = rng.integers(0, n_chunks // 3, size=n_chunks)
    qv = centers[0] + rng.normal(scale=0.02, size=dim)
    payloads = {
        int(d): _json.dumps({"id": int(d),
                             "lang": "en" if d % 2 else "fr"})
        for d in np.unique(doc_ids)
    }
    return rng, chunk_ids, doc_ids, mat, qv, payloads


def test_candidate_geometric_certificate_fields_and_filtered_parity():
    """VERDICT r7 next #5: the IVF candidate path must expose its
    geometric certificate — per-doc f32 bests over the WHOLE probed
    scan plus the q·c + R_c bound on unprobed cells — and on a
    clustered corpus that bound must be TIGHTER than the shortlist-min
    heuristic (the dense-band escalation trigger). Filtered candidate
    search through the geometry path must still match exact."""
    import numpy as np

    from postgresml_spark.collections.search import _served_hybrid
    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ServedTextIndex,
    )

    rng, chunk_ids, doc_ids, mat, qv, payloads = _geometric_ivf_corpus()
    n_chunks = len(chunk_ids)
    idx = ServedPipelineIndex.from_arrays(
        chunk_ids, doc_ids, mat, lambda q: qv,
        kind="ivfflat", params={"lists": 16, "probes": 4},
        doc_json=payloads,
    )
    docs, scores, cert = idx.candidate_chunk_scores("q", n_candidates=80)
    assert cert.scan_docs is not None
    assert cert.scan_s32 is not None
    assert cert.scan_docs.shape == cert.scan_s32.shape
    # the scan covers every returned doc (chunk-level arrays)
    assert set(docs.tolist()) <= set(cert.scan_docs.tolist())
    # clustered regime: the unscanned-cell geometry bound sits BELOW
    # the dense shortlist-min — that gap is what stops the ft-covered
    # dense-band escalation
    assert cert.unscanned_bound < cert.min_score
    # each returned doc's f64-rescored best agrees with the max of its
    # scanned f32 chunk scores to fp32 tolerance
    best32 = {}
    for d, s in zip(cert.scan_docs.tolist(), cert.scan_s32.tolist()):
        best32[d] = max(best32.get(d, -2.0), s)
    for d, s in zip(docs.tolist(), scores.tolist()):
        assert abs(best32[int(d)] - s) < 1e-4

    # filtered candidate parity end-to-end through the hybrid merge
    toks = [[f"t{t}" for t in rng.integers(0, 400, size=5)]
            for _ in range(n_chunks)]
    ft = ServedTextIndex.from_tokens(chunk_ids, doc_ids, toks)

    class _Pipe:
        name = "geom_test"

        def served_index(self, field):
            return idx

        def served_text_index(self, field):
            return ft

    class _Coll:
        def __init__(self):
            self._search_log_buffer = []

    coll = _Coll()
    hq = {
        "query": {
            "semantic_search": {"text": {"query": "q", "boost": 1.5}},
            "full_text_search": {"text": {"query": "t3 t47",
                                          "boost": 0.8}},
            "filter": {"lang": {"$eq": "en"}},
        },
        "limit": 10,
    }
    exact = _served_hybrid(coll, _Pipe(), hq, semantic_mode="exact")
    cand = _served_hybrid(coll, _Pipe(), hq, semantic_mode="candidate")
    assert [r["document_id"] for r in cand] == [
        r["document_id"] for r in exact
    ]
    for c, e in zip(cand, exact):
        assert abs(c["score"] - e["score"]) < 1e-9


def _certificate_index(shards: int):
    """The geometric fixture as one ivfflat index, or as shard 0 of a
    4-shard ``from_shards`` index whose shards 1-3 are 6,200 × 384
    corpora of 16 tight clusters drawn with their own seeds. Doc ids
    are 4·d + i on shard i (doc-disjoint), and every shard stays above
    the 2M-flop crossover, so each certifies by probe geometry; the
    fixture's query is in-distribution for shard 0 and off-codebook for
    the others."""
    import numpy as np

    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ShardedPipelineIndex,
    )

    _, chunk_ids, doc_ids, mat, qv, _ = _geometric_ivf_corpus()
    if shards == 1:
        return ServedPipelineIndex.from_arrays(
            chunk_ids, doc_ids, mat, lambda q: qv,
            kind="ivfflat", params={"lists": 16, "probes": 4})
    n, dim = mat.shape
    parts = []
    for i in range(shards):
        if i:
            rng = np.random.default_rng(100 + i)
            centers = rng.normal(size=(16, dim))
            centers /= np.linalg.norm(centers, axis=1, keepdims=True)
            mat = (centers[np.arange(n) % 16]
                   + rng.normal(scale=0.01, size=(n, dim))).astype(np.float32)
        parts.append(ServedPipelineIndex.from_arrays(
            chunk_ids + i * n, doc_ids * shards + i, mat, lambda q: qv,
            kind="ivfflat", params={"lists": 16, "probes": 4}))
    return ShardedPipelineIndex.from_shards(parts)


@pytest.mark.parametrize("shards", [1, 4], ids=["single", "four_shards"])
def test_candidate_certificate_is_sound(shards):
    """The candidate certificate's two answers are true bounds: every
    resident doc outside the shortlist scores (exact best-chunk f64
    cosine) at most its per-doc bound, and whenever the unseen-doc
    bound is trusted, no doc outside the merge universe beats it —
    for one index and for the doc-disjoint merge of four shards."""
    import numpy as np

    idx = _certificate_index(shards)
    all_docs, exact = idx.best_chunk_scores("q")
    rng = np.random.default_rng(3)
    checked_trusted = 0
    for n_cand, widen in ((80, 1), (400, 1), (80, 2)):
        docs, _, cert = idx.candidate_chunk_scores(
            "q", n_candidates=n_cand, widen=widen)
        assert not cert.exhausted and cert.unscanned_bound is not None
        outside = ~np.isin(all_docs, docs)
        ub = cert.doc_bound(all_docs[outside])
        assert ub is not None  # geometry bounds without router trust
        assert np.all(exact[outside] <= ub)
        # universes: the shortlist alone, and with other docs scored
        # by a second component (the masked-max path of the bound)
        extra = rng.choice(all_docs[outside], size=200, replace=False)
        for universe in (docs, np.union1d(docs, extra)):
            bound, trusted = cert.unseen_bound(universe)
            unseen = ~np.isin(all_docs, universe)
            if trusted:
                checked_trusted += 1
                assert exact[unseen].max() <= bound
    assert checked_trusted


def test_certificate_merge_and_bounds_without_unprobed_cells():
    """Pins the certificate arithmetic on hand-built values: the shard
    merge takes maxima over open shards and drops geometry a shard
    lacks; a probe round that reached every cell (unscanned bound
    -inf, every scanned chunk handed off) bounds a doc by its handed-off
    chunks alone and a doc without one by -inf, never NaN."""
    import numpy as np

    from postgresml_spark.collections.serving import CandidateCertificate

    slack = lambda x: x + 1e-5  # noqa: E731  (|x| <= 1)
    geo = CandidateCertificate(
        min_score=0.9, exhausted=False, exact_topn=False,
        router_confident=False, full_probe_mult=4,
        unscanned_bound=float("-inf"),
        scan_docs=np.array([5, 5, 7]),
        scan_s32=np.array([0.5, 0.7, 0.2], dtype=np.float32))
    ub = geo.doc_bound(np.array([5, 6, 7]))
    assert ub[1] == float("-inf") and not np.isnan(ub).any()
    assert ub[0] == pytest.approx(slack(0.7)) and ub[2] == pytest.approx(slack(0.2))
    assert geo.unseen_bound(np.array([5])) == (pytest.approx(slack(0.2)), True)
    assert geo.unseen_bound(np.array([5, 7])) == (float("-inf"), True)

    heur = CandidateCertificate(min_score=0.95, exhausted=False,
                                exact_topn=False, router_confident=True,
                                full_probe_mult=2)
    assert heur.doc_bound(np.array([1, 2])).tolist() == [0.95, 0.95]
    assert heur.unseen_bound(np.array([1])) == (0.95, True)
    untrusted = CandidateCertificate(min_score=0.95, exhausted=False,
                                     exact_topn=False,
                                     router_confident=False)
    assert untrusted.doc_bound(np.array([1])) is None
    assert untrusted.unseen_bound(np.array([1])) == (0.95, False)

    merged = CandidateCertificate.merge([geo, CandidateCertificate()])
    assert merged.scan_docs.tolist() == [5, 5, 7]
    assert (merged.min_score, merged.full_probe_mult) == (0.9, 4)
    mixed = CandidateCertificate.merge([geo, heur])
    assert mixed.unscanned_bound is None and mixed.scan_docs is None
    assert (mixed.min_score, mixed.router_confident) == (0.95, False)
    assert CandidateCertificate.merge([CandidateCertificate()] * 2) \
        == CandidateCertificate()


def test_candidate_chunk_scores_embeds_the_query_once():
    """candidate_chunk_scores embeds its query once on both sides of
    the 2M-flop crossover. Below it, candidate mode is the exact
    served mode: the same arrays as best_chunk_scores, a zero-norm
    query included, with the exact certificate."""
    import numpy as np

    from postgresml_spark.collections.serving import (
        CandidateCertificate,
        ServedPipelineIndex,
    )

    calls = []
    rng = np.random.default_rng(9)
    q = {"q": rng.normal(size=8), "zero": np.zeros(8)}

    def embed(text):
        calls.append(text)
        return q[text]

    small = ServedPipelineIndex.from_arrays(
        np.arange(100), rng.integers(0, 30, size=100),
        rng.normal(size=(100, 8)), embed)
    for text in ("q", "zero"):
        calls.clear()
        docs, scores, cert = small.candidate_chunk_scores(text, 10)
        assert len(calls) == 1
        ed, es = small.best_chunk_scores(text)
        assert np.array_equal(docs, ed) and np.array_equal(scores, es)
        assert cert == CandidateCertificate()
    assert docs.size == 30 and not scores.any()  # zero norm: all at 0

    _, chunk_ids, doc_ids, mat, qv, _ = _geometric_ivf_corpus()
    big = ServedPipelineIndex.from_arrays(
        chunk_ids, doc_ids, mat, lambda t: calls.append(t) or qv,
        kind="ivfflat", params={"lists": 16, "probes": 4})
    big.hnsw
    calls.clear()
    big.candidate_chunk_scores("q", 80)
    assert len(calls) == 1


def test_candidate_adaptive_overfetch_recovers_ood_queries():
    """VERDICT r6 next #1: the candidate-bounded hybrid escalates its
    overfetch when it can't PROVE the top-k safe. Off-codebook queries
    (best found chunk beats every centroid alignment — IVF probing
    order is noise there) jump straight to a full probe sweep, making
    the shortlist provably exact top-n; in-distribution queries stay at
    mult=1. Still-unsafe queries surface candidates_exhausted through
    SearchResults.search_info and the telemetry buffer."""
    import numpy as np

    from postgresml_spark.collections.search import _served_hybrid
    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ServedTextIndex,
    )

    rng = np.random.default_rng(41)
    # dim*n_chunks must exceed the 2M-flop exact-scan crossover or the
    # candidate path legitimately serves the exact scan and never
    # escalates (the small-corpus fast path under test elsewhere)
    dim, n_chunks = 384, 6000
    centers = rng.normal(size=(12, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    mat = np.empty((n_chunks, dim), dtype=np.float32)
    k_cl = int(n_chunks * 0.7)
    mat[:k_cl] = centers[rng.integers(0, 12, k_cl)] + rng.normal(
        scale=0.05, size=(k_cl, dim)
    )
    mat[k_cl:] = rng.normal(size=(n_chunks - k_cl, dim))
    chunk_ids = np.arange(n_chunks, dtype=np.int64)
    doc_ids = rng.integers(0, n_chunks // 3, size=n_chunks)
    queries = {
        "indist": centers[3] + rng.normal(scale=0.1, size=dim),
        "ood": rng.normal(size=dim),
    }
    idx = ServedPipelineIndex.from_arrays(
        chunk_ids, doc_ids, mat, lambda q: queries[q],
        kind="ivfflat", params={"lists": 24, "probes": 3},
    )
    idx.hnsw
    toks = [[f"t{t}" for t in rng.integers(0, 500, size=6)]
            for _ in range(n_chunks)]
    ft = ServedTextIndex.from_tokens(chunk_ids, doc_ids, toks)

    class _Pipe:
        name = "adaptive_test"

        def served_index(self, field):
            return idx

        def served_text_index(self, field):
            return ft

    class _Coll:
        def __init__(self):
            self._search_log_buffer = []

    pipe, coll = _Pipe(), _Coll()
    for qname, want_escalation in (("indist", False), ("ood", True)):
        hq = {
            "query": {
                "semantic_search": {"text": {"query": qname, "boost": 1.5}},
                "full_text_search": {"text": {"query": "t3 t47",
                                              "boost": 0.8}},
            },
            "limit": 10,
        }
        exact = _served_hybrid(coll, pipe, hq, semantic_mode="exact")
        cand = _served_hybrid(coll, pipe, hq, semantic_mode="candidate")
        info = cand.search_info
        assert [r["document_id"] for r in cand] == [
            r["document_id"] for r in exact
        ], f"{qname}: candidate/exact divergence"
        for c, e in zip(cand, exact):
            assert abs(c["score"] - e["score"]) < 1e-9
        assert (info["candidate_mult"] > 1) == want_escalation, (
            f"{qname}: mult={info['candidate_mult']}"
        )
        assert info["candidates_exhausted"] is False
        assert coll._search_log_buffer[-1]["candidates_exhausted"] is False


def test_four_shard_scatter_identity_and_parallel_pool(shard_setup):
    """VERDICT r6 next #2: the scatter is a thread fan-out (latency ~
    max(shard), not sum) and the identity contract extends to 4 shards
    — same docs, same order, same float64 scores as single-shard, for
    search, the hybrid arrays, and the end-to-end hybrid merge."""
    import numpy as np

    coll, pipe, single, _, _ = shard_setup
    from postgresml_spark.collections.serving import (
        ShardedPipelineIndex,
        ShardedTextIndex,
    )

    if single.is_stale():  # earlier tests may have upserted documents
        single = single.refresh()
    four = ShardedPipelineIndex(coll, pipe, "text", 4)
    four_ft = ShardedTextIndex(coll, pipe, "text", 4)
    assert sum(len(s.chunk_ids) for s in four.shards) == len(single.chunk_ids)
    for qt in QUERIES[:3]:
        one = single.search(qt, limit=10)
        got = four.search(qt, limit=10)
        assert [round(r["score"], 9) for r in one] == [
            round(r["score"], 9) for r in got
        ]
        d1, s1 = single.best_chunk_scores(qt)
        d2, s2 = four.best_chunk_scores(qt)
        assert np.array_equal(d1, d2)
        assert np.allclose(s1, s2, atol=1e-12, rtol=0)
    # the scatter pool exists after the first multi-shard query and is
    # sized to the shard count (the parallel path, not the serial loop)
    assert four._pool is not None
    assert four._pool._max_workers == 4
    # end-to-end hybrid over 4 shards == single-shard served result
    pipe._served["text"] = single
    pipe._served.pop("__ft__text", None)
    one_hy = coll.search(_hq("distributed query engine", "spark stream"),
                         pipe, method="candidate")
    pipe._served["text"] = four
    pipe._served["__ft__text"] = four_ft
    got_hy = coll.search(_hq("distributed query engine", "spark stream"),
                         pipe, method="candidate")
    pipe._served["text"] = single
    pipe._served.pop("__ft__text", None)
    assert [(r["document_id"], round(r["score"], 9)) for r in one_hy] == [
        (r["document_id"], round(r["score"], 9)) for r in got_hy
    ]


def test_rerank_over_candidate_equals_rerank_over_exact(shard_setup):
    """VERDICT r6 next #5: vector_search(method='candidate') bounds the
    rerank overfetch to an explicit ANN candidate shortlist. On the
    closure config (ivfflat probes == lists — shard_setup's pipeline)
    the shortlist is provably the exact top-N, so rerank-over-candidate
    must EQUAL rerank-over-exact: same documents, same rerank scores,
    same order, for the ValidRerank dict shape with
    num_documents_to_rerank overfetch."""
    coll, pipe, *_ = shard_setup
    for qt in QUERIES[:3]:
        spec = {"query": {"fields": {"text": {"query": qt}}}, "limit": 5}
        rr = {"query": qt, "num_documents_to_rerank": 30}
        exact = coll.vector_search(dict(spec), pipe, method="exact",
                                   rerank=dict(rr))
        cand = coll.vector_search(dict(spec), pipe, method="candidate",
                                  rerank=dict(rr))
        assert [
            (r["document_id"], round(r["rerank_score"], 9),
             round(r["score"], 6))
            for r in exact
        ] == [
            (r["document_id"], round(r["rerank_score"], 9),
             round(r["score"], 6))
            for r in cand
        ], f"rerank candidate/exact divergence for {qt!r}"
    # the per-field candidates knob bounds the shortlist: a tiny bound
    # still returns sane, correctly-ranked rows (never a crash)
    spec = {
        "query": {"fields": {"text": {"query": QUERIES[0],
                                      "candidates": 8}}},
        "limit": 5,
    }
    rows = coll.vector_search(spec, pipe, method="candidate",
                              rerank={"query": QUERIES[0],
                                      "num_documents_to_rerank": 8})
    assert rows and all(r["rerank_score"] == r["rerank_score"] for r in rows)


def _tagged_docs(ids, text):
    return [{"id": i, "text": text(i), "tag": "even" if i % 2 == 0 else "odd"}
            for i in ids]


def test_refresh_invalidates_ann_row_order_caches(spark, tmp_path):
    """ADVICE r8 #1: caches derived from the ANN's internal row order
    (the doc id per ANN row and each filter's ann_mask) must not
    survive an append refresh. ivfflat drops its index on refresh and
    rebuilds it (clustered row order) on the next search; a live HNSW
    graph grows by add(). Either way the doc-id map re-derives at the
    new length and a filtered search sees the appended document — an
    id()-keyed cache could validate a stale, shorter array here because
    CPython reuses freed addresses."""
    for ann in ({"ivfflat": {"lists": 4, "probes": 2}},
                {"hnsw": {"m": 8, "ef_construction": 32}}):
        _check_append_refresh(spark, str(tmp_path / next(iter(ann))), ann)


def _check_append_refresh(spark, wh, ann):
    import numpy as np

    coll = Collection("annbuild", spark, warehouse=wh)
    coll.upsert_documents(_tagged_docs(
        range(40), lambda i: f"seed document number {i} about topic {i % 7}"))
    pipe = Pipeline("p", {"text": {"semantic_search": {"model": "hash:32",
                                                       **ann}}})
    coll.add_pipeline(pipe)
    even = {"tag": {"$eq": "even"}}

    def check_doc_map(idx, n):
        docs = idx._ann_doc_ids()
        assert len(docs) == n, "stale doc-id cache survived the rebuild"
        assert idx._ann_doc_ids() is docs  # cached until the ANN changes
        # every ANN row's doc id matches the payload arrays through
        # chunk_id lookup
        rows = np.asarray([idx.row_of[int(c)] for c in idx.hnsw.ids])
        assert (idx.doc_ids[rows] == docs).all()

    idx = pipe.served_index("text")
    n0 = len(idx.chunk_ids)
    check_doc_map(idx, n0)
    before = idx.search("fresh zebra payload", limit=50, filter=even)
    assert before and all(r["document"]["tag"] == "even" for r in before)
    graph = idx.hnsw
    coll.upsert_documents(_tagged_docs(
        [42], lambda i: "fresh zebra payload after refresh"))
    assert pipe.served_index("text") is idx, "append must refresh in place"
    if "hnsw" in ann:
        assert idx.hnsw is graph, "hnsw appends go into the live graph"
    check_doc_map(idx, n0 + 1)
    got = idx.search("fresh zebra payload", limit=50, filter=even)
    assert 42 in {r["document"]["id"] for r in got}
    assert all(r["document"]["tag"] == "even" for r in got)


@pytest.mark.parametrize("kind", ["hnsw", "ivfflat"])
def test_search_with_empty_shortlist_returns_nothing(kind):
    """candidates=0 asks the ANN for an empty shortlist; the float64
    rescore of an empty shortlist is an empty result, not an IndexError
    from indexing with a float array."""
    import numpy as np

    from postgresml_spark.collections.serving import ServedPipelineIndex

    rng = np.random.default_rng(5)
    mat = rng.normal(size=(60, 8))
    idx = ServedPipelineIndex.from_arrays(
        np.arange(60), np.arange(60) // 3, mat, lambda q: mat[0], kind=kind)
    assert idx.search("q", candidates=0) == []
    assert idx.search("q", candidates=0, filter={"a": {"$eq": 1}}) == []
    assert idx.search("q", limit=3)[0]["document_id"] == 0


@pytest.mark.parametrize("setup", ["hybrid_setup", "shard_setup"])
def test_spark_and_array_builds_share_one_state_path(setup, request):
    """A Spark-built index and a from_arrays/from_tokens index fed the
    same rows (read independently from the synced tables, in the Spark
    index's row order) serve identically: search unfiltered and
    filtered, best_chunk_scores and candidate_chunk_scores; the text
    twins give the same postings and ts_rank scores."""
    import numpy as np

    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ServedTextIndex,
    )

    coll, pipe = request.getfixturevalue(setup)[:2]
    built = ServedPipelineIndex(coll, pipe, "text")
    chunks = pipe.table("text_chunks").select("chunk_id", "document_id", "chunk")
    pdf = (pipe.table("text_embeddings").join(chunks, "chunk_id").toPandas()
           .set_index("chunk_id").loc[built.chunk_ids])
    ddf = coll.documents.read().select("id", "document").toPandas()
    arrays = ServedPipelineIndex.from_arrays(
        pdf.index.to_numpy(), pdf["document_id"].to_numpy(),
        np.asarray(pdf["embedding"].tolist()), built._embed,
        doc_json=dict(zip(ddf["id"].tolist(), ddf["document"].tolist())),
        chunks=pdf["chunk"].tolist(), kind=built.kind, params=built._params,
    )
    for qt in QUERIES:
        for filt in (None, {"lang": {"$eq": "en"}}):
            assert arrays.search(qt, limit=10, filter=filt) \
                == built.search(qt, limit=10, filter=filt)
            for a, b in ((arrays.best_chunk_scores(qt, filter=filt),
                          built.best_chunk_scores(qt, filter=filt)),
                         (arrays.candidate_chunk_scores(qt, 20, filter=filt),
                          built.candidate_chunk_scores(qt, 20, filter=filt))):
                assert all(np.array_equal(x, y) for x, y in zip(a, b))

    ft = ServedTextIndex(coll, pipe, "text")
    tdf = (pipe.table("text_tsvectors").toPandas().set_index("chunk_id")
           .loc[ft.chunk_ids])
    ft_arrays = ServedTextIndex.from_tokens(
        tdf.index.to_numpy(), ft.doc_ids, tdf["tokens"].tolist())
    assert ft_arrays.postings == ft.postings
    allowed = built._allowed_doc_ids({"lang": {"$eq": "en"}})
    for terms in (["spark", "stream"], ["vector", "merge", "table"]):
        for docs in (None, allowed):
            a = ft_arrays.best_chunk_scores(terms, allowed_docs=docs)
            b = ft.best_chunk_scores(terms, allowed_docs=docs)
            assert all(np.array_equal(x, y) for x, y in zip(a, b))


def test_sharded_scatter_recall_floor_with_widen():
    """VERDICT r8 next #1: sharded configs scale per-shard probes
    ~1/sqrt(n), which cuts the per-shard probe COUNT — measured as a
    0.096 recall cliff at 4 shards/1M (tools/shard_scatter_latency
    r8). ShardedPipelineIndex.search must pass widen=sqrt(n) so each
    shard probes the single-index cell count at ~1/n of its scanned
    rows. Pins (a) the widen plumbing mechanically, (b) recall@10 vs
    float64 brute truth: widen beats the no-widen counterfactual by a
    measurable margin AND the 4-shard scatter stays within 0.02 of
    the single index (deterministic seeds; measured 0.85 / 0.80 /
    0.725 at authoring time)."""
    import numpy as np

    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ShardedPipelineIndex,
    )

    rng = np.random.default_rng(23)
    n_chunks, dim, n_clusters = 40_000, 64, 400
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = rng.integers(0, n_clusters, size=n_chunks)
    mat = (centers[cl] + rng.normal(scale=0.05, size=(n_chunks, dim))
           ).astype(np.float32)
    doc_ids = rng.integers(0, n_chunks // 4, size=n_chunks)
    chunk_ids = np.arange(n_chunks, dtype=np.int64)
    # noise 0.22: hard enough that the single index is NOT saturated
    # (recall ~0.73), so shard-vs-single comparisons measure probe
    # behavior instead of a ceiling
    qs = centers[rng.integers(0, n_clusters, size=24)] + rng.normal(
        scale=0.22, size=(24, dim))
    embed = lambda q: qs[int(q[1:])]  # noqa: E731

    single = ServedPipelineIndex.from_arrays(
        chunk_ids, doc_ids, mat, embed,
        kind="ivfflat", params={"lists": 128, "probes": 8},
    )

    # shipped discipline (VERDICT r8 next #1): per-shard lists KEEP
    # the single-index cell count (rows/1000-style rule — the r8
    # artifact's 1/sqrt(n) lists scaling compounds the trap); base
    # probes scale 1/sqrt(n) and the scatter's auto widen=sqrt(n)
    # restores the single-index probe count
    shard_of = doc_ids % 4
    shards = [
        ServedPipelineIndex.from_arrays(
            chunk_ids[shard_of == i], doc_ids[shard_of == i],
            mat[shard_of == i], embed,
            kind="ivfflat", params={"lists": 128, "probes": 4},
        )
        for i in range(4)
    ]
    sharded4 = ShardedPipelineIndex.from_shards(shards)

    # (a) mechanical: the scatter path hands widen=2.0 to each shard
    seen = []
    orig = ServedPipelineIndex.search

    def spy(self, *a, **kw):
        seen.append(kw.get("widen", 1.0))
        return orig(self, *a, **kw)

    ServedPipelineIndex.search = spy
    try:
        sharded4.search("q0", limit=10)
    finally:
        ServedPipelineIndex.search = orig
    assert seen and all(w == pytest.approx(2.0) for w in seen), seen

    # (b) behavioral: recall@10 vs float64 brute truth
    norms = np.linalg.norm(mat.astype(np.float64), axis=1)
    norms[norms == 0.0] = 1.0
    perm = np.argsort(doc_ids, kind="stable")
    uniq, starts = np.unique(doc_ids[perm], return_index=True)

    def truth(i):
        q64 = qs[i].astype(np.float64)
        s = (mat.astype(np.float64) @ q64) / (
            norms * (np.linalg.norm(q64) or 1.0))
        best = np.maximum.reduceat(s[perm], starts)
        return {int(d) for d in uniq[np.lexsort((uniq, -best))[:10]]}

    truths = [truth(i) for i in range(24)]

    def recall_scatter():
        return float(np.mean([
            len({r["document_id"]
                 for r in sharded4.search(f"q{i}", limit=10)} & truths[i])
            / 10 for i in range(24)
        ]))

    def recall_no_widen():
        rs = []
        for i in range(24):
            merged = []
            for s in shards:
                merged.extend(s.search(f"q{i}", limit=10, widen=1.0))
            merged.sort(key=lambda r: (-r["score"], r["document_id"]))
            rs.append(
                len({r["document_id"] for r in merged[:10]} & truths[i])
                / 10
            )
        return float(np.mean(rs))

    def recall_single():
        return float(np.mean([
            len({r["document_id"]
                 for r in single.search(f"q{i}", limit=10)} & truths[i])
            / 10 for i in range(24)
        ]))

    r_w, r_nw, r_s = recall_scatter(), recall_no_widen(), recall_single()
    assert r_w >= r_nw + 0.02, f"widen {r_w:.4f} vs no-widen {r_nw:.4f}"
    assert r_w >= r_s - 0.02, f"widen {r_w:.4f} vs single {r_s:.4f}"


def test_candidate_staged_augmentation_exactness():
    """VERDICT r8 next #3: the deferred (WAND/max-score) augmentation
    must return EXACTLY the eager plan's hybrid top-k — the prune is a
    proof, not a heuristic. Corpus sits above the 2M-element exact
    crossover so candidate mode genuinely runs shortlists + staged
    gather; common terms create wide tf=1 tie bands (the regime the
    r8 eager gather paid full price for). Also pins the f32 screening
    gather's error bound against the f64 exact gather."""
    import numpy as np

    from postgresml_spark.collections.search import _served_hybrid
    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ServedTextIndex,
    )

    rng = np.random.default_rng(5)
    n_chunks, dim = 60_000, 48  # 2.88M elements > 2M crossover
    n_docs = n_chunks // 4
    n_clusters = 200
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = rng.integers(0, n_clusters, size=n_chunks)
    mat = (centers[cl] + rng.normal(scale=0.05, size=(n_chunks, dim))
           ).astype(np.float32)
    doc_ids = rng.integers(0, n_docs, size=n_chunks)
    chunk_ids = np.arange(n_chunks, dtype=np.int64)
    lens = rng.integers(4, 20, size=n_chunks)
    flat = np.minimum(rng.zipf(1.5, size=int(lens.sum())), 512) - 1
    bounds = np.concatenate([[0], np.cumsum(lens)])
    token_lists = [
        [f"t{t}" for t in flat[bounds[i]:bounds[i + 1]]]
        for i in range(n_chunks)
    ]
    qs = np.empty((12, dim))
    qs[:10] = centers[rng.integers(0, n_clusters, size=10)] + rng.normal(
        scale=0.15, size=(10, dim))
    qs[10:] = rng.normal(size=(2, dim))  # OOD
    embed = lambda q: qs[int(q[1:])]  # noqa: E731

    idx = ServedPipelineIndex.from_arrays(
        chunk_ids, doc_ids, mat, embed,
        kind="ivfflat", params={"lists": 128, "probes": 16},
    )
    ft = ServedTextIndex.from_tokens(chunk_ids, doc_ids, token_lists)

    class _P:
        name = "staged_test"

        def served_index(self, f):
            return idx

        def served_text_index(self, f):
            return ft

    class _C:
        _search_log_buffer: list = []

    pipe, coll = _P(), _C()

    # f32 screen vs f64 exact: error within the declared bound
    probe_docs = np.unique(rng.integers(0, n_docs, size=500))
    for qi in (0, 3, 10):
        ed, es = idx.best_chunk_scores_for_docs(f"q{qi}", probe_docs)
        ad, as32, err = idx.approx_chunk_scores_for_docs(
            f"q{qi}", probe_docs)
        assert np.array_equal(ed, ad)
        assert float(np.max(np.abs(es - as32))) <= err, (
            float(np.max(np.abs(es - as32))), err)

    # staged candidate == exact plan, ids AND scores, common + rare
    for terms in ("t45 t60", "t300 t410", "t50 t51"):
        for qi in range(12):
            hq = {
                "query": {
                    "semantic_search": {"text": {"query": f"q{qi}",
                                                 "boost": 1.5}},
                    "full_text_search": {"text": {"query": terms,
                                                  "boost": 0.8}},
                },
                "limit": 10,
            }
            ex = _served_hybrid(coll, pipe, hq, semantic_mode="exact")
            ca = _served_hybrid(coll, pipe, hq, semantic_mode="candidate")
            if ca.search_info["candidates_exhausted"]:
                continue  # best-effort result is surfaced, not proven
            assert [r["document_id"] for r in ca] == [
                r["document_id"] for r in ex
            ], f"terms={terms} q{qi}"
            for a, b in zip(ca, ex):
                assert a["score"] == pytest.approx(b["score"], abs=1e-12)


def _stub_hybrid(idx, ft):
    """(pipeline, collection) stand-ins serving ``idx``/``ft`` to
    search._served_hybrid, no warehouse."""

    class _P:
        name = "stub"

        def served_index(self, f):
            return idx

        def served_text_index(self, f):
            return ft

    class _C:
        def __init__(self):
            self._search_log_buffer = []

    return _P(), _C()


def test_served_hybrid_limit_zero_returns_empty():
    """`"limit": 0` returns [] in both served semantic modes, like the
    DataFrame plan's LIMIT 0."""
    import numpy as np

    from postgresml_spark.collections.search import _served_hybrid
    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ServedTextIndex,
    )

    rng = np.random.default_rng(2)
    ids = np.arange(50, dtype=np.int64)
    qv = rng.normal(size=8)
    idx = ServedPipelineIndex.from_arrays(ids, ids, rng.normal(size=(50, 8)),
                                          lambda q: qv)
    ft = ServedTextIndex.from_tokens(ids, ids, [["w"]] * 50)
    pipe, coll = _stub_hybrid(idx, ft)
    hq = {"query": {"semantic_search": {"text": {"query": "q"}},
                    "full_text_search": {"text": {"query": "w"}}},
          "limit": 0}
    for mode in ("exact", "candidate"):
        assert list(_served_hybrid(coll, pipe, hq, semantic_mode=mode)) == []


def test_candidate_prune_clamps_negative_semantic_bound():
    """A doc outside the shortlist whose best cosine is negative must
    not be returned at its full-text-only total. Corpus clustered at c,
    query -c (every cosine near -0.97): twelve shortlist docs carry the
    term "a", one doc outside the shortlist carries "rare". Its bound
    b·ub < 0 used to prune it while it kept the un-augmented total 1.0
    and ranked first; 4,000 × 512 is the smallest corpus above the
    exact-scan crossover that showed it. Exact mode is the reference."""
    import numpy as np

    from postgresml_spark.collections.search import _served_hybrid
    from postgresml_spark.collections.serving import (
        ServedPipelineIndex,
        ServedTextIndex,
    )

    n, dim = 4000, 512
    rng = np.random.default_rng(5)
    c = rng.normal(size=dim)
    c /= np.linalg.norm(c)
    mat = (c + rng.normal(scale=0.01, size=(n, dim))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    idx = ServedPipelineIndex.from_arrays(
        ids, ids, mat, lambda q: -c,
        kind="ivfflat", params={"lists": 16, "probes": 2})
    short, _, cert = idx.candidate_chunk_scores("q", n_candidates=160)
    assert not cert.exhausted
    toks = [["other"] for _ in range(n)]
    for d in short[:12]:
        toks[int(d)] = ["a"]
    rare = int(np.setdiff1d(ids, short)[0])
    toks[rare] = ["rare"]
    pipe, coll = _stub_hybrid(idx, ServedTextIndex.from_tokens(ids, ids, toks))
    hq = {"query": {"semantic_search": {"text": {"query": "q"}},
                    "full_text_search": {"text": {"query": "a rare",
                                                  "boost": 3.0}}},
          "limit": 10}
    ex = _served_hybrid(coll, pipe, hq, semantic_mode="exact")
    ca = _served_hybrid(coll, pipe, hq, semantic_mode="candidate")
    assert ca.search_info["candidates_exhausted"] is False
    assert [r["document_id"] for r in ca] == [r["document_id"] for r in ex]
    for a, b in zip(ca, ex):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)


# -- O(changed) refresh ≡ fresh build -----------------------------------------

_EQ_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _eq_doc(rng, i: int) -> dict:
    return {"id": int(i), "text": " ".join(rng.choice(_EQ_WORDS, 7)),
            "lang": "en" if i % 2 else "fr"}


def _eq_rows(idx) -> dict:
    """chunk_id -> (doc_id, chunk text, vector) of every (shard's)
    resident row."""
    out = {}
    for s in getattr(idx, "shards", [idx]):
        for r, c in enumerate(s.chunk_ids.tolist()):
            out[c] = (int(s.doc_ids[r]), s.chunks[r], tuple(s.mat64[r]))
    return out


def _eq_postings(ft) -> dict:
    """term -> {chunk_id: tf} over the live rows, plus chunk -> doc."""
    out: dict = {}
    for s in getattr(ft, "shards", [ft]):
        live = s._live if s._live is not None else np.ones(s.n_rows, bool)
        for t, post in s.postings.items():
            for r, tf in post.items():
                if live[r]:
                    out.setdefault(t, {})[int(s.chunk_ids[r])] = tf
        for r in np.flatnonzero(live):
            out.setdefault("__doc__", {})[int(s.chunk_ids[r])] = int(
                s.doc_ids[r])
    return out


def _eq_hybrid(idx, ft, hq) -> list:
    from postgresml_spark.collections.search import _served_hybrid

    pipe, coll = _stub_hybrid(idx, ft)
    return [(r["document_id"], round(r["score"], 9), r["document"])
            for r in _served_hybrid(coll, pipe, hq, semantic_mode="exact")]


def _assert_equivalent(idx, ft, fresh, fresh_ft, search: bool) -> None:
    """Resident rows, payloads, live postings and exact-mode results of
    a refreshed (idx, ft) pair equal a fresh build's."""
    assert _eq_rows(idx) == _eq_rows(fresh)
    assert dict(idx.doc_json) == dict(fresh.doc_json)
    assert _eq_postings(ft) == _eq_postings(fresh_ft)
    for q in ("alpha beta gamma", "sigma tau rho", "kappa"):
        d1, s1 = idx.best_chunk_scores(q)
        d2, s2 = fresh.best_chunk_scores(q)
        assert np.array_equal(d1, d2)
        assert np.allclose(s1, s2, atol=1e-12, rtol=0)
        for filt in (None, {"lang": {"$eq": "en"}}):
            hq = {"query": {"semantic_search": {"text": {"query": q}},
                            "full_text_search": {"text": {"query": q}}},
                  "limit": 8}
            if filt:
                hq["query"]["filter"] = filt
            assert _eq_hybrid(idx, ft, hq) == _eq_hybrid(fresh, fresh_ft, hq)
        if search:  # the ANN is exhaustive at this corpus size
            assert [(r["document_id"], round(r["score"], 9), r["chunk"])
                    for r in idx.search(q, limit=8)] == [
                (r["document_id"], round(r["score"], 9), r["chunk"])
                for r in fresh.search(q, limit=8)]


def test_refresh_from_delta_sidecars_equals_fresh_build(spark, tmp_path):
    """Seeded rounds of insert, update, merge=True upsert and
    delete_documents on a semantic + full-text pipeline: after each
    write every resident index refreshes in place with no Spark job and
    no __init__ call, and equals a fresh build (rows, vectors, payloads,
    postings, exact-mode search). Indexes: HNSW never built, HNSW
    built, ivfflat (probes == lists) and 2 doc-hash shards. Then the
    cases the sidecars cannot prove rebuild, and still equal a fresh
    build: resync, purge_documents, a legacy flat version; a disabled
    pipeline's payload-only catch-up and its re-enable refresh in
    place."""
    import postgresml_spark.collections.serving as sv
    from postgresml_spark.collections.storage import VersionedTable

    rng = np.random.default_rng(23)
    coll = Collection("refresh_eq", spark, warehouse=str(tmp_path / "wh"))
    coll.upsert_documents([_eq_doc(rng, i) for i in range(40)])
    hnsw = {"model": "hash:16", "hnsw": {"m": 8, "ef_construction": 32}}
    ivf = {"model": "hash:16", "ivfflat": {"lists": 4, "probes": 4}}
    ft_cfg = {"configuration": "english"}
    p = Pipeline("p", {"text": {"semantic_search": hnsw,
                                "full_text_search": ft_cfg}})
    q = Pipeline("q", {"text": {"semantic_search": ivf,
                                "full_text_search": ft_cfg}})
    coll.add_pipeline(p)
    coll.add_pipeline(q)

    def fresh(pipe, shards):
        if shards:
            return (sv.ShardedPipelineIndex(coll, pipe, "text", shards),
                    sv.ShardedTextIndex(coll, pipe, "text", shards))
        return (sv.ServedPipelineIndex(coll, pipe, "text"),
                sv.ServedTextIndex(coll, pipe, "text"))

    # name -> [pipeline, shards, ann built?, index, text index]
    live = {name: [pipe, shards, built, *fresh(pipe, shards)]
            for name, pipe, shards, built in (
                ("hnsw_unbuilt", p, None, False), ("hnsw_built", p, None, True),
                ("ivfflat", q, None, True), ("two_shards", p, 2, True))}

    builds = {"n": 0}
    inits = {c: c.__init__ for c in (sv.ServedPipelineIndex, sv.ServedTextIndex)}

    def spy(cls):
        def init(self, *a, **kw):
            builds["n"] += 1
            return inits[cls](self, *a, **kw)
        return init

    def build_anns():
        for _, shards, built, idx, _ in live.values():
            for s in (idx.shards if shards else [idx]) if built else []:
                s.hnsw

    def refresh_all(label, in_place=True):
        builds["n"] = 0
        for c in inits:
            c.__init__ = spy(c)
        try:
            with assert_no_spark_jobs(spark, f"refresh after {label}") \
                    if in_place else nullcontext():
                for ent in live.values():
                    for k in (3, 4):
                        got = ent[k].refresh()
                        if in_place:
                            assert got is ent[k], f"{label}: rebuilt"
                        ent[k] = got
        finally:
            for c, f in inits.items():
                c.__init__ = f
        assert (builds["n"] == 0) == in_place, (label, builds["n"])

    def check(label):
        fresh_by = {}
        for name, (pipe, shards, built, idx, ft) in live.items():
            key = (pipe.name, shards)
            if key not in fresh_by:
                fresh_by[key] = fresh(pipe, shards)
            f_idx, f_ft = fresh_by[key]
            try:
                _assert_equivalent(idx, ft, f_idx, f_ft, search=built)
            except AssertionError as e:
                raise AssertionError(f"{name} after {label}") from e
        build_anns()

    build_anns()
    next_id = 1000
    for rnd in range(2):
        coll.upsert_documents([_eq_doc(rng, next_id + j) for j in range(2)])
        next_id += 2
        refresh_all(f"round {rnd} insert")
        # a pure append grows the live graph instead of dropping it
        assert live["hnsw_built"][3]._hnsw is not None
        check(f"round {rnd} insert")
        ids = [d["document"]["id"] for d in coll.get_documents(limit=1000)]
        for label, write in (
            ("update", lambda: coll.upsert_documents(
                [_eq_doc(rng, i) for i in rng.choice(ids, 3, replace=False)])),
            ("merge", lambda: coll.upsert_documents(
                [{"id": int(rng.choice(ids)), "lang": "de"}], merge=True)),
            ("delete", lambda: coll.delete_documents(
                {"id": {"$eq": int(rng.choice(ids))}})),
        ):
            write()
            refresh_all(f"round {rnd} {label}")
            check(f"round {rnd} {label}")

    # a disabled pipeline: documents move, its derived tables do not
    coll.disable_pipeline(p)
    coll.upsert_documents([_eq_doc(rng, 5000)])
    refresh_all("upsert while disabled")
    check("upsert while disabled")
    coll.enable_pipeline(p)
    refresh_all("re-enable")
    check("re-enable")
    # new lineage or no snapshot: rebuild through __init__
    p.resync()
    refresh_all("resync", in_place=False)
    check("resync")
    coll.purge_documents({"id": {"$eq": 1000}})
    refresh_all("purge", in_place=False)
    check("purge")
    for pipe in (p, q):
        tbl = pipe._tables["text_embeddings"]
        VersionedTable.overwrite(tbl, tbl.read())  # legacy flat version
    refresh_all("legacy flat version", in_place=False)
    check("legacy flat version")
