"""Capture .explain('formatted') of named Spark plans, for before/after
plan evidence of an optimization.

Usage: python tools/capture_plans.py <before|after> <out_dir> [plan ...]
  Writes <out_dir>/<plan>_<label>.txt for each named plan (all of
  PLANS when none is named). Run `before` at the parent commit or
  before editing, `after` at the change. Input tables are read from
  $SPARK_GRAFT_SF_DIR, a scale-factor directory of the generated
  parquet tables (the layout tools/selfcheck.py reads).

Plans:
  chunks_delta_read / embeddings_delta_read — pipeline tables read
      after one incremental sync (a delta version with tombstones)
  vector_search_exact — the exact vector_search tail; `before`
      transcribes the older per-field orderBy().limit() + union +
      orderBy().limit() construction, `after` the single terminal
      orderBy().limit()
  bm25_index_search — served bm25 query over a built text index
  set_similarity_join — q203's PPJoin self-join
  set_similarity_shingle_stage — its one shingle-UDF evaluation
      (materialized by localCheckpoint, so invisible in the plan above)
  sparse_index_search — served sparse query
  fpgrowth_baskets — q117's FPGrowth input (the fit itself is eager)

Lifecycle queries (q54/q218/q177/...) execute eagerly and have no
single plan; their evidence is the Spark-job census
(tools/job_profile.py).
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from postgresml_spark.session import get_spark, load_table  # noqa: E402


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class Ctx:
    """Shared inputs, built on first use: plans that need the synced
    collection or a built index pay for it once per run."""

    def __init__(self, spark, sf_dir: str, label: str):
        self.spark, self.sf_dir, self.label = spark, sf_dir, label
        self.tmp = tempfile.mkdtemp(prefix="capture_plans_")
        self._synced = None

    def table(self, name: str):
        return load_table(self.spark, self.sf_dir, name)

    def synced(self):
        """(collection, pipeline) after a full sync plus one
        incremental sync of every 20th document, so the derived tables
        carry a delta version (tombstones + delta)."""
        if self._synced is None:
            from postgresml_spark.collections import Collection, Pipeline

            docs = self.table("documents").filter(
                F.col("text").isNotNull()
            ).select(F.col("doc_id").alias("id"), "text", "lang")
            coll = Collection("plans", self.spark,
                              warehouse=os.path.join(self.tmp, "wh"))
            pipe = Pipeline("p", {"text": {
                "semantic_search": {"model": "hash:64"},
                "full_text_search": {"configuration": "english"},
            }})
            coll.upsert_documents_df(docs)
            coll.add_pipeline(pipe)
            changed = docs.filter(F.pmod(F.col("id"), F.lit(20)) == 0).withColumn(
                "text", F.concat(F.lit("UPDATED "), F.col("text"))
            )
            coll.upsert_documents_df(changed)  # attached pipeline syncs (delta)
            self._synced = coll, pipe
        return self._synced


def vector_search_exact(ctx: Ctx):
    from postgresml_spark.collections.search import _scored_chunks

    coll, pipe = ctx.synced()
    fetch = 64
    scored = _scored_chunks(coll, pipe, "text", "query text sample", None)
    sel = scored.select(
        "document_id", "document", "chunk",
        (F.col("cosine") * 1.0).alias("score"),
    )
    final = sel.orderBy(F.col("score").desc(), F.col("document_id")).limit(fetch)
    if ctx.label == "before":
        final = final.orderBy(
            F.col("score").desc(), F.col("document_id")
        ).limit(fetch)
    return final


def bm25_index_search(ctx: Ctx):
    from postgresml_spark.functions.text import bm25_search_index, build_text_index

    store = os.path.join(ctx.tmp, "bm25")
    build_text_index(ctx.table("documents"), store, "text", "doc_id")
    return bm25_search_index(ctx.spark, store, ["vector", "merge", "stream"], k=20)


def set_similarity_join(ctx: Ctx):
    from postgresml_spark.operators import dedup as DD

    out = DD.set_similarity_join(ctx.table("documents"), "text", "doc_id",
                                 shingle_n=3, threshold=0.3)
    return out.repartition(1).sortWithinPartitions("id_a", "id_b")


def set_similarity_shingle_stage(ctx: Ctx):
    """Exactly one ArrowEvalPython above an explicit-n Exchange: the
    UDF stage runs at session-core parallelism, never at scan
    parallelism."""
    from postgresml_spark.operators import dedup as DD

    par = ctx.spark.sparkContext.defaultParallelism
    return (
        ctx.table("documents")
        .select(F.col("doc_id").alias("id"), F.col("text").alias("__t"))
        .repartition(par, F.col("id"))
        .select("id", DD.word_shingles_batch(3)(F.col("__t")).alias("s"))
        .withColumn("n", F.size("s"))
    )


def sparse_index_search(ctx: Ctx):
    from postgresml_spark.operators.sparse import (
        build_sparse_index,
        sparse_search_index,
    )

    spath = os.path.join(ctx.tmp, "sparse")
    build_sparse_index(ctx.table("documents"), spath)
    return sparse_search_index(ctx.spark, spath, ["vector", "merge"], k=10)


def fpgrowth_baskets(ctx: Ctx):
    p = ctx.table("part")
    li = ctx.table("lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_distinct(F.collect_list("p_brand")).alias("items"))
    )


PLANS = {
    "chunks_delta_read": lambda ctx: ctx.synced()[1].table("text_chunks"),
    "embeddings_delta_read": lambda ctx: ctx.synced()[1].table("text_embeddings"),
    "vector_search_exact": vector_search_exact,
    "bm25_index_search": bm25_index_search,
    "set_similarity_join": set_similarity_join,
    "set_similarity_shingle_stage": set_similarity_shingle_stage,
    "sparse_index_search": sparse_index_search,
    "fpgrowth_baskets": fpgrowth_baskets,
}


def main(argv: list[str]) -> int:
    if len(argv) < 2 or argv[0] not in ("before", "after") or \
            "SPARK_GRAFT_SF_DIR" not in os.environ:
        print(__doc__, file=sys.stderr)
        return 2
    label, out_dir, names = argv[0], argv[1], argv[2:] or list(PLANS)
    unknown = [n for n in names if n not in PLANS]
    if unknown:
        print(f"unknown plan(s) {unknown}; known: {list(PLANS)}", file=sys.stderr)
        return 2
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    ctx = Ctx(spark, os.environ["SPARK_GRAFT_SF_DIR"], label)
    try:
        for name in names:
            with open(os.path.join(out_dir, f"{name}_{label}.txt"), "w") as f:
                f.write(explain_str(PLANS[name](ctx)))
            print("wrote", name)
    finally:
        shutil.rmtree(ctx.tmp, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
