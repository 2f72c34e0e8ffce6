"""Streaming operators.

- windowed_event_aggregation: watermark + tumbling window counts over
  an event stream (the batch twin is queries.q30_hourly_event_rollup;
  same groupBy expression, swap readStream for read).
- stream_documents_into_collection: foreachBatch micro-batch upsert →
  incremental pipeline sync — the reference's continuous
  `sync_documents` (pipeline.rs:591-775) expressed as Structured
  Streaming; exactly-once per batch via the collection's versioned
  table swap.
- transform_stream: pgml.transform_stream analog (api.rs:753-824):
  a driver-side generator yielding token JSON rows; with no LLM in the
  image the generator streams a deterministic completion (the
  reference's SETOF JSONB shape), and accepts any token iterator from
  a real model.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_event_aggregation(
    stream_df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window rollup with late-data watermark. Works on any
    streaming (or batch) DataFrame with (ts, event_type, user_id, value).

    Scale: streaming state is bounded by the watermark horizon; the
    aggregation is the same partial-agg plan as the batch rollup.
    approx_count_distinct replaces exact distinct (unbounded state in
    append mode).
    """
    src = stream_df
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy(F.window("ts", window).alias("win"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id").alias("n_users_approx"),
        F.sum("value").alias("total_value"),
    )


def run_stream_to_memory(agg_df: DataFrame, name: str = "stream_out") -> None:
    """Drive a streaming aggregation to completion against currently
    available input (test/demo harness)."""
    q = (
        agg_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def stream_documents_into_collection(
    spark: SparkSession,
    source_dir: str,
    collection,
    doc_schema: str = "id long, body string",
    checkpoint: str | None = None,
):
    """Continuous ingest: JSON files appearing in source_dir are
    upserted into the collection per micro-batch; attached pipelines
    re-sync incrementally (only changed chunks re-embed).

    Returns the StreamingQuery (caller stops it / processAllAvailable).
    """
    import tempfile

    stream = spark.readStream.schema(doc_schema).json(source_dir)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        # DataFrame-native: the micro-batch never visits the driver
        # (the r1 toJSON().collect() hop was a scale-killer).
        if not batch_df.isEmpty():
            collection.upsert_documents_df(batch_df)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix="pgml_ckpt_"),
        )
        .start()
    )


def streaming_dedup(
    stream_df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    delay: str = "1 hour",
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Streaming exact dedup for continuous ingest (the streaming twin
    of operators.dedup.exact_dedup).

    dropDuplicatesWithinWatermark bounds the dedup state store to the
    watermark horizon — a plain dropDuplicates on a stream accumulates
    key state forever, which is the classic unbounded-state failure on
    a 100 TB/day feed. Duplicates separated by more than `delay` are
    deliberately NOT caught here; cross-horizon dedup belongs to the
    batch layer (exact_dedup over the landed table), which is how a
    lambda-style pipeline splits the work.

    If fingerprint_col is given, keys default to [fingerprint_col]
    (e.g. functions.text.doc_fingerprint of the payload).
    """
    keys = keys or [fingerprint_col or "fingerprint"]
    return stream_df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def stateful_sessionize(
    stream_df: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful streaming operator: per-user session aggregation
    with `applyInPandasWithState` (the §2.O extension point — the
    reference has no stateful stream op; this is the Spark-native
    pattern a 100 TB event pipeline needs).

    Emits one row per closed session: (user_id, session_start,
    session_end, n_events, total_value). A session closes when the
    event-time watermark passes its last event + gap.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    state_schema = "last_ts double, start_ts double, n long, total double"

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.hasTimedOut:
            last_ts, start_ts, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(start_ts, unit="s").floor("us"),
                        "session_end": pd.Timestamp(last_ts, unit="s").floor("us"),
                        "n_events": n,
                        "total_value": total,
                    }
                ]
            )
            return
        closed = []
        cur = list(state.get) if state.exists else None
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            for _, row in pdf.iterrows():
                ts = row["ts"].timestamp()
                if cur is None:
                    cur = [ts, ts, 0, 0.0]
                elif ts - cur[0] > gap_s:
                    closed.append(cur)
                    cur = [ts, ts, 0, 0.0]
                cur[0] = max(cur[0], ts)
                cur[2] += 1
                cur[3] += float(row["value"])
        if cur is not None:
            state.update(tuple(cur))
            state.setTimeoutTimestamp(int((cur[0] + gap_s) * 1000))
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(c[1], unit="s").floor("us"),
                        "session_end": pd.Timestamp(c[0], unit="s").floor("us"),
                        "n_events": c[2],
                        "total_value": c[3],
                    }
                    for c in closed
                ]
            )

    src = stream_df
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def transform_stream(
    inputs: str,
    task: str = "text-generation",
    token_iterator: Iterator[str] | None = None,
    max_tokens: int = 32,
    lm=None,
) -> Iterator[dict]:
    """pgml.transform_stream analog: yields one JSON-shaped dict per
    token (the reference streams completion tokens as SETOF JSONB via
    a server-side cursor, api.rs:753-824, rag_query_builder.rs:358-362).

    Emission is genuinely INCREMENTAL: the default ``HashLM`` twin
    decodes token i only when the consumer pulls it (its ``generated``
    counter lets tests prove tokens arrive before generation
    completes). Plug a real model by passing ``token_iterator`` (e.g.
    a transformers TextIteratorStreamer) or an ``lm`` object with a
    ``.stream(prompt, max_tokens)`` generator.
    """
    if token_iterator is None:
        if lm is None:
            from postgresml_spark.functions.llm import HashLM

            lm = HashLM()
        token_iterator = lm.stream(inputs, max_tokens=max_tokens)
    for i, tok in enumerate(token_iterator):
        yield {"index": i, "token": tok, "task": task}


def stream_corpus_pipeline(
    spark: SparkSession,
    source_dir: str,
    collection,
    doc_schema: str = "id long, text string, ts timestamp",
    text_col: str = "text",
    ts_col: str = "ts",
    dedup_delay: str = "1 hour",
    quality_kwargs: dict | None = None,
    checkpoint: str | None = None,
    fingerprint_index_path: str | None = None,
):
    """Continuous training-corpus ingest with hygiene — the streaming
    twin of the batch gate→dedup→upsert stack:

      files → quality gate (gopher_quality_flags, pure codegen — the
      same expressions run unchanged on a stream) → watermark-bounded
      exact dedup (dropDuplicatesWithinWatermark on the normalized
      fingerprint) → [optional] ALL-TIME dedup against a persistent
      fingerprint index (operators.dedup.incremental_exact_dedup:
      left-anti join per micro-batch, index grows append-only) →
      foreachBatch DataFrame-native upsert → attached pipelines
      re-sync incrementally (changed chunks only re-embed).

    The two dedup layers split the work the lambda way: the stream
    catches repeats inside the watermark horizon with BOUNDED state;
    ``fingerprint_index_path`` (a parquet dir) catches repeats across
    the whole corpus lifetime with ZERO stream state — the per-batch
    cost is one anti-join against the index, and the index is never
    rewritten, only appended.

    Returns the StreamingQuery."""
    import tempfile

    from postgresml_spark.functions.text import fingerprint
    from postgresml_spark.operators.corpus import gopher_quality_flags
    from postgresml_spark.operators.dedup import incremental_exact_dedup

    stream = spark.readStream.schema(doc_schema).json(source_dir)
    in_cols = stream.columns

    gated = gopher_quality_flags(
        stream, text_col=text_col, **(quality_kwargs or {})
    ).filter(F.col("keep")).select(*in_cols)
    deduped = streaming_dedup(
        gated.withColumn("__fp", fingerprint(F.col(text_col))),
        keys=["__fp"],
        ts_col=ts_col,
        delay=dedup_delay,
    ).drop("__fp")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if fingerprint_index_path:
            import os

            sess = batch_df.sparkSession
            if os.path.isdir(fingerprint_index_path):
                index = sess.read.parquet(fingerprint_index_path)
            else:
                index = sess.createDataFrame([], "fp string")
            kept, new_fps = incremental_exact_dedup(
                batch_df, index, fingerprint(F.col(text_col)), id_col="id"
            )
            # materialize the survivors BEFORE appending to the index:
            # the anti-join must not observe the rows it is adding
            kept = kept.localCheckpoint()
            kept.select(fingerprint(F.col(text_col)).alias("fp")).write.mode(
                "append"
            ).parquet(fingerprint_index_path)
            batch_df = kept
        if not batch_df.isEmpty():
            collection.upsert_documents_df(batch_df.drop(ts_col))

    return (
        deduped.writeStream.foreachBatch(_sink)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix="pgml_corpus_ckpt_"),
        )
        .start()
    )


def enrich_stream(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the live
    stream against a (slowly-changing) dimension snapshot — the
    standard "attach user/customer attributes to the event stream"
    shape. The static side is broadcast, so enrichment adds ZERO
    shuffle to the stream; Spark re-resolves the static relation per
    micro-batch, so a dimension table updated in place (e.g. a
    VersionedTable pointer swap re-read via its path) is picked up
    without restarting the query."""
    return stream_df.join(F.broadcast(dim_df), on, how)


def idempotent_sink(collection, state_dir: str, ts_col: str = "ts"):
    """Exactly-once-shaped foreachBatch sink: Structured Streaming
    replays a micro-batch after a crash with the SAME epoch id, so the
    sink records the last committed epoch in a sidecar and skips
    batches it has already applied — upsert + epoch fence = effectively
    exactly-once into the versioned store (the same fence Delta's
    txn/appId mechanism provides). Returns the foreachBatch callable.
    """
    import os

    fence = os.path.join(state_dir, "last_epoch")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        last = -1
        try:
            with open(fence) as f:
                last = int(f.read().strip())
        except FileNotFoundError:
            pass
        if epoch_id <= last:
            return  # replayed batch — already committed
        if not batch_df.isEmpty():
            collection.upsert_documents_df(batch_df.drop(ts_col))
        os.makedirs(state_dir, exist_ok=True)
        tmp = fence + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch_id))
        os.replace(tmp, fence)  # atomic commit of the fence

    return _sink


def stateful_ewma_anomaly(
    stream_df: DataFrame,
    alpha: float = 0.3,
    z_threshold: float = 3.0,
    watermark: str = "2 hours",
    min_obs: int = 5,
) -> DataFrame:
    """Per-key streaming anomaly detection: an exponentially-weighted
    mean/variance per user (West 1979 EWMA update) carried in
    `applyInPandasWithState`; each event emits its z-score against the
    state BEFORE absorbing it, flagging |z| > threshold once the key
    has ``min_obs`` history. State is three doubles + a count per key —
    constant-size regardless of stream length (the property that makes
    per-entity monitoring viable at 10^9 keys).

    Emits (user_id, ts, value, ewma, zscore, is_anomaly) in event-time
    order per micro-batch group.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, ts timestamp, value double, ewma double, "
        "zscore double, is_anomaly boolean"
    )
    state_schema = "mean double, var double, n long"

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            mean, var, n = state.get
        else:
            mean, var, n = 0.0, 0.0, 0
        rows = []
        for pdf in pdf_iter:
            for r in pdf.sort_values("ts").itertuples():
                v = float(r.value)
                if n >= min_obs and var > 0:
                    z = (v - mean) / (var ** 0.5)
                else:
                    z = 0.0
                rows.append(
                    (user_id, r.ts, v, mean, z,
                     bool(n >= min_obs and abs(z) > z_threshold))
                )
                if n == 0:
                    mean, var = v, 0.0
                else:
                    d = v - mean
                    incr = alpha * d
                    mean = mean + incr
                    var = (1 - alpha) * (var + d * incr)
                n += 1
        state.update((mean, var, n))
        yield pd.DataFrame(
            rows,
            columns=["user_id", "ts", "value", "ewma", "zscore", "is_anomaly"],
        )

    src = stream_df
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_interval_join(
    views: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    gap_hours: int = 24,
    watermark: str = "48 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every (view, purchase) pair for the
    same user where the purchase lands within ``gap_hours`` after the
    view — streaming attribution, the live twin of the batch
    q116_timed_conversion metric.

    Both sides are watermarked and the join condition bounds event time
    on BOTH streams, so Spark can expire state: a buffered view is
    dropped once the purchase-side watermark passes view_ts +
    gap_hours; a buffered purchase once the view-side watermark passes
    purchase_ts (state is O(watermark-horizon × arrival rate), never
    unbounded). Works identically on batch DataFrames (watermarks are
    skipped; the join is a plain interval join).

    ``how="left_outer"`` additionally emits every UN-matched view with
    null purchase columns once both watermarks have passed its match
    window — the "didn't convert" cohort, which is the label stream an
    abandonment/churn model actually trains on. Outer rows are
    watermark-gated by construction (they can only be declared
    unmatched after no purchase can still arrive), so they surface one
    micro-batch after the horizon closes.
    """
    v = views.select(
        F.col(key).alias("v_uid"), F.col("ts").alias("view_ts")
    )
    p = purchases.select(
        F.col(key).alias("p_uid"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if v.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("v_uid") == F.col("p_uid"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {gap_hours} HOURS")
        )
    )
    return v.join(p, cond, how).select(
        F.col("v_uid").alias(key),
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def stream_vectors_into_ivf(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    centroids: list[list[float]],
    vec_schema: str = "vec_id long, embedding array<float>",
    checkpoint: str | None = None,
):
    """Continuous ANN-index ingest: vector batches (JSON files landing
    in source_dir) are assigned against FROZEN centroids and appended
    into their centroid partitions per micro-batch
    (append_ivf_store) — probes see new vectors at the next file
    listing, no refit, no rewrite of existing lists.

    This is the serving-side twin of the reference's 'insert rows,
    ivfflat index stays warm' behavior; centroid retrain is a
    scheduled offline job triggered by drift monitors, not part of
    the hot ingest path. Returns the StreamingQuery.
    """
    import tempfile

    stream = spark.readStream.schema(vec_schema).json(source_dir)
    sink = ivf_epoch_fenced_sink(store_path, centroids)

    return (
        stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix="pgml_ckpt_ivf_"),
        )
        .start()
    )


def ivf_epoch_fenced_sink(store_path: str, centroids: list[list[float]]):
    """foreachBatch sink appending vectors into the IVF store behind an
    epoch fence: a replayed micro-batch (same epoch id after a crash)
    is skipped instead of appended twice — the same exactly-once-shaped
    discipline as idempotent_sink, needed here because raw appends
    (unlike upserts) are NOT naturally idempotent."""
    import os

    from postgresml_spark.operators.partitioning import append_ivf_store

    fence = os.path.join(store_path, "_ivf_last_epoch")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        last = -1
        try:
            with open(fence) as f:
                last = int(f.read().strip())
        except FileNotFoundError:
            pass
        if epoch_id <= last:
            return  # replayed batch - already appended
        if not batch_df.isEmpty():
            append_ivf_store(batch_df, store_path, centroids)
        tmp = fence + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch_id))
        os.replace(tmp, fence)

    return _sink


def stream_predict(
    stream_df: DataFrame,
    project: str,
    output_path: str,
    checkpoint: str,
    registry=None,
    output_col: str = "prediction",
):
    """Continuous inference: pgml.predict over a live stream.

    Each micro-batch runs the deployed model of `project` via
    ml.predict (snapshot preprocessing replayed, model.transform
    native batch) and appends results to a parquet sink. Deployment
    resolution happens PER BATCH through the registry's catalog file,
    whose parse is cached per process and re-validated by one `stat`
    — so a `pgml.deploy` from this or any other process takes effect
    on the next micro-batch without restarting the query, the
    Structured-Streaming analog of the reference's shared-memory
    PROJECT_ID_TO_DEPLOYED_MODEL_ID (project.rs:78-165). Model bytes
    load once per artifact per process (predict._MODEL_CACHE), so
    re-resolution is a lookup, not a deserialize.

    Scale shape: the model is a fitted MLlib transformer — pure
    column expressions appended to the micro-batch plan, executed
    executor-side with zero extra shuffle; the sink is an append-only
    parquet stream (swap for the bucketed store / Delta at cluster
    scale). Returns the StreamingQuery.
    """
    from postgresml_spark.ml.predict import predict as _predict

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = _predict(
            batch_df.sparkSession, project, batch_df,
            registry=registry, output_col=output_col,
        )
        out.write.mode("append").parquet(output_path)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="1 second")
        .start()
    )


def streaming_heavy_hitters(
    stream_df: DataFrame,
    col: str,
    capacity: int = 1024,
    n_shards: int = 16,
    emit_top: int = 20,
) -> DataFrame:
    """Continuous frequent-items over an unbounded stream — the
    streaming twin of ``operators.corpus.heavy_hitters`` (same
    batch→streaming pairing as exact dedup / IVF ingest / predict).

    Items shard by hash(value) so EVERY occurrence of a value lands in
    one shard group; each shard carries a Misra–Gries summary of
    ``capacity`` counters in ``applyInPandasWithState`` and, per
    micro-batch, emits its current top ``emit_top`` as
    (shard, seq, value-col, cnt, max_undercount). Because shards
    partition the value space, the global top-k at any moment is a
    top-k over the latest emission of every shard — no cross-shard
    merge state. ``cnt`` is exact while the shard's summary has never
    overflowed (max_undercount 0); after overflow it is a lower bound
    within ``max_undercount`` (the shard's cumulative MG decrement).

    State per shard is ≤ capacity (value, count) pairs + two longs —
    bounded for the life of the stream regardless of cardinality; at
    10^9 distinct values the state store holds n_shards × capacity
    entries while a naive streaming groupBy-count's state grows
    without bound.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"shard int, seq long, {col} string, cnt long, max_undercount long"
    )
    state_schema = "terms array<string>, counts array<long>, decr long, seq long"

    def fn(key, pdf_iter, state):
        from postgresml_spark.operators.corpus import mg_fold

        (shard,) = key
        if state.exists:
            terms, counts, decr, seq = state.get
            m = dict(zip(list(terms), [int(c) for c in counts]))
        else:
            m, decr, seq = {}, 0, 0
        for pdf in pdf_iter:
            m, cut = mg_fold(m, pdf["__v"], capacity)
            decr += cut
        seq += 1
        state.update((list(m.keys()), list(m.values()), decr, seq))
        top = sorted(m.items(), key=lambda kv: (-kv[1], kv[0]))[:emit_top]
        yield pd.DataFrame(
            [(shard, seq, v, c, decr) for v, c in top],
            columns=["shard", "seq", col, "cnt", "max_undercount"],
        )

    src = stream_df.select(
        F.col(col).cast("string").alias("__v"),
        F.pmod(F.hash(F.col(col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("__shard"),
    )
    return src.groupBy("__shard").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_documents_into_sparse_index(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    doc_schema: str = "doc_id long, text string",
    checkpoint: str | None = None,
):
    """Continuous sparse-index ingest: document batches (JSON files
    landing in ``source_dir``) hash-featurize and APPEND into their
    index buckets per micro-batch (`append_to_sparse_index`) — the
    sparsevec counterpart of `stream_vectors_into_ivf`, closing the
    loop so every index store here (IVF, BM25, sparse) has a live
    ingest path. Because the sparse index derives idf at query time,
    streamed documents shift scores correctly the moment their
    postings land; no stats refresh job exists to forget. Returns the
    StreamingQuery.
    """
    import os
    import tempfile

    from postgresml_spark.operators.sparse import append_to_sparse_index

    stream = spark.readStream.schema(doc_schema).json(source_dir)

    # raw appends are NOT naturally idempotent: fence replayed epochs
    # exactly as ivf_epoch_fenced_sink does for the IVF store (a
    # crash-replayed batch would double postings AND double-count
    # n_docs, skewing query-time idf)
    fence = os.path.join(index_path, "_sparse_last_epoch")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        last = -1
        try:
            with open(fence) as f:
                last = int(f.read().strip())
        except FileNotFoundError:
            pass
        if epoch_id <= last:
            return  # replayed batch — already appended
        if not batch_df.isEmpty():
            append_to_sparse_index(batch_df, index_path)
        tmp = fence + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch_id))
        os.replace(tmp, fence)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix="pgml_ckpt_sparse_"),
        )
        .start()
    )


def expectations_quarantine_stream(
    stream_df: DataFrame,
    rules: dict,
    good_sink,
    quarantine_sink,
    checkpoint: str | None = None,
):
    """Streaming data-contract enforcement: each micro-batch splits on
    the conjunction of ``rules`` (name → boolean Column); passing rows
    go to ``good_sink(df, epoch)``, failing rows to
    ``quarantine_sink(df, epoch)`` with a ``violated`` column naming
    every failed rule — the live twin of q115's batch expectations
    report. Bad rows are never dropped silently and never poison the
    good stream; reprocessing the quarantine after a rule fix is a
    batch job over its sink. Returns the StreamingQuery.

    Scale: the rule predicates are codegen expressions evaluated once
    per row inside the micro-batch plan — no second pass, no shuffle
    added beyond what the sinks do.
    """
    import tempfile

    names = sorted(rules)
    # a rule evaluating to SQL NULL must FAIL, not slip through
    # three-valued logic into the good stream
    violated = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.coalesce(rules[n].cast("boolean"), F.lit(False)),
                    F.lit(n),
                )
                for n in names
            ]
        )
    )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        # internal column name: never clobbers user data (a requeued
        # quarantine feed may itself carry a 'violated' column)
        tagged = batch_df.withColumn("__violated", violated).localCheckpoint()
        good_sink(
            tagged.filter(F.size("__violated") == 0).drop("__violated"),
            epoch_id,
        )
        bad = tagged.filter(F.size("__violated") > 0)
        # a requeued quarantine feed already carries 'violated' from
        # its previous trip — preserve it as 'violated_prev' instead of
        # emitting two ambiguous same-name columns (ADVICE r2 #3)
        if "violated" in bad.columns:
            bad = bad.withColumnRenamed("violated", "violated_prev")
        quarantine_sink(bad.withColumnRenamed("__violated", "violated"), epoch_id)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix="pgml_ckpt_expect_"),
        )
        .start()
    )


def streaming_hll_registers(
    stream_df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    m: int = 64,
) -> DataFrame:
    """Streaming HyperLogLog per event-time window: the register table
    (window, bucket, reg) maintained as a NATIVE streaming max-
    aggregate — no custom state store, no applyInPandasWithState.
    Spark's incremental aggregation IS the sketch update rule because
    HLL registers are a max-monoid; the watermark bounds state to the
    open windows × m rows.

    Downstream, `operators.sketches.hll_estimate` reads per-window
    distinct estimates off the registers, and epoch merge (UNION ALL →
    max) composes a day from its hours without touching raw events —
    the streaming twin of q193's batch sketch (identical md5 bucket/
    rank arithmetic, so a streamed register table hash-matches the
    batch one over the same rows; pinned in tests).

    Scale: per-batch shuffle carries ≤ open_windows × m combiner rows
    per partition (map-side max); the output table is windows × m
    regardless of stream volume."""
    from postgresml_spark.operators.sketches import hll_registers  # noqa: F401

    h = F.md5(F.col(value_col).cast("string"))
    bucket = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % m).alias(
        "bucket"
    )
    h2 = F.conv(F.substring(h, 3, 15), 16, 10).cast("long")
    rank = F.when(h2 == 0, F.lit(61)).otherwise(
        F.lit(61) - F.length(F.bin(h2))
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .select(
            F.window(F.col(ts_col), window).alias("win"),
            bucket,
            rank.alias("rank"),
        )
        .groupBy("win", "bucket")
        .agg(F.max("rank").alias("reg"))
        .select(F.col("win.start").alias("window_start"), "bucket", "reg")
    )


def streaming_cm_sketch(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Streaming Count-Min sketch per event-time window: the d×w
    counter table (window, j, bucket, cell) as a NATIVE streaming
    sum-aggregate — CM cells form a sum-monoid, so Spark's incremental
    aggregation is the update rule, exactly as max is for
    streaming_hll_registers.  Watermark bounds state to
    open_windows × d × w cells regardless of stream volume or key
    cardinality (contrast streaming_heavy_hitters, whose Misra–Gries
    state answers 'which keys are hot' — CM answers 'how hot is ANY
    key, later, without the data').

    Point estimates read off the stored cells with
    `operators.sketches.cm_lookup`; cells are hash-compatible with the
    batch `cm_sketch` built from the same rows (same salted-md5
    buckets — pinned in tests), so streamed epochs merge with batch
    history by cell-wise sum."""
    key = F.col(key_col)
    row_buckets = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(F.lit(f"{j}-"), key.cast("string"))
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % w
                ).alias("bucket"),
            )
            for j in range(d)
        ]
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .select(
            F.window(F.col(ts_col), window).alias("win"),
            F.explode(row_buckets).alias("rb"),
        )
        .groupBy("win", "rb.j", "rb.bucket")
        .agg(F.count("*").alias("cell"))
        .select(
            F.col("win.start").alias("window_start"), "j", "bucket", "cell"
        )
    )
