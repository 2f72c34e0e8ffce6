"""Pipeline: declarative chunk → embed → index DAG per document field.

Reference (pgml-sdks/pgml/src/pipeline.rs:29-141): schema
`{field: {splitter?, semantic_search?{model}, full_text_search?{configuration}}}`
drives derived tables `<field>_chunks(document_id, chunk_index, chunk)`,
`<field>_embeddings(chunk_id, embedding)`, `<field>_tsvectors(chunk_id,
tokens)` (queries.rs:49-76).

sync semantics (pipeline.rs:591-775): incremental — only documents
whose field content changed get re-chunked; only changed chunks get
re-embedded/re-tokenized; orphan chunks beyond the new max chunk_index
are deleted (queries.rs:284-299). Change detection here is the same
anti-join on (document_id, chunk_index, chunk) the reference's
`documents.%d <> COALESCE(chunks.chunk,'')` performs.

Embeddings use the deterministic hash embedder by default (model name
'hash:<dim>'), or a real sentence-transformer via embed_udf when the
library exists. Chunking: `recursive_character` pandas UDF, or
whole-field copy when no splitter is configured (pipeline.rs:633-660).

Deliberate divergence from the reference (recorded per ADVICE r4): the
reference's Pipeline applies HNSW::default() and unconditionally issues
CREATE INDEX USING hnsw for EVERY semantic_search field at pipeline
setup (pipeline.rs:61-94, queries.rs:117-119), so even a schema with no
explicit `hnsw` key is index-served there.  Here, `method="auto"`
serves from the resident tier only for schema-DECLARED indexes
(`semantic_search.hnsw` / `.ivfflat`) or indexes already built by an
explicit method='index' call — silently paying an index BUILD inside a
user's first query measured 10× worse than the exact scan it replaced
(0.6 s → 6 s on a 50k-doc filtered search), and pgvector's planner
likewise seq-scans when no CREATE INDEX was issued.  Results are
identical either way (the exact plan is exact); only the latency tier
differs.  Declare the index in the schema to match the reference's
serve-by-default behavior — pinned by
tests/test_serving_index.py::test_auto_does_not_build_undeclared_index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from postgresml_spark.collections.storage import (
    BucketedVersionedTable,
    VersionedTable,
)
from postgresml_spark.functions.embed import (
    embed_udf,
    hash_embed,
    hash_embed_batch,
    hash_embed_py,
)

# client-side query-model cache (process-lifetime, tiny)
_QUERY_MODELS: dict = {}
from postgresml_spark.functions.text import chunk_udf, tokenize

_CHUNK_SCHEMA = "chunk_id long, document_id long, chunk_index int, chunk string"
_EMB_SCHEMA = "chunk_id long, embedding array<double>"
_TSV_SCHEMA = "chunk_id long, tokens array<string>"
def _doc_key_of_chunk():
    """Bucket key for chunk_id-only tables: the document id encoded in
    the deterministic chunk id (document_id * 2^20 + chunk_index), cast
    to the same string the chunks table hashes — so every derived
    table of a pipeline shares one bucket assignment and an
    incremental sync rewrites the SAME bucket set across all of them."""
    return F.expr("CAST(chunk_id DIV 1048576 AS STRING)")


class Pipeline:
    # tombstone fold-back floor: below this many accumulated tombstone
    # rows a delta chain never compacts regardless of base size (the
    # read-side anti-join is noise at this scale); tests lower it to
    # force the fold
    COMPACTION_MIN_TOMBS = 10_000

    def __init__(self, name: str, schema: dict[str, dict]):
        self.name = name
        self.schema = schema
        self.collection = None
        self.enabled = True  # disable_pipeline flips this (trigger-off)
        self._tables: dict[str, VersionedTable] = {}
        self._served: dict[str, object] = {}  # field -> ServedPipelineIndex

    def attach(self, collection) -> None:
        self.collection = collection
        root = os.path.join(collection.root, f"pipeline_{self.name}")
        # derived tables are doc-hash bucketed so the incremental sync
        # rewrites only the buckets of changed/deleted documents
        # (partition-granular copy-on-write — storage.py); every table
        # of a field shares the chunks table's bucket assignment
        for field, cfg in self.schema.items():
            self._tables[f"{field}_chunks"] = BucketedVersionedTable(
                collection.spark, os.path.join(root, f"{field}_chunks"),
                _CHUNK_SCHEMA, key="document_id"
            )
            if "semantic_search" in cfg:
                self._tables[f"{field}_embeddings"] = BucketedVersionedTable(
                    collection.spark, os.path.join(root, f"{field}_embeddings"),
                    _EMB_SCHEMA, key=_doc_key_of_chunk
                )
            if "full_text_search" in cfg:
                self._tables[f"{field}_tsvectors"] = BucketedVersionedTable(
                    collection.spark, os.path.join(root, f"{field}_tsvectors"),
                    _TSV_SCHEMA, key=_doc_key_of_chunk
                )
        self._root = root

    def table(self, name: str) -> DataFrame:
        return self._tables[name].read()

    # -- chunking --------------------------------------------------------------

    def _chunks_for(self, field: str, cfg: dict, docs: DataFrame) -> DataFrame:
        text = F.get_json_object(F.col("document"), f"$.{field}")
        base = docs.select(F.col("id").alias("document_id"), text.alias("__text")).filter(
            F.col("__text").isNotNull()
        )
        splitter = cfg.get("splitter")
        if splitter:
            params = splitter.get("parameters", {}) if isinstance(splitter, dict) else {}
            size = int(params.get("chunk_size", 1000))
            overlap = int(params.get("chunk_overlap", 40))
            chunks = base.select(
                "document_id",
                F.posexplode(chunk_udf(size, overlap)(F.col("__text"))).alias(
                    "chunk_index", "chunk"
                ),
            )
        else:
            # whole-field copy (pipeline.rs:633-660)
            chunks = base.select(
                "document_id",
                F.lit(0).alias("chunk_index"),
                F.col("__text").alias("chunk"),
            )
        # deterministic chunk id: document_id * 2^20 + chunk_index
        return chunks.select(
            (F.col("document_id") * (1 << 20) + F.col("chunk_index")).alias("chunk_id"),
            "document_id",
            F.col("chunk_index").cast("int"),
            "chunk",
        )

    # -- sync ------------------------------------------------------------------

    def sync(self, full: bool = False) -> dict[str, int]:
        """Incremental (or full=resync, pipeline.rs:777-934) rebuild of
        derived tables. Returns per-stage changed-row counts.

        Incremental path (VERDICT r6 next #7 — the reference's core
        ingest contract, pipeline.rs:591-775): the collection's change
        log (appended by every upsert/delete — the trigger-queue
        analog) names exactly the document ids touched since this
        field's sync watermark, so detection, re-chunking and
        re-embedding are all O(changed); derived-table writes are
        delta versions (hardlinked base + tombstones + compacted
        delta — storage.py), O(changed) bytes. A no-op sync is a
        watermark == documents-version file compare: ZERO Spark jobs,
        zero writes. At 100 TB, re-chunking and re-embedding the
        unchanged 99% per sync is the difference between an ingest
        pipeline and a nightly rebuild."""
        assert self.collection is not None, "attach() first"
        import os as _os

        docs_version = self.collection.documents._current_version()
        out: dict[str, int] = {}
        for field, cfg in self.schema.items():
            tbl = self._tables[f"{field}_chunks"]
            stages = [f"{field}_chunks"] + [
                k for k in (f"{field}_embeddings", f"{field}_tsvectors")
                if k in self._tables
            ]
            wm = self._get_watermark(field)
            if not full and wm is not None and wm >= docs_version \
                    and tbl.exists():
                for k in stages:  # no-op: nothing upserted since last sync
                    out[k] = 0
                continue
            st = tbl.stats()
            # compaction: when accumulated tombstones outgrow a quarter
            # of the base, fold the delta back with one full rebuild so
            # the read-side anti-join stays cheap (threshold is a class
            # attr so tests can force the fold — VERDICT r7 next #6)
            needs_compaction = st.get("tomb_rows", 0) > max(
                self.COMPACTION_MIN_TOMBS,
                0.25 * st.get("base_rows", float("inf")),
            )
            incremental = (
                not full
                and not needs_compaction
                and wm is not None
                and tbl.exists()
                and tbl.has_bucketed_current()
                and _os.path.isdir(self.collection._changes_path)
                # log-coverage proof: partitions at seq <= the prune
                # marker are gone, so a watermark behind the marker
                # would read a GAPPED log and silently miss changes —
                # rebuild instead (purge prunes to current version
                # regardless of unattached pipelines' watermarks)
                and self.collection._pruned_upto() <= wm
            )
            if incremental:
                self._sync_incremental(field, cfg, out, wm, docs_version)
            else:
                self._sync_full(field, cfg,
                                self.collection.documents.read(), out)
                self._set_watermark(field, docs_version)
        # retention: drop change-log partitions every pipeline (on
        # disk, any session) has consumed — O(listdir), no Spark jobs,
        # so the no-op-sync zero-job contract holds
        self.collection._prune_consumed_changes()
        return out

    def _wm_path(self, field: str) -> str:
        return os.path.join(self._root, f"{field}_watermark.json")

    def _get_watermark(self, field: str) -> int | None:
        import json

        try:
            with open(self._wm_path(field)) as f:
                return int(json.load(f)["last_seq"])
        except (FileNotFoundError, ValueError, KeyError):
            return None

    def _set_watermark(self, field: str, seq: int) -> None:
        import json

        with open(self._wm_path(field), "w") as f:
            json.dump({"last_seq": int(seq)}, f)

    def _derived_entries(self, field: str, cfg: dict,
                         new_chunks: DataFrame) -> list:
        """(table, frame) pairs for one field's derived tables —
        chunks first (its footers answer the changed-count), then
        embeddings/tsvectors as independent consumers of the cached
        chunk DAG."""
        entries = [(self._tables[f"{field}_chunks"], new_chunks)]
        if f"{field}_embeddings" in self._tables:
            model = (cfg.get("semantic_search") or {}).get("model", "hash:16")
            entries.append((
                self._tables[f"{field}_embeddings"],
                self._embed(new_chunks, model),
            ))
        if f"{field}_tsvectors" in self._tables:
            entries.append((
                self._tables[f"{field}_tsvectors"],
                new_chunks.select(
                    "chunk_id", tokenize(F.col("chunk")).alias("tokens")
                ),
            ))
        return entries

    def _sync_full(self, field: str, cfg: dict, docs: DataFrame,
                   out: dict[str, int]) -> None:
        """Full rebuild of one field's derived tables + sync state."""
        from postgresml_spark.collections.storage import (
            overwrite_multi,
            parquet_dir_stats,
        )

        # persist: the chunk DAG (docs scan → JSON extract → split)
        # feeds the chunks write, the embed UDF and the tsvector build —
        # without a cache it re-executes once per consumer (measured 3×
        # the sync cost at sf0.1)
        new_chunks = self._chunks_for(field, cfg, docs).persist()
        tbl = self._tables[f"{field}_chunks"]
        try:
            # chunks, embeddings and tsvectors are three INDEPENDENT
            # consumers of the cached chunk DAG: ONE batched write job
            # lands all three (storage.overwrite_multi — VERDICT r9
            # next #3; replaces r9's 3 thread-pooled jobs). A failed
            # job leaves all three on their old version (the store's
            # staged commit). Stats sidecars are written after so the
            # chunks footer census reads a complete version.
            overwrite_multi(self._derived_entries(field, cfg, new_chunks))
            # changed-count from the written version's parquet footers —
            # the count() here was a whole extra local job (guide §1.2)
            n_changed = parquet_dir_stats(
                tbl._vdir(tbl._current_version())
            )["rows"]
            for stage in (f"{field}_chunks", f"{field}_embeddings",
                          f"{field}_tsvectors"):
                if stage in self._tables:
                    out[stage] = n_changed
                    self._tables[stage].write_stats(
                        base_rows=n_changed, tomb_rows=0
                    )
        finally:
            new_chunks.unpersist()

    def _sync_incremental(self, field: str, cfg: dict, out: dict[str, int],
                          wm: int, docs_version: int) -> None:
        """Log-driven rebuild of one field — O(changed) end to end.

        The change log carries the touched ids AND the new payloads
        (NULL payload = replaced/deleted id), seq-partitioned by the
        documents version, so the pending read file-prunes to exactly
        the unsynced batches: detection, chunking, embedding and the
        delta writes all scale with the change set, never the corpus.
        Upserts re-id documents (fresh surrogate id per upsert), so a
        pending id's chunks are ALWAYS new — the (doc, idx, chunk)
        anti-join of the scan-based path is provably empty here and is
        skipped. Orphans (deleted/replaced ids, shrunk chunk lists,
        nulled fields) drop via the doc-key tombstones
        (queries.rs:284-299)."""
        spark = self.collection.spark
        tbl = self._tables[f"{field}_chunks"]
        stages = [f"{field}_chunks"] + [
            k for k in (f"{field}_embeddings", f"{field}_tsvectors")
            if k in self._tables
        ]
        # COLUMN CONTRACT (ADVICE r8 #4): every change-log partition
        # carries at least (id, source_uuid, document); hardlinked
        # initial partitions (_log_changes_linked) carry an EXTRA
        # `version` column that later plain partitions lack. Readers
        # must therefore select only the three contract columns and
        # must NOT enable mergeSchema — Spark's sampled-schema
        # inference is only safe because every selected column exists
        # in every file. A mixed linked+plain read is regression-tested
        # in tests/test_collections.py (mixed change-log schema test).
        # ZERO-job detection (guide §1.2): the pending log partitions
        # are known directories (seq > wm) of O(changed) rows the
        # driver just wrote — footer row counts decide the >100k
        # full-rebuild bail WITHOUT reading payloads, and a pyarrow
        # column read of (id, document-validity) replaces what was a
        # whole Spark collect job (2-3 jobs under executeTake's
        # incremental partition scaling). Bucket scoping happens
        # inside delta_overwrite off the touched keys — computing
        # buckets here would be dead work (ADVICE r7). Column
        # contract (ADVICE r8 #4): only (id, document) are selected,
        # present in every log file, linked or plain.
        pend_dirs = self._pend_dirs(wm)
        pend_ids, pend_live = self._pend_census(pend_dirs, cap=100_000)
        if pend_ids is None:  # over the cap: rebuild, payloads unread
            self._sync_full(field, cfg, self.collection.documents.read(), out)
            self._set_watermark(field, docs_version)
            return
        n_touched = len(pend_ids)
        if not n_touched:  # no-op sync: zero counts, ZERO writes
            for k in stages:
                out[k] = 0
            self._set_watermark(field, docs_version)
            return
        touched_keys = [str(int(i)) for i in pend_ids]
        # only the pending seq=<v> dirs are named (the `_changes` root
        # itself is a hidden path to Spark's file index, which WARNs
        # "All paths were ignored"); basePath keeps `seq` a partition
        # column. Explicit schema (the log's column contract): no
        # schema-inference job; the hardlinked initial partitions'
        # extra `version` column is simply not selected.
        pend = spark.read.schema(
            "id long, source_uuid string, document string, seq int"
        ).option("basePath", self.collection._changes_path).parquet(*pend_dirs)
        # ids are never reused, so an id with any NULL-payload row is
        # dead; live ids carry their payload in exactly one log row
        dead = [int(i) for i, lv in zip(pend_ids, pend_live) if not lv]
        changed_docs = pend.filter(F.col("document").isNotNull())
        if dead:
            changed_docs = changed_docs.join(
                F.broadcast(
                    spark.createDataFrame([(d,) for d in dead], "id long")
                ),
                "id", "left_anti",
            )
        new_chunks = self._chunks_for(field, cfg, changed_docs).persist()
        try:
            # ONE batched delta-write job for chunks + embeddings +
            # tsvectors (storage.delta_overwrite_multi — VERDICT r9
            # next #3; replaces the chunks write + 2 thread-pooled
            # sibling writes): a doc-key tombstone kills every old row
            # of a touched doc; each delta re-emits the doc's CURRENT
            # rows — O(changed docs) bytes, untouched buckets hardlink
            # through. Each table keeps its own tombstone history;
            # equal ones (the usual case) are written once
            # driver-side and hardlinked to the siblings.
            from postgresml_spark.collections.storage import (
                delta_overwrite_multi,
            )

            tomb_dir = delta_overwrite_multi(
                self._derived_entries(field, cfg, new_chunks), touched_keys
            )
            # changed-count from the written _delta's footers/pages —
            # driver-side pyarrow over O(changed) rows, zero Spark jobs
            # (the count() here was a whole extra local job). The delta
            # = surviving older rows (keys NOT in this batch, by the
            # compaction anti-join) ∪ this batch's chunks, so counting
            # rows whose doc key is in touched_keys is exactly
            # new_chunks.count().
            n_changed = self._count_delta_batch_rows(
                os.path.join(os.path.dirname(tomb_dir), "_delta"),
                touched_keys,
            )
            for k in stages:
                out[k] = n_changed
            self._set_watermark(field, docs_version)
        finally:
            new_chunks.unpersist()

    def _pend_dirs(self, wm: int) -> list[str]:
        """The pending change-log partition dirs (seq > wm), in seq order."""
        root = self.collection._changes_path
        pending = []
        for name in os.listdir(root):
            if not name.startswith("seq="):
                continue
            try:
                seq = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if seq > wm:
                pending.append((seq, os.path.join(root, name)))
        return [d for _, d in sorted(pending)]

    def _pend_census(self, pend_dirs: list[str], cap: int = 100_000):
        """Driver-side read of the pending change-log partitions:
        returns (ids, live_flags) or (None, None) when the footer row
        count exceeds `cap` (the full-rebuild bail — decided from
        metadata alone, no payload bytes read). Zero Spark jobs."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        files = [
            os.path.join(d, f) for d in pend_dirs for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        total = sum(pq.read_metadata(f).num_rows for f in files)
        if total > cap:
            return None, None
        ids: list[int] = []
        live: list[bool] = []
        for f in files:
            t = pq.read_table(f, columns=["id", "document"])
            ids.extend(t.column("id").to_pylist())
            live.extend(pc.is_valid(t.column("document")).to_pylist())
        return ids, live

    @staticmethod
    def _count_delta_batch_rows(delta_dir: str, touched_keys: list[str]) -> int:
        """Rows of a just-written _delta belonging to THIS batch's doc
        keys — pyarrow column read of the small delta, zero Spark jobs.
        The chunks delta stores document_id (long); derived-key tables
        encode the doc id in chunk_id, but this is only ever called on
        the chunks table."""
        import pyarrow.parquet as pq

        keys = {int(k) for k in touched_keys}
        n = 0
        for fn in sorted(os.listdir(delta_dir)):
            if not fn.endswith(".parquet"):
                continue
            col = pq.read_table(
                os.path.join(delta_dir, fn), columns=["document_id"]
            ).column("document_id")
            for v in col.to_pylist():
                if v in keys:
                    n += 1
        return n

    def resync(self) -> dict[str, int]:
        return self.sync(full=True)

    def _embed(self, chunks: DataFrame, model: str) -> DataFrame:
        if model.startswith("hash:"):
            dim = int(model.split(":", 1)[1])
            e = hash_embed_batch(dim)(F.col("chunk"))  # bulk path (Arrow)
        elif model.startswith("openai:"):
            from postgresml_spark.functions.embed import remote_embed_udf

            e = remote_embed_udf(model)(F.col("chunk"))
        else:
            e = embed_udf(model)(F.col("chunk"))
        return chunks.select("chunk_id", e.alias("embedding"))

    def embed_query(self, text: str, field: str):
        """Embed a query string client-side with the field's configured
        model; returns list[float] bound as a literal into search plans
        (the reference embeds queries in the client for remote models
        and inlines the vector, vector_search_query_builder.rs:189-284
        — no per-query cluster job)."""
        assert self.collection is not None
        model = (self.schema[field].get("semantic_search") or {}).get("model", "hash:16")
        if model.startswith("hash:"):
            return hash_embed_py(text, int(model.split(":", 1)[1]))
        if model.startswith("openai:"):
            # remote models embed the query CLIENT-side and inline the
            # literal (vector_search_query_builder.rs:189-284)
            from postgresml_spark.functions.embed import remote_embed_py

            return remote_embed_py(model, text)
        try:  # client-side model call, one string (remote-model analog)
            from sentence_transformers import SentenceTransformer  # type: ignore

            m = _QUERY_MODELS.get(model)
            if m is None:
                m = _QUERY_MODELS[model] = SentenceTransformer(model)
            return [float(x) for x in m.encode([text])[0]]
        except ImportError:
            # cluster-side fallback keeps the UDF contract testable
            spark = self.collection.spark
            df = spark.createDataFrame([(text,)], "chunk string")
            row = df.select(embed_udf(model)(F.col("chunk")).alias("e")).head()
            return list(row["e"])

    # -- ANN serving tier ------------------------------------------------------

    def hnsw_params(self, field: str) -> dict[str, int]:
        """Per-field HNSW index parameters from the pipeline schema —
        `semantic_search: {model, hnsw: {m, ef_construction}}`
        (pipeline.rs:61-94; index DDL queries.rs:117-119). Defaults are
        pgvector's (m=16, ef_construction=64)."""
        cfg = self.schema.get(field, {}).get("semantic_search") or {}
        h = cfg.get("hnsw") or {}
        return {
            "m": int(h.get("m", 16)),
            "ef_construction": int(h.get("ef_construction", 64)),
        }

    def declares_index(self, field: str) -> bool:
        """True when the pipeline schema asks for an ANN index on this
        field (`semantic_search.hnsw` or `.ivfflat` present) — the
        SDK's CREATE INDEX statement.  method='auto' serves from the
        resident tier only for declared (or already-built) indexes and
        seq-scans otherwise, exactly pgvector's planner behavior; only
        an explicit method='index' builds one unasked."""
        cfg = self.schema.get(field, {}).get("semantic_search") or {}
        return "hnsw" in cfg or "ivfflat" in cfg

    def has_live_index(self, field: str) -> bool:
        """True when a resident index for this field is already built
        and fresh in this process (e.g. via an earlier method='index'
        call) — auto reuses it even without a schema declaration."""
        idx = self._served.get(field)
        return idx is not None and not idx.is_stale()

    def index_config(self, field: str) -> tuple[str, dict[str, int]]:
        """Per-field ANN index choice, mirroring pgvector's two index
        types: `semantic_search.hnsw {m, ef_construction}` (the
        reference's default) or `semantic_search.ivfflat {lists,
        probes}` (pgvector's other CREATE INDEX USING; defaults
        lists=100, probes=4 like pgvector/ivfflat docs). Configuring
        both is ambiguous and raises, like issuing two CREATE INDEX
        statements on one column would be a user error."""
        cfg = self.schema.get(field, {}).get("semantic_search") or {}
        if "ivfflat" in cfg and "hnsw" in cfg:
            raise ValueError(
                f"field {field!r} configures both hnsw and ivfflat; pick one"
            )
        if "ivfflat" in cfg:
            iv = cfg.get("ivfflat") or {}
            return "ivfflat", {
                "lists": int(iv.get("lists", 100)),
                "probes": int(iv.get("probes", 4)),
            }
        return "hnsw", self.hnsw_params(field)

    def served_index(self, field: str, shards: int | None = None):
        """Lazy, version-checked resident ANN index for one field
        (collections/serving.py). Built on first use after a sync,
        cached for the process lifetime, caught up when any underlying
        VersionedTable version moves — the consistency contract the
        reference gets from trigger-maintained pgvector indexes.

        ``shards`` > 1 builds a doc-hash ShardedPipelineIndex (the
        multi-host scatter-gather layout — in one process it stands in
        for N serving hosts, each holding 1/N of the corpus)."""
        from postgresml_spark.collections import serving

        return self._resident(field, field, serving.ServedPipelineIndex,
                              serving.ShardedPipelineIndex, shards)

    def served_text_index(self, field: str, shards: int | None = None):
        """Lazy, version-checked resident full-text postings for one
        field (collections/serving.ServedTextIndex) — the hybrid
        path's GIN-in-shared-memory analog. ``shards`` mirrors
        served_index."""
        from postgresml_spark.collections import serving

        return self._resident(f"__ft__{field}", field, serving.ServedTextIndex,
                              serving.ShardedTextIndex, shards)

    def _resident(self, key: str, field: str, single, sharded, shards):
        """The one lookup-refresh-or-build path of the resident indexes:
        the cached index under ``key`` caught up with any sync
        (``refresh()`` returns it, grown in place, or a rebuild), or a
        fresh build, sharded when ``shards`` > 1. The shards knob only
        shapes a FRESH build; an already-resident index (sharded or
        not) keeps serving as-is, exactly like a live pgvector index
        doesn't re-shard per query."""
        idx = self._served.get(key)
        if idx is None:
            idx = (
                sharded(self.collection, self, field, shards)
                if shards and shards > 1
                else single(self.collection, self, field)
            )
        elif idx.is_stale():
            idx = idx.refresh()
        self._served[key] = idx
        return idx

    def status(self) -> dict:
        """Per-field {stage: {synced, not_synced, total}} matching the
        reference's get_pipeline_status (pipeline.rs:231-296): chunks
        measure distinct synced documents vs the documents table;
        embeddings/tsvectors measure rows vs the chunks table. Flat
        per-table row counts stay under 'counts' for quick inspection."""
        assert self.collection is not None
        n_docs = self.collection.documents.read().count()
        out: dict = {"documents": n_docs, "counts": {}}
        for name, tbl in self._tables.items():
            out["counts"][name] = tbl.read().count()
        for field, cfg in self.schema.items():
            chunks_tbl = self._tables[f"{field}_chunks"]
            n_chunks = out["counts"][f"{field}_chunks"]
            synced_docs = (
                chunks_tbl.read().select("document_id").distinct().count()
            )
            fstat: dict = {
                "chunks": {
                    "synced": synced_docs,
                    "not_synced": n_docs - synced_docs,
                    "total": n_docs,
                }
            }
            for stage in ("embeddings", "tsvectors"):
                key = f"{field}_{stage}"
                if key in self._tables:
                    n = out["counts"][key]
                    fstat[stage] = {
                        "synced": n,
                        "not_synced": n_chunks - n,
                        "total": n_chunks,
                    }
            out[field] = fstat
        return out
