"""Served ANN tier for SDK vector search (VERDICT r2 next-steps #3).

The reference's `vector_search` latency (18-31 ms, BASELINE.md) is
measured against a pgvector index RESIDENT in Postgres shared memory —
the per-field `semantic_search.hnsw {m, ef_construction}` block of the
pipeline schema (pgml-sdks/pgml/src/pipeline.rs:61-94) becomes an
`CREATE INDEX ... USING hnsw (embedding vector_cosine_ops)` DDL at
sync time (queries.rs:117-119), and queries run
`ORDER BY embedding <=> $1 LIMIT k` against that index.

Design. Spark BUILDS (the synced tables, then one Arrow hop per
build); the serving process HOLDS the resident state; queries never
launch a Spark job (client-side embed → ANN shortlist → float64 exact
re-score → top-k). The reference keeps its index consistent through
one mechanism, and so does this module:

- One state path. `ServedPipelineIndex.__init__` (Spark fetch plus
  eager index-kind routing) and `from_arrays` both end in `_set_rows`,
  the only setter of the resident arrays (chunk ids, doc ids, chunk
  texts, the float64 matrix and its norms, the chunk→row map, the
  embedding signatures, the document payload map). `refresh()` goes
  through the same setter: a pure append passes the old arrays
  extended by the new rows, a payload-only change passes them
  unchanged, and changed or removed chunks rebuild through `__init__`.
  `ServedTextIndex.__init__`/`from_tokens` end in its `_set_rows`, the
  one postings builder.
- One invalidation rule. Caches derived from payload rows (`_doc_meta`,
  `_doc_grp`, the doc-sorted f32 copy `_mat32d`, `_filter_cache`) are
  reset by `_set_rows`, because that is where rows change. Caches
  derived from the ANN's internal row order (`_ann_docs` and each
  filter entry's `ann_mask`) are reset by `_set_ann`, the only place
  the ANN is assigned or grown by `add`. Nothing is keyed on id(ann):
  CPython reuses freed addresses, so such a key can validate a stale
  cache after a rebuild.
- Tracer contract. perfbench/layers.py wraps methods by owner class
  (`__init__` is `serving.build`, `ServedPipelineIndex.refresh` is
  `serving.refresh`, the query methods are `serving.search`) and counts
  filter-cache hits by `len(_filter_cache)`. Traced methods stay in
  their own class bodies, a refresh rebuild still runs `__init__`, and
  `candidate_chunk_scores` still calls `best_chunk_scores` below its
  flop crossover.

Measured (local[32]): build ≈1.1 ms/vector — the Python HNSW insert
loop, 8 s at sf0.1/5k chunks, 57 s at sf1/50k (linear; pgvector's
HNSW build is likewise the slow half and parallelizes by sharding);
serve ≈1.8-3.6 ms/query at those sizes (beam is sublinear, so the
per-query number barely moves with corpus growth).

Memory honesty at 100 TB: a serving host holds its shard —
d×(4+8) B/vector (float32 graph matrix + float64 re-score copy) plus
~M·8 B/node of links plus the chunk/document payload maps. Corpora
past one host shard by IVF centroid or document hash range across
serving processes (the ResidentANN/ResidentHNSW docstrings carry the
same budget math); the Spark build side is already partition-parallel.

Exactness contract: HNSW is approximate by nature — recall@10 >= 0.95
is asserted in tests (tests/test_serving_index.py) and the oracle-gated
queries (q51/q53/q54) keep using the exact DataFrame path. The served
path is what `collection.vector_search(..., method="index")` and the
steady-state bench metric use.
"""

from __future__ import annotations

import json

import numpy as np

__all__ = [
    "ServedPipelineIndex",
    "ServedTextIndex",
    "ShardedPipelineIndex",
    "ShardedTextIndex",
]


def _doc_shard(df, col: str, shard: tuple[int, int] | None):
    """Rows of ``df`` whose document id ``col`` hashes to shard (i, n):
    pmod(xxhash64(doc id), n) == i; ``shard=None`` keeps every row.
    DOC-granular (a document's chunks colocate, so per-doc best-chunk
    reductions never cross shards), and the filter sits in the SPARK
    plan — a serving host pulls only its shard's bytes through Arrow,
    which is what makes N hosts hold N× the corpus."""
    if shard is None:
        return df
    from pyspark.sql import functions as F

    i, n = shard
    return df.filter(F.pmod(F.xxhash64(F.col(col)), F.lit(n)) == i)


def _f64_rows(vectors) -> np.ndarray:
    """Float64 matrix of a column of embedding arrays."""
    if not len(vectors):
        return np.zeros((0, 1))
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vectors])


class _Versioned:
    """Staleness of a resident index: its version token is the current
    version of the documents table and of every table of its field, so
    any sync moves it."""

    def _version_token(self):
        toks = [("documents", self.collection.documents._current_version())]
        for name, tbl in sorted(self.pipeline._tables.items()):
            if name.startswith(self.field + "_"):
                toks.append((name, tbl._current_version()))
        return tuple(toks)

    def is_stale(self) -> bool:
        return self._version_token() != self.version_token


class ServedPipelineIndex(_Versioned):
    """Resident ANN (HNSW or ivfflat per schema) + payload maps for one
    (pipeline, field)."""

    def __init__(self, collection, pipeline, field: str,
                 shard: tuple[int, int] | None = None):
        cfg = pipeline.schema.get(field, {})
        if "semantic_search" not in cfg:
            # same named error the exact path raises (_scored_chunks) —
            # the default method="auto" routes here first, so the
            # user-facing message must not depend on the route taken
            raise ValueError(
                f"field {field!r} has no semantic_search in pipeline "
                f"{pipeline.name!r}; configured fields: {sorted(pipeline.schema)}"
            )
        # the ANN structure is built LAZILY on first search (the hnsw
        # property): hybrid serving only needs the matrix (full matvec),
        # so a hybrid-only deployment never pays the HNSW insert loop or
        # the IVF fit (measured ~6 s at 5k chunks — q177 dropped 8.6 s →
        # 3.4 s). kind follows the schema: "hnsw" (reference default) or
        # "ivfflat" (pgvector's other index — centroid-pruned probes,
        # cheap build, linear-in-probed-lists search).
        self.kind, self._params = pipeline.index_config(field)
        self.collection = collection
        self.pipeline = pipeline
        self.field = field
        self.shard = shard  # (shard_id, n_shards) doc-hash slice, or None
        self._embed = lambda q: pipeline.embed_query(q, field)
        self.version_token = self._version_token()

        from pyspark.sql import functions as F

        # ONE Arrow hop per build: embeddings ⋈ chunks (executor-side
        # join, then columnar transfer). Document payloads ride a
        # second small frame keyed by id. The per-chunk embedding
        # signature (Spark-side xxhash64 — NOT driver math, so refresh
        # can recompute it without moving vectors) powers the
        # incremental refresh() delta detection.
        pdf = (
            pipeline.table(f"{field}_embeddings")
            .withColumn("__sig", F.xxhash64(F.to_json(F.col("embedding"))))
            .join(self._chunks(), "chunk_id")
            .toPandas()
        )
        doc_json = self._doc_json()
        mat64 = _f64_rows(pdf["embedding"])

        # routing eligibility: a declared-DEFAULT hnsw ({} — the
        # reference's HNSW::default) may be routed to ivfflat on
        # clustered corpora; explicit m/ef_construction pins hnsw
        self._hnsw_pinned = bool((cfg["semantic_search"] or {}).get("hnsw"))
        self.routed_fraction: float | None = None
        if self.kind == "hnsw" and len(mat64):
            # ROUTE EAGERLY (ADVICE r5: the lazy route mutated
            # self.kind as a property side effect, so code branching
            # on kind before the first search saw a different answer
            # than after). The probe is one sample gram matrix
            # (~0.5 s at 2048×1024), paid once per build — declaration
            # time is where pgvector decides an index too.
            from postgresml_spark.operators.similarity import (
                clustered_fraction,
                warn_if_pinned_hnsw_clustered,
            )

            frac = clustered_fraction(mat64)
            self.routed_fraction = frac
            if self._hnsw_pinned:
                # pinned configs are respected but guarded (VERDICT r5
                # next #6): surface the measured recall risk + the
                # ivfflat alternative instead of silently serving
                # sub-0.8 recall on twin-heavy corpora
                warn_if_pinned_hnsw_clustered(
                    frac,
                    where=f"pipeline {pipeline.name!r} field {field!r}",
                    params=self._params,
                )
            elif frac >= 0.3:
                import logging

                logging.getLogger(__name__).info(
                    "served index %s.%s: declared-default hnsw routed "
                    "to ivfflat (clustered_fraction=%.2f >= 0.3)",
                    pipeline.name, field, frac,
                )
                self.kind = "ivfflat"
                self._params = {"lists": 100, "probes": 4}
        self._set_rows(
            pdf["chunk_id"].to_numpy(),
            pdf["document_id"].to_numpy(),
            pdf["chunk"].tolist(),
            mat64,
            dict(zip((int(c) for c in pdf["chunk_id"]),
                     (int(s) for s in pdf["__sig"]))),
            doc_json,
        )

    @classmethod
    def from_arrays(
        cls,
        chunk_ids,
        doc_ids,
        mat,
        embed,
        doc_json: dict | None = None,
        chunks: list | None = None,
        kind: str = "ivfflat",
        params: dict | None = None,
    ) -> "ServedPipelineIndex":
        """Build a resident index directly from arrays — no Spark
        lifecycle. Used by scale tooling (tools/
        hybrid_candidate_agreement.py measures candidate-vs-exact
        agreement at 100k/1M chunks, where driving 1M documents through
        the SDK sync isn't the thing being measured) and by tests that
        need a resident tier without a warehouse. ``embed`` is the
        query-embedding callable (the pipeline.embed_query analog).
        No version tokens: refresh()/is_stale() are not supported on an
        array-built index."""
        self = cls.__new__(cls)
        self.collection = None
        self.pipeline = None
        self.field = "_arrays_"
        self.shard = None
        self._embed = embed
        self.version_token = ()
        self.kind = kind
        self._params = params or (
            {"lists": 100, "probes": 4} if kind == "ivfflat"
            else {"m": 16, "ef_construction": 64}
        )
        self._hnsw_pinned = True  # caller chose; never reroute
        self.routed_fraction = None
        doc_ids = np.asarray(doc_ids)
        self._set_rows(
            np.asarray(chunk_ids),
            doc_ids,
            list(chunks) if chunks is not None else [""] * len(doc_ids),
            np.asarray(mat, dtype=np.float64),
            {},
            doc_json or {int(d): "{}" for d in np.unique(doc_ids)},
        )
        return self

    # -- resident state ----------------------------------------------------

    def _set_rows(self, chunk_ids, doc_ids, chunks, mat64, sig, doc_json,
                  ann=None) -> None:
        """The one setter of the resident state: both constructors end
        here and refresh() passes its extended (or unchanged) arrays
        through it. Assigns every payload array, resets every cache
        derived from payload rows, and installs ``ann`` (None: built
        lazily by the next search) through _set_ann."""
        self.chunk_ids = chunk_ids
        self.doc_ids = doc_ids
        self.chunks = chunks
        self.mat64 = mat64
        self.norms64 = np.linalg.norm(mat64, axis=1)
        self.row_of = {int(c): i for i, c in enumerate(chunk_ids)}
        self._sig = sig  # chunk_id -> embedding signature (refresh deltas)
        self.doc_json = doc_json
        self._doc_meta = None  # lazily-parsed metadata for filtered serving
        self._doc_grp = None  # (perm, starts, uniq) for per-doc segment-max
        self._mat32d = None  # doc-sorted unit f32 rows (_norm32d)
        # filter-JSON -> {doc_ids, mask, ann_mask} bitmap cache (the
        # partial-index analog, see _filter_entry)
        self._filter_cache: dict[str, dict] = {}
        self._set_ann(ann)

    def _set_ann(self, ann) -> None:
        """The one place the ANN changes (built, grown by ``add`` or
        dropped): resets the caches derived from its internal row
        order — the doc id per ANN row and every filter's ann_mask."""
        self._hnsw = ann
        self._ann_docs = None
        for ent in self._filter_cache.values():
            ent.pop("ann_mask", None)

    def _chunks(self):
        """This shard's (chunk_id, document_id, chunk) rows."""
        chunks = self.pipeline.table(f"{self.field}_chunks")
        return _doc_shard(chunks.select("chunk_id", "document_id", "chunk"),
                          "document_id", self.shard)

    def _doc_json(self) -> dict:
        """This shard's document payload map: id -> document JSON."""
        docs = self.collection.documents.read().select("id", "document")
        ddf = _doc_shard(docs, "id", self.shard).toPandas()
        return dict(zip(ddf["id"].tolist(), ddf["document"].tolist()))

    @property
    def hnsw(self):
        """Lazily-BUILT resident ANN — the index KIND is already
        decided (eagerly, in __init__), so reading .kind is stable
        across the index lifetime; only the build cost is deferred."""
        if self._hnsw is None:
            from postgresml_spark.operators.similarity import (
                ResidentANN,
                ResidentHNSW,
            )

            data = (self.chunk_ids, self.mat64.astype(np.float32))
            if self.kind == "ivfflat":
                ann = ResidentANN(
                    data,
                    nlist=min(self._params["lists"],
                              max(1, len(self.chunk_ids) // 4)),
                    nprobe=self._params["probes"],
                )
            else:
                ann = ResidentHNSW(
                    data,
                    m=self._params["m"],
                    ef_construction=self._params["ef_construction"],
                )
            self._set_ann(ann)
        return self._hnsw

    def refresh(self) -> "ServedPipelineIndex":
        """Catch up with a sync. PURE APPENDS (the streaming-ingest /
        bulk-upsert common case) insert into the LIVE graph —
        O(batch) via ResidentHNSW.add, the pgvector
        trigger-maintained-insert analog — so serving never pays the
        O(corpus) rebuild for growth. Changed or removed chunks fall
        back to a full rebuild (graph deletion is out of scope, the
        same REINDEX guidance pgvector gives for heavy churn).

        Delta detection never moves vectors: Spark computes a per-chunk
        xxhash64 signature and only (chunk_id, sig) pairs reach the
        driver; only the added rows' vectors ride Arrow. The document
        payload map IS re-read wholesale — it is resident O(docs)
        state anyway, and a metadata-only upsert must be visible.
        Returns self (incremental) or a fresh index (rebuild)."""
        from pyspark.sql import functions as F

        token = self._version_token()
        if token == self.version_token:
            return self
        emb = self.pipeline.table(f"{self.field}_embeddings")
        if self.shard is not None:
            # shard scope: only this shard's chunks count as deltas —
            # another shard's appends must not look "added" here
            emb = emb.join(self._chunks().select("chunk_id"), "chunk_id",
                           "left_semi")
        sigs = {
            int(r["chunk_id"]): int(r["s"])
            for r in emb.select(
                "chunk_id",
                F.xxhash64(F.to_json(F.col("embedding"))).alias("s"),
            ).collect()
        }
        # a removed (sig None) or changed chunk rebuilds
        if any(sigs.get(c) != s for c, s in self._sig.items()):
            return ServedPipelineIndex(self.collection, self.pipeline,
                                       self.field, shard=self.shard)

        added = [c for c in sigs if c not in self._sig]
        rows = (self.chunk_ids, self.doc_ids, self.chunks, self.mat64)
        ann = self._hnsw
        if added:
            add_df = emb.sparkSession.createDataFrame(
                [(c,) for c in added], "chunk_id long"
            )
            pdf = (
                emb.join(add_df, "chunk_id", "left_semi")
                .join(self._chunks(), "chunk_id")
                .toPandas()
            )
            new_ids = pdf["chunk_id"].to_numpy()
            new_mat = _f64_rows(pdf["embedding"])
            rows = (
                np.concatenate([self.chunk_ids, new_ids]),
                np.concatenate([self.doc_ids, pdf["document_id"].to_numpy()]),
                self.chunks + pdf["chunk"].tolist(),
                np.concatenate([self.mat64, new_mat]) if len(self.mat64)
                else new_mat,
            )
            if ann is not None and self.kind == "hnsw":
                # live graph: O(batch) inserts
                ann.add(new_ids, new_mat.astype(np.float32))
            else:
                # ivfflat (no in-place insert) or still-lazy: next
                # search rebuilds from the already-appended resident
                # arrays — driver-side only, no Spark job
                ann = None
        # payload map re-read: metadata-only upserts must surface
        self._set_rows(*rows, sigs, self._doc_json(), ann=ann)
        self.version_token = token
        return self

    # -- filtered serving ----------------------------------------------------

    def _filter_entry(self, filter: dict) -> dict:
        """Cached evaluation of one SDK filter DSL document against the
        RESIDENT metadata — the partial-index analog (VERDICT r5 next
        #2): the O(resident docs) Python DSL walk is paid ONCE per
        (filter JSON, resident rows), and every repeat of the same hot
        filter reuses the precomputed doc-id set / chunk-row bitmap.
        _set_rows clears the cache (docs or metadata moved); the cache
        is size-capped so adversarial unique-filter streams can't grow
        driver memory unboundedly."""
        key = json.dumps(filter, sort_keys=True, separators=(",", ":"),
                         default=str)
        ent = self._filter_cache.get(key)
        if ent is None:
            from postgresml_spark.operators.filter_dsl import compile_filter_py

            if self._doc_meta is None:
                self._doc_meta = {
                    did: json.loads(payload)
                    for did, payload in self.doc_json.items()
                }
            pred = compile_filter_py(filter)
            hits = [did for did, meta in self._doc_meta.items() if pred(meta)]
            if len(self._filter_cache) >= 256:
                self._filter_cache.clear()
            ent = self._filter_cache[key] = {
                "doc_ids": np.asarray(hits, dtype=np.int64),
                "mask": None,
            }
        return ent

    def _allowed_doc_ids(self, filter: dict) -> np.ndarray:
        """Document ids passing the SDK filter DSL — no Spark job,
        cached per (filter, resident rows) (see _filter_entry)."""
        return self._filter_entry(filter)["doc_ids"]

    def _row_mask_for_filter(self, filter: dict) -> np.ndarray:
        """Payload-row-order boolean mask of chunks whose document
        passes the filter — materialized once per cached filter."""
        ent = self._filter_entry(filter)
        if ent["mask"] is None:
            ent["mask"] = np.isin(self.doc_ids, ent["doc_ids"])
        return ent["mask"]

    def _ann_allowed(self, filter: dict | None):
        """The ANN's ``allowed=`` mask for ``filter`` (None without
        one). HNSW rows share the payload order; the IVF build clusters
        rows by centroid, so its mask is translated through the index's
        ids once per (filter, ANN) — the np.isin translation was
        O(n log n) per query on the filtered hot path."""
        if filter is None:
            return None
        mask = self._row_mask_for_filter(filter)
        if self.kind != "ivfflat" or not mask.any():
            return mask
        ent = self._filter_entry(filter)
        if "ann_mask" not in ent:
            ent["ann_mask"] = self.hnsw.row_mask(self.chunk_ids[mask])
        return ent["ann_mask"]

    # -- scoring helpers -----------------------------------------------------

    def _query(self, query_text: str) -> tuple[np.ndarray, float]:
        """(float64 query embedding, its norm)."""
        qv = np.asarray(self._embed(query_text), dtype=np.float64)
        return qv, float(np.linalg.norm(qv))

    def _cosines(self, rows, qv: np.ndarray, qn: float) -> np.ndarray:
        """Float64 exact cosine of payload ``rows`` (an index array, or
        slice(None) for the whole matrix as one BLAS matvec)."""
        dots = self.mat64[rows] @ qv
        denom = self.norms64[rows] * qn
        denom[denom == 0.0] = 1.0
        return dots / denom

    def _rescore(self, found, qv: np.ndarray, qn: float):
        """(payload rows, float64 cosines) of an ANN shortlist of
        (chunk_id, approx score) pairs: the approximate layer only
        GENERATES, the exact layer RANKS, so float32 index error can't
        perturb the returned ordering. An empty shortlist gives empty
        arrays."""
        rows = np.fromiter((self.row_of[int(cid)] for cid, _ in found),
                           dtype=np.int64, count=len(found))
        return rows, self._cosines(rows, qv, qn)

    def _doc_groups(self):
        """Row permutation sorted by doc + segment starts + unique doc
        ids — computed once per resident rows (_set_rows resets it), so
        every query's per-doc best-chunk reduction is a single C-level
        ``np.maximum.reduceat``."""
        if self._doc_grp is None:
            perm = np.argsort(self.doc_ids, kind="stable")
            uniq, starts = np.unique(self.doc_ids[perm], return_index=True)
            self._doc_grp = (perm, starts, uniq.astype(np.int64))
        return self._doc_grp

    def _norm32d(self) -> np.ndarray:
        """DOC-SORTED row-normalized float32 copy of the resident
        matrix (rows permuted by _doc_groups' perm), built lazily for
        the candidate-hybrid's screening gather (VERDICT r8 next #3).
        Two wins over a payload-order f32 copy: half the bytes of the
        f64 gather, and — because _per_doc_best sorts the doc list —
        the gather indices are ascending runs of contiguous per-doc
        blocks, so the read is prefetch-friendly instead of
        random-access latency-bound (profiled ~3 µs/doc random vs
        sequential-class when sorted). Built in row blocks to avoid a
        full-matrix f64 temporary."""
        if self._mat32d is None:
            perm = self._doc_groups()[0]
            norms = np.where(self.norms64 == 0.0, 1.0, self.norms64)
            out = np.empty((len(perm), self.mat64.shape[1]), dtype=np.float32)
            step = 1 << 18
            for lo in range(0, len(perm), step):
                pr = perm[lo:lo + step]
                out[lo:lo + step] = self.mat64[pr] / norms[pr, None]
            self._mat32d = out
        return self._mat32d

    def _per_doc_best(self, query_text: str, docs, f32: bool = False):
        """(hit_docs, best cosine) for the resident docs among ``docs``,
        sorted by doc id — the ragged per-doc row gather behind
        best_chunk_scores_for_docs (float64 rows) and
        approx_chunk_scores_for_docs (``f32``: the doc-sorted unit copy).
        Vectorized: no Python loop over docs (the ft-augmentation path
        can pass tens of thousands)."""
        qv, qn = self._query(query_text)
        docs = np.sort(np.asarray(docs, dtype=np.int64))
        empty = (np.empty(0, dtype=np.int64), np.empty(0))
        if not len(self.mat64) or qn == 0.0 or not docs.size:
            return empty
        perm, starts, uniq = self._doc_groups()
        ends = np.append(starts[1:], len(perm))
        pos = np.searchsorted(uniq, docs)
        valid = pos < uniq.size
        valid[valid] &= uniq[pos[valid]] == docs[valid]
        if not valid.any():
            return empty
        p = pos[valid]
        counts = ends[p] - starts[p]
        seg_starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        # `flat` indexes DOC-SORTED row order: one contiguous block per
        # hit doc, ascending because docs are sorted
        flat = (
            np.repeat(starts[p] - seg_starts, counts)
            + np.arange(int(counts.sum()))
        )
        if f32:
            scores = self._norm32d()[flat] @ (qv / qn).astype(np.float32)
        else:
            scores = self._cosines(perm[flat], qv, qn)
        return docs[valid], np.maximum.reduceat(scores, seg_starts)

    # -- serving -----------------------------------------------------------

    def search(
        self,
        query_text: str,
        limit: int = 10,
        boost: float = 1.0,
        ef: int | None = None,
        filter: dict | None = None,
        candidates: int | None = None,
        widen: float = 1.0,
    ) -> list[dict]:
        """Top-`limit` results, exact-rescored. No Spark job.

        ``candidates`` overrides the ANN shortlist size (default
        max(4·limit, limit+10)) — the explicit overfetch knob the
        rerank path threads through so `num_documents_to_rerank`
        controls the candidate bound, not just the final cut.

        ``widen`` (>= 1) multiplies the probe count (ivfflat) / ef
        (hnsw) for THIS call — the per-shard recall-normalization
        knob (VERDICT r8 next #1): a sharded deployment scales
        per-shard lists ~1/sqrt(n), which silently also cuts the
        probe COUNT ~1/sqrt(n); the scatter path passes
        widen=sqrt(n) so each shard probes as many cells as the
        single index would, at (still) ~1/sqrt(n) of its scan cost.

        ``filter`` (the SDK metadata-filter DSL) is honored ON the
        index: the resident metadata resolves to an allowed-row mask
        and the ANN layer iterates (expanding probes / ef) until the
        filtered top-k is full — so filtered queries keep served-tier
        latency instead of falling back to a per-query Spark plan."""
        qv, qn = self._query(query_text)
        if not len(self.mat64) or qn == 0.0:
            return []
        idx = self.hnsw  # kind was routed eagerly; this only pays the build
        allowed = self._ann_allowed(filter)
        if allowed is not None and not allowed.any():
            return []
        # beam for extra candidates, then float64 exact re-score
        n_cand = min(
            int(candidates) if candidates is not None
            else max(4 * limit, limit + 10),
            len(self.chunk_ids),
        )
        if self.kind == "ivfflat":
            npv = None
            if widen and widen > 1.0:
                npv = int(np.ceil(
                    int(self._params.get("probes", 4)) * float(widen)
                ))
            found = idx.search(qv, k=n_cand, allowed=allowed, nprobe=npv)
        else:
            base_ef = ef or max(4 * n_cand, 64)
            found = idx.search(
                qv, k=n_cand,
                ef=int(np.ceil(base_ef * max(1.0, float(widen)))),
                allowed=allowed,
            )
        rows, scores = self._rescore(found, qv, qn)
        scores = scores * boost
        order = sorted(
            range(len(rows)),
            key=lambda i: (-scores[i], int(self.doc_ids[rows[i]])),
        )[:limit]
        out = []
        for i in order:
            r = rows[i]
            did = int(self.doc_ids[r])
            out.append(
                {
                    "document_id": did,
                    "document": json.loads(self.doc_json[did]),
                    "chunk": self.chunks[r],
                    "score": float(scores[i]),
                }
            )
        return out

    def best_chunk_scores(
        self, query_text: str, filter: dict | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(unique_doc_ids, best_cosine) — EXACT per-document best-chunk
        cosine over the whole resident matrix: one BLAS matvec + one
        segment-max.  The hybrid path's semantic side must cover EVERY
        doc because scores full-outer-SUM with the full-text side;
        candidate generation would zero out near-miss docs the exact
        plan scores.  Only the best VALUE per doc is needed (not which
        chunk), so the segment max is exact regardless of chunk-id tie
        order.  At shard sizes past a few million rows, route through
        the IVF/HNSW candidate path and accept the documented recall
        bound instead.

        ``filter`` restricts to documents passing the metadata DSL —
        still exact (masked rows score -inf and filtered docs drop),
        which is what keeps the FILTERED hybrid path on the served
        tier."""
        qv, qn = self._query(query_text)
        if not len(self.mat64):
            return np.empty(0, dtype=np.int64), np.empty(0)
        scores = self._cosines(slice(None), qv, qn)
        if filter is not None:
            mask = self._row_mask_for_filter(filter)
            if not mask.any():
                return np.empty(0, dtype=np.int64), np.empty(0)
            scores = np.where(mask, scores, -np.inf)
        perm, starts, uniq = self._doc_groups()
        best = np.maximum.reduceat(scores[perm], starts)
        if filter is not None:
            keep = best > -np.inf
            return uniq[keep], best[keep]
        return uniq, best

    def best_chunk_scores_for_docs(
        self, query_text: str, docs: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """EXACT per-document best-chunk cosine for a GIVEN doc subset —
        the targeted gather that lets the candidate-bounded hybrid
        augment its ANN shortlist with the full-text side's top docs at
        O(|docs|·chunks_per_doc·d) instead of O(corpus·d). Docs not
        resident are dropped from the returned arrays."""
        return self._per_doc_best(query_text, docs)

    def approx_chunk_scores_for_docs(
        self, query_text: str, docs: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, float]:
        """(hit_docs, best_cosine_f32, err) — float32 twin of
        best_chunk_scores_for_docs for the WAND-style augmentation
        screen (VERDICT r8 next #3): |f32 − f64| <= err for every
        returned value, so `s32 + err` is a per-doc upper bound the
        hybrid merge can prune with before paying the exact f64
        gather. Non-resident docs drop from the returned arrays, same
        as the exact gather."""
        hit_docs, best = self._per_doc_best(query_text, docs, f32=True)
        if not hit_docs.size:
            return hit_docs, best, 0.0
        # worst-case f32 error for unit-vector dots: input rounding
        # (~2 eps) + accumulation (<= d·eps conservative; BLAS blocked
        # sums are far tighter but not guaranteed)
        err = float(max(1e-5, 2.0 * self.mat64.shape[1]
                        * np.finfo(np.float32).eps))
        return hit_docs, best.astype(np.float64), err

    def _ann_doc_ids(self) -> np.ndarray:
        """doc id per ANN-internal row (the IVF build clusters rows by
        centroid, so its row order differs from this index's): one
        O(n log n) searchsorted build, cached until the ANN changes
        (_set_ann) — the probe_scan per-doc aggregation would otherwise
        pay a Python dict lookup per scanned chunk."""
        if self._ann_docs is None:
            order = np.argsort(self.chunk_ids, kind="stable")
            pos = np.searchsorted(self.chunk_ids[order], self.hnsw.ids)
            self._ann_docs = self.doc_ids[order[pos]]
        return self._ann_docs

    def candidate_chunk_scores(
        self,
        query_text: str,
        n_candidates: int,
        filter: dict | None = None,
        ef: int | None = None,
        widen: int = 1,
        return_info: bool = False,
    ):
        """(doc_ids, best_cosine) over an ANN CANDIDATE SHORTLIST —
        the scale path for hybrid's semantic side (VERDICT r5 next #1).

        best_chunk_scores is exact but O(corpus·d) BLAS per query: at
        10M chunks × 1024 dims a single query reads ~80 GB. The
        reference does NOT pay this — its per-field semantic CTE is an
        HNSW-assisted top-k (pgml-sdks/pgml/src/
        search_query_builder.rs:131-187), so docs outside the shortlist
        contribute 0 to the hybrid COALESCE-sum. This method is that
        plan: the resident ANN (ivfflat or HNSW, whatever the router
        built) generates `n_candidates` chunks, a float64 exact
        re-score ranks them (approximation affects WHICH chunks are
        seen, never their scores), and a per-doc max reduces candidates
        to document scores. Docs absent from the shortlist are absent
        from the returned arrays — the hybrid merge already treats
        absent components as 0 (the full-outer-join NULL).

        Cost: O(n_candidates·d) instead of O(corpus·d); recall vs the
        exact plan is measured in tools/hybrid_candidate_agreement.py
        (top-10 agreement pinned ≥0.95 in tests)."""
        qv, qn = self._query(query_text)

        def _ret(docs, scores, info):
            return (docs, scores, info) if return_info else (docs, scores)

        # empty returns are SAFE (exhausted): the exact plan finds
        # nothing there either (zero query norm / empty corpus / filter
        # matching no rows), so no unseen doc can out-rank the merge
        empty = (np.empty(0, dtype=np.int64), np.empty(0))
        safe_info = {"min_score": float("-inf"), "max_score": float("-inf"),
                     "exhausted": True, "exact_topn": True,
                     "router_confident": True, "full_probe_mult": 1}
        if not len(self.mat64) or qn == 0.0:
            return _ret(*empty, safe_info)
        # flops crossover (same rule as filtered serving): below ~2M
        # multiply-adds the FULL exact scan is cheaper than one ANN
        # gather — and it makes candidate mode literally exact, so the
        # adaptive loop never needs to escalate on small corpora/shards
        # (weak-embedding small corpora otherwise trip the router check
        # and pay a pointless multi-pass sweep)
        if self.mat64.size <= 2_000_000:
            docs, scores = self.best_chunk_scores(query_text, filter=filter)
            return _ret(docs, scores, dict(safe_info))
        idx = self.hnsw
        allowed = self._ann_allowed(filter)
        if allowed is not None and not allowed.any():
            return _ret(*empty, safe_info)
        avail = (
            len(self.chunk_ids) if allowed is None else int(allowed.sum())
        )
        n_cand = min(int(n_candidates), len(self.chunk_ids))
        exact_topn = False
        router_max = float("inf")
        full_probe_mult = 1
        scanned_docs = scanned_best32 = None
        unscanned_bound = scan_floor = None
        if self.kind == "ivfflat":
            base_probes = int(self._params.get("probes", 4))
            probes_used = base_probes * max(1, int(widen))
            nlist_now = (
                len(idx.centroids) if idx.centroids is not None else 0
            )
            scan = (
                idx.probe_scan(
                    qv, k=n_cand, allowed=allowed,
                    nprobe=probes_used if widen > 1 else None,
                )
                # full sweep (or exact index): the shortlist is already
                # provably exact top-n (exact_topn below) — min_score
                # is an unconditional bound there, so the scan arrays
                # buy nothing and their O(scanned) handoff isn't free
                if 0 < probes_used < nlist_now
                else None
            )
            if scan is not None:
                # geometric-certificate path (VERDICT r7 next #5): the
                # probe round scored EVERY chunk of the probed cells —
                # expose CHUNK-LEVEL f32 scores + doc ids for the scan's
                # top-T (one argpartition, which the shortlist needed
                # anyway) plus scan_floor = the T-th score: any scanned
                # chunk beyond the top-T scores <= scan_floor, so the
                # proof's outside-universe max stays a true bound while
                # the handoff is O(T), not O(scanned) — full-scan
                # handoffs measured 1.6-2.5x the candidate median at 1M.
                scan_rows, scan_s32, unscanned_bound = scan
                if not scan_rows.size:
                    return _ret(*empty, safe_info)
                kk = min(n_cand, len(scan_s32))
                T = min(max(2048, 4 * kk), len(scan_s32))
                if len(scan_s32) > T:
                    selT = np.argpartition(-scan_s32, T - 1)[:T]
                    scan_floor = float(scan_s32[selT].min())
                else:
                    selT = np.arange(len(scan_s32))
                    scan_floor = float("-inf")
                ordT = np.argsort(-scan_s32[selT], kind="stable")
                top = selT[ordT[:kk]]
                found = [(idx.ids[scan_rows[i]].item(),
                          float(scan_s32[i])) for i in top]
                scanned_docs = self._ann_doc_ids()[scan_rows[selT]]
                scanned_best32 = scan_s32[selT]
            else:  # full sweep or exact index
                found = idx.search(
                    qv, k=n_cand, allowed=allowed,
                    nprobe=probes_used if widen > 1 else None,
                )
            if idx.centroids is None:
                exact_topn = True
            else:
                nlist_eff = len(idx.centroids)
                # probes >= nlist means every list was scanned: the
                # shortlist is PROVABLY the exact top-n_cand, so the
                # min-score bound below is a true bound, not a heuristic
                exact_topn = probes_used >= nlist_eff
                q32 = qv.astype(np.float32)
                q32n = float(np.linalg.norm(q32))
                if q32n:
                    q32 = q32 / q32n
                router_max = float(np.max(idx.centroids @ q32))
                full_probe_mult = -(-nlist_eff // base_probes)
        else:
            found = idx.search(
                qv, k=n_cand,
                ef=(ef or max(2 * n_cand, 64)) * max(1, int(widen)),
                allowed=allowed,
            )
        if not found:
            return _ret(*empty, safe_info)
        rows, scores = self._rescore(found, qv, qn)
        cand_docs = self.doc_ids[rows]
        perm = np.argsort(cand_docs, kind="stable")
        uniq, starts = np.unique(cand_docs[perm], return_index=True)
        best = np.maximum.reduceat(scores[perm], starts)
        mx = float(scores.max())
        # fp32 slack (ADVICE r7): the shortlist was SELECTED by
        # float32 index scores but this bound is float64-rescored —
        # an unseen chunk u satisfies s32(u) <= min s32(shortlist),
        # which only gives s64(u) <= min s64(shortlist) + 2e where e
        # bounds fp32 dot rounding (~sqrt(d)*eps32 for BLAS order);
        # without the slack a boundary-straddling doc can defeat the
        # strict `boundary > unseen_bound` proof
        fp32_eps = 1e-5 * max(1.0, abs(float(scores.min())))
        info = {
            # exact-rescored boundary of the RAW shortlist: under the
            # exact-top-n reading of the shortlist, any unseen chunk
            # scores <= min_score — the adaptive-overfetch safety bound
            "min_score": float(scores.min()) + fp32_eps,
            "max_score": mx,
            "exhausted": len(found) >= avail,
            # the min-score bound is only as good as the index's
            # routing. IVF routing is informative when the best found
            # chunk aligns with SOME centroid (in-distribution query);
            # a query whose observed matches beat every centroid
            # alignment is off-codebook — probing order is noise and
            # the shortlist may miss better chunks INSIDE its own score
            # range (measured: OOD misses at 100k sat between min and
            # max). exact_topn (all lists probed) restores the bound.
            "exact_topn": exact_topn,
            "router_confident": (
                exact_topn or mx <= 0.0 or router_max >= 0.8 * mx
            ),
            # widen multiplier at which every list is probed — the
            # escalation target when the router is unconfident (skips
            # the useless intermediate probe rounds)
            "full_probe_mult": full_probe_mult,
            # geometric-certificate fields (None on non-IVF / full-
            # sweep paths): CHUNK-level doc ids + f32 scores over the
            # WHOLE probed scan, plus the unconditional q·c + R_c
            # bound on every unprobed cell — search.py's proof prefers
            # these over min_score when present
            "scan_chunk_docs": scanned_docs,
            "scan_chunk_s32": scanned_best32,
            "scan_floor": scan_floor,
            "unscanned_bound": unscanned_bound,
        }
        return _ret(uniq.astype(np.int64), best, info)


class ServedTextIndex(_Versioned):
    """Resident full-text postings for one (pipeline, field) — the
    GIN-index-in-shared-memory analog for the hybrid path. Holds
    term -> {chunk_row: tf} postings plus the chunk→document map;
    scores replicate search._tsrank_col's normalization-32 arithmetic
    bit-for-bit (same float64 ops in the same order)."""

    def __init__(self, collection, pipeline, field: str,
                 shard: tuple[int, int] | None = None):
        if "full_text_search" not in pipeline.schema.get(field, {}):
            raise ValueError(f"field {field!r} has no full_text_search config")
        self.collection = collection
        self.pipeline = pipeline
        self.field = field
        self.shard = shard
        self.version_token = self._version_token()

        chunks = pipeline.table(f"{field}_chunks").select("chunk_id", "document_id")
        pdf = (
            pipeline.table(f"{field}_tsvectors")
            .join(_doc_shard(chunks, "document_id", shard), "chunk_id")
            .toPandas()
        )
        self._set_rows(pdf["chunk_id"].to_numpy(),
                       pdf["document_id"].to_numpy(), pdf["tokens"])

    @classmethod
    def from_tokens(cls, chunk_ids, doc_ids, token_lists) -> "ServedTextIndex":
        """Build resident postings directly from per-chunk token lists —
        the array-path twin of ServedPipelineIndex.from_arrays, for
        scale tooling and warehouse-free tests. Same state path as
        __init__; no version tokens."""
        self = cls.__new__(cls)
        self.collection = None
        self.pipeline = None
        self.field = "_arrays_"
        self.shard = None
        self.version_token = ()
        self._set_rows(np.asarray(chunk_ids), np.asarray(doc_ids), token_lists)
        return self

    def _set_rows(self, chunk_ids, doc_ids, token_lists) -> None:
        """The one setter of the resident state (both constructors end
        here): the chunk→document map, the postings, and their
        vectorized form term -> (rows, tf/(tf+1) contribs), built once
        so the per-query path is pure numpy over TOUCHED postings
        (scoring is sparse — no O(corpus) per-query state)."""
        self.chunk_ids = chunk_ids
        self.doc_ids = doc_ids
        self.postings: dict[str, dict[int, int]] = {}
        for row, toks in enumerate(token_lists):
            for t in toks:
                post = self.postings.setdefault(t, {})
                post[row] = post.get(row, 0) + 1
        self._term_arrays: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t, post in self.postings.items():
            rows = np.fromiter(post.keys(), dtype=np.int64, count=len(post))
            tfs = np.fromiter(post.values(), dtype=np.float64, count=len(post))
            self._term_arrays[t] = (rows, tfs / (tfs + 1.0))
        self.n_rows = len(chunk_ids)

    def refresh(self) -> "ServedTextIndex":
        """Catch up with a sync: postings have no incremental path, so
        a stale index is rebuilt (a fresh index is returned; self when
        current)."""
        if not self.is_stale():
            return self
        return ServedTextIndex(self.collection, self.pipeline, self.field,
                               shard=self.shard)

    def best_chunk_scores(
        self, terms: list[str], allowed_docs: np.ndarray | set | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(unique_doc_ids, best ts_rank) — vectorized: per-term contrib
        arrays accumulate into a dense rank vector, normalization-32
        applies element-wise, and the per-doc best chunk is one
        segment-max (only the VALUE is needed, so chunk-id tie order
        cannot change the result).  Chunks with rank 0 excluded;
        ``allowed_docs`` restricts to a metadata-filtered document set
        (the filtered hybrid path).  Same float64 ops in the same order
        as search._tsrank_col, so served scores match the exact plan
        bit-for-bit."""
        # SPARSE accumulation over touched postings only — the dense
        # form (rank vector of n_rows + reduceat over every row) cost
        # O(corpus) per query, measured ~30 ms of the 1M-chunk hybrid
        # floor. Touched rows keep the SAME per-row addition order
        # (term order — np.add.at applies elementwise in concatenation
        # order), so scores stay bit-identical to _tsrank_col.
        parts = [
            self._term_arrays[t]
            for t in (term.lower() for term in terms)
            if t in self._term_arrays
        ]
        if not parts:
            return np.empty(0, dtype=np.int64), np.empty(0)
        rows_cat = np.concatenate([r for r, _ in parts])
        con_cat = np.concatenate([c for _, c in parts])
        uniq_rows, inv = np.unique(rows_cat, return_inverse=True)
        ranks = np.zeros(uniq_rows.size)
        np.add.at(ranks, inv, con_cat)
        scores = ranks / (ranks + 1.0)  # normalization 32
        docs = self.doc_ids[uniq_rows]
        perm = np.argsort(docs, kind="stable")
        uniq, starts = np.unique(docs[perm], return_index=True)
        best = np.maximum.reduceat(scores[perm], starts)
        keep = best > 0.0
        if allowed_docs is not None:
            allowed = np.asarray(
                sorted(allowed_docs) if isinstance(allowed_docs, set)
                else allowed_docs,
                dtype=np.int64,
            )
            keep &= np.isin(uniq, allowed)
        return uniq[keep], best[keep]


def _build_shards(n: int, make):
    """Construct/refresh N shard indexes CONCURRENTLY (guide §2.6).

    Each shard build is two Spark collect actions (the Arrow hop for
    its 1/n slice + the payload frame) followed by a DRIVER-side
    numpy/BLAS index build (GIL mostly released). Sequential builds
    serialize those phases end to end; a thread per shard lets shard
    i's driver-side graph build overlap shard j's Spark fetch, and the
    fetches' own scheduling gaps back-fill each other (guide §2.6 —
    the sync writes that shared this argument are now one batched
    Spark job, storage.overwrite_multi). Order is preserved
    (shard i of the result is make(i)). Results are identical to the
    sequential build: shards never share mutable state (each holds its
    own arrays; the Spark reads are stateless plan constructions)."""
    if n == 1:
        return [make(0)]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=n, thread_name_prefix="shard-build"
    ) as pool:
        return list(pool.map(make, range(n)))


def _gather(parts):
    """Merge per-shard (doc_ids, scores): doc-hash shards are
    doc-disjoint, so the gather is a concatenation plus a stable doc-id
    sort, no dedup pass."""
    parts = [(d, s) for d, s in parts if d.size]
    if not parts:
        return np.empty(0, dtype=np.int64), np.empty(0)
    docs = np.concatenate([d for d, _ in parts])
    scores = np.concatenate([s for _, s in parts])
    order = np.argsort(docs, kind="stable")
    return docs[order], scores[order]


class _Sharded:
    """Scatter-gather over N doc-hash shard indexes of class ``_SHARD``:
    construction, staleness, refresh and the concurrent scatter."""

    _SHARD: type

    def __init__(self, collection, pipeline, field: str, n_shards: int):
        if n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        self._set_shards(_build_shards(
            n_shards,
            lambda i: self._SHARD(collection, pipeline, field,
                                  shard=(i, n_shards)),
        ))

    @classmethod
    def from_shards(cls, shards):
        """Scatter-gather over already-built shard indexes (e.g.
        ``from_arrays`` slices of one corpus by document hash)."""
        self = cls.__new__(cls)
        self._set_shards(list(shards))
        return self

    def _set_shards(self, shards) -> None:
        self.shards = shards
        self.n_shards = len(shards)
        self._pool = None  # scatter thread pool, created on first use

    def is_stale(self) -> bool:
        return any(s.is_stale() for s in self.shards)

    def refresh(self):
        """Refresh every shard concurrently; appends land only on the
        owning shard (the shard filter scopes delta detection)."""
        shards = self.shards
        self.shards = _build_shards(len(shards), lambda i: shards[i].refresh())
        return self

    def _scatter(self, fn):
        """Run fn over every shard concurrently; preserves shard order.
        Shards are independent and the per-shard work is numpy/BLAS
        (GIL released), so a thread fan-out makes scatter latency
        max(shard) + merge instead of sum(shards) (VERDICT r6 next #2).
        The pool is cached: pool creation (~ms of thread spawns) would
        dominate a sub-ms serve if paid per query."""
        if self.n_shards == 1:
            return [fn(self.shards[0])]
        if self._pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(
                max_workers=self.n_shards, thread_name_prefix="shard-scatter"
            )
        return list(self._pool.map(fn, self.shards))


class ShardedPipelineIndex(_Sharded):
    """Scatter-gather serving across N doc-hash resident shards — the
    multi-host layout the 100 TB capacity math has always assumed, now
    as a real code path (VERDICT r5 next #4).

    Layout: shard i holds documents with pmod(xxhash64(id), n) == i —
    the same modular doc-hash each ServedPipelineIndex applies INSIDE
    its Spark build plan, so a serving host's Arrow hop moves only its
    own slice (1/n of the corpus) and hosts build in parallel against
    the same synced tables. Document granularity keeps a doc's chunks
    colocated, so per-doc best-chunk reductions never cross shards and
    the hybrid merge stays shard-local until the final k-way gather.

    Query path (scatter-gather):
    - search(): every shard answers its local top-`limit` (ANN
      candidates + float64 exact re-score, same as single-shard), the
      gather k-way merges by (-score, doc_id) and keeps `limit`. The
      union of per-shard exact top-k CONTAINS the global exact top-k
      (each shard's view covers its docs entirely), so the merged
      result is identical to the single-shard index modulo per-shard
      ANN recall — the same contract the unsharded tier carries.
    - best_chunk_scores()/candidate_chunk_scores(): doc-hash shards
      are doc-disjoint, so the gather is a concatenation + sort, no
      dedup pass needed.

    Capacity arithmetic (SCALE.md carries the table): a shard holds
    d×(4+8) B/vector + links + payload maps. At 1024 dims, 32 shards
    hold ~2.7 TB of raw float32 vectors at 64 GB/host resident —
    queries fan out N ways, each shard answering in the unsharded
    per-query time of a 1/N corpus (ANN search is sublinear, so the
    scatter is a strict latency WIN over one giant shard; the gather
    merge of N×limit rows is microseconds). Staleness and refresh
    delegate per-shard: appends land only on the owning shard (the
    shard filter scopes delta detection), so a sync refreshes N shards
    in parallel with O(batch/n) work each."""

    _SHARD = ServedPipelineIndex

    # -- payload / filter views --------------------------------------------

    @property
    def doc_json(self) -> dict:
        """Merged payload view — doc-hash shards are disjoint, so a
        ChainMap union is exact and copy-free."""
        from collections import ChainMap

        return ChainMap(*[s.doc_json for s in self.shards])

    def _allowed_doc_ids(self, filter: dict) -> np.ndarray:
        parts = [s._allowed_doc_ids(filter) for s in self.shards]
        parts = [p for p in parts if p.size]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.sort(np.concatenate(parts))

    # -- serving -------------------------------------------------------------

    def search(self, query_text: str, limit: int = 10, boost: float = 1.0,
               ef: int | None = None, filter: dict | None = None,
               candidates: int | None = None) -> list[dict]:
        """Scatter to every shard (concurrently — see _scatter),
        gather-merge by (-score, doc_id).

        Each shard searches with widen=sqrt(n_shards) (VERDICT r8
        next #1): per-shard ANN configs scale lists ~1/sqrt(n), which
        also cuts the probe COUNT ~1/sqrt(n) — measured as a recall
        cliff at 4 shards (0.854 vs 0.95 single, tools/
        shard_scatter_latency.json r8). Restoring the probe count
        keeps per-shard recall at the single-index level while each
        shard still scans ~1/sqrt(n) of the single index's chunks, so
        the scatter stays a strict latency win."""
        w = float(np.sqrt(self.n_shards)) if self.n_shards > 1 else 1.0
        merged: list[dict] = []
        for part in self._scatter(
            lambda s: s.search(query_text, limit=limit, boost=boost,
                               ef=ef, filter=filter, candidates=candidates,
                               widen=w),
        ):
            merged.extend(part)
        merged.sort(key=lambda r: (-r["score"], r["document_id"]))
        return merged[:limit]

    def best_chunk_scores(self, query_text: str, filter: dict | None = None):
        return _gather(self._scatter(
            lambda s: s.best_chunk_scores(query_text, filter=filter)
        ))

    def candidate_chunk_scores(self, query_text: str, n_candidates: int,
                               filter: dict | None = None,
                               ef: int | None = None,
                               widen: int = 1,
                               return_info: bool = False):
        # per-shard overfetch: each shard contributes up to the full
        # candidate budget; the hybrid merge takes care of ranking
        per = max(1, -(-int(n_candidates) // self.n_shards))
        parts = self._scatter(
            lambda s: s.candidate_chunk_scores(query_text, per, filter=filter,
                                               ef=ef, widen=widen,
                                               return_info=True),
        )
        docs, scores = _gather([(d, s) for d, s, _ in parts])
        if not return_info:
            return docs, scores
        # an unseen doc lives in exactly ONE shard, so the global bound
        # is the max of the NON-exhausted shards' boundaries (exhausted
        # shards hide nothing)
        open_infos = [i for _, _, i in parts if not i["exhausted"]]
        # geometric certificate merge: shards are doc-disjoint, so the
        # scanned per-doc bests concatenate and the unscanned bound is
        # the max over OPEN shards. Usable only when every open shard
        # carries geometry (a pre-r8 shard degrades the whole merge to
        # the min_score heuristic).
        geo_ok = all(
            i.get("unscanned_bound") is not None for i in open_infos
        ) and bool(open_infos)
        sdocs = sbest = None
        unscanned = None
        if geo_ok:
            with_scan = [
                i for _, _, i in parts
                if i.get("scan_chunk_docs") is not None
            ]
            if with_scan:
                # chunk-level arrays concatenate as-is (shards are
                # doc-disjoint; the proof side only takes a masked max)
                sdocs = np.concatenate(
                    [i["scan_chunk_docs"] for i in with_scan]
                )
                sbest = np.concatenate(
                    [i["scan_chunk_s32"] for i in with_scan]
                )
            else:
                sdocs = np.empty(0, dtype=np.int64)
                sbest = np.empty(0)
            unscanned = max(
                i["unscanned_bound"] for i in open_infos
            )
            floors = [i["scan_floor"] for _, _, i in parts
                      if i.get("scan_floor") is not None]
            sfloor = max(floors) if floors else None
        info = {
            "min_score": max(
                (i["min_score"] for i in open_infos), default=float("-inf")
            ),
            "max_score": max(
                (i["max_score"] for _, _, i in parts), default=float("-inf")
            ),
            "exhausted": not open_infos,
            "exact_topn": all(i["exact_topn"] for i in open_infos),
            "router_confident": all(
                i["router_confident"] for i in open_infos
            ),
            "full_probe_mult": max(
                (i["full_probe_mult"] for i in open_infos), default=1
            ),
            "scan_chunk_docs": sdocs,
            "scan_chunk_s32": sbest,
            "scan_floor": sfloor if geo_ok else None,
            "unscanned_bound": unscanned,
        }
        return docs, scores, info

    def best_chunk_scores_for_docs(self, query_text: str, docs):
        # non-resident docs drop shard-locally, so routing is implicit
        return _gather(self._scatter(
            lambda s: s.best_chunk_scores_for_docs(query_text, docs)
        ))

    def approx_chunk_scores_for_docs(self, query_text: str, docs):
        """f32 screening gather across shards (doc-disjoint concat);
        err is the max over shards so the bound stays valid."""
        parts = self._scatter(
            lambda s: s.approx_chunk_scores_for_docs(query_text, docs),
        )
        err = max((e for _, _, e in parts), default=0.0)
        d, s = _gather([(d, s) for d, s, _ in parts])
        return d, s, err


class ShardedTextIndex(_Sharded):
    """Doc-hash sharded resident full-text postings — the ft twin of
    ShardedPipelineIndex for the sharded hybrid path."""

    _SHARD = ServedTextIndex

    def best_chunk_scores(self, terms, allowed_docs=None):
        return _gather(self._scatter(
            lambda s: s.best_chunk_scores(terms, allowed_docs=allowed_docs)
        ))
