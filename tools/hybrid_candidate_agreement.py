"""Candidate-bounded hybrid vs exact full-coverage plan: agreement at scale.

VERDICT r5 next #1 evidence: the served hybrid's semantic side was an
exact O(corpus·d) matvec per query — correct, but at 10M chunks × 1024
dims one query reads ~80 GB. The reference never pays this: its
semantic CTE is an HNSW-assisted top-k per field
(pgml-sdks/pgml/src/search_query_builder.rs:131-187), i.e.
candidate-bounded, with docs outside the shortlist contributing 0 to
the hybrid COALESCE-sum. `hybrid_search(..., method="candidate")` is
that plan; this tool measures what the bound costs in result quality:

  top-10 agreement + score deltas between semantic_mode="exact" and
  "candidate" through the REAL `_served_hybrid` merge and the REAL
  resident index classes, at 100k and 1M chunks.

The SDK sync (Spark upsert→chunk→embed lifecycle) is bypassed via
ServedPipelineIndex.from_arrays / ServedTextIndex.from_tokens — moving
1M documents through a warehouse measures ingest, not the recall of
the candidate bound, and the query path under test is byte-identical.

Corpus shape mirrors the LLM-pipeline regime the router targets: 70%
of chunks in near-duplicate clusters + 30% diffuse, ~4 chunks/doc,
Zipf token lists for the full-text side. Queries are perturbed cluster
centers (in-distribution) plus pure-random vectors (out).

Run: python tools/hybrid_candidate_agreement.py [n_chunks ...]
Writes tools/hybrid_agreement_{n}.json per size.
"""

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postgresml_spark.collections.search import _served_hybrid  # noqa: E402
from postgresml_spark.collections.serving import (  # noqa: E402
    ServedPipelineIndex,
    ServedTextIndex,
)


class _ToolPipeline:
    """Minimal pipeline shim: the two resident indexes + a name."""

    name = "agreement_tool"

    def __init__(self, idx, ft):
        self._idx, self._ft = idx, ft

    def served_index(self, field):
        return self._idx

    def served_text_index(self, field):
        return self._ft


class _ToolCollection:
    def __init__(self):
        self._search_log_buffer = []


def build_corpus(n_chunks: int, dim: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    n_docs = max(1, n_chunks // 4)
    n_clusters = max(64, n_chunks // 1000)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    k_cl = int(n_chunks * 0.7)
    mat = np.empty((n_chunks, dim), dtype=np.float32)
    cl = rng.integers(0, n_clusters, size=k_cl)
    step = 1 << 16  # chunked fill: no (k_cl, dim) float64 temporary
    for lo in range(0, k_cl, step):
        hi = min(lo + step, k_cl)
        mat[lo:hi] = centers[cl[lo:hi]] + rng.normal(
            scale=0.05, size=(hi - lo, dim)
        )
    mat[k_cl:] = rng.normal(size=(n_chunks - k_cl, dim))
    doc_ids = rng.integers(0, n_docs, size=n_chunks)
    chunk_ids = np.arange(n_chunks, dtype=np.int64)

    # Zipf token lists over a 4096-term vocab, variable chunk length
    # (4-28 tokens) so term frequencies vary like real text instead of
    # the all-tf=1 tie wall a fixed-length corpus produces
    lens = rng.integers(4, 28, size=n_chunks)
    flat = np.minimum(rng.zipf(1.5, size=int(lens.sum())), 4096) - 1
    bounds = np.concatenate([[0], np.cumsum(lens)])
    token_lists = [
        [f"t{t}" for t in flat[bounds[i]:bounds[i + 1]]]
        for i in range(n_chunks)
    ]

    # queries: 40 perturbed cluster centers + 10 random directions
    qs = np.empty((50, dim))
    qi = rng.integers(0, n_clusters, size=40)
    qs[:40] = centers[qi] + rng.normal(scale=0.15, size=(40, dim))
    qs[40:] = rng.normal(size=(10, dim))
    # ft side, two regimes: "common" terms (zipf rank 40-400, hitting
    # 1-10% of docs — the worst case for the candidate bound, since the
    # semantic augment must exact-score every ft-matched doc) and
    # "rare" terms (rank 400-4000, <1% of docs — where real search
    # queries live and the augment gather is tiny)
    ft_terms = {
        "common": [
            f"t{rng.integers(40, 400)} t{rng.integers(40, 400)}"
            for _ in range(50)
        ],
        "rare": [
            f"t{rng.integers(400, 4000)} t{rng.integers(400, 4000)}"
            for _ in range(50)
        ],
    }
    return chunk_ids, doc_ids, mat, token_lists, qs, ft_terms


def run(n_chunks: int, dim: int = 256) -> dict:
    t0 = time.perf_counter()
    chunk_ids, doc_ids, mat, token_lists, qs, ft_terms = build_corpus(
        n_chunks, dim
    )
    synth_s = time.perf_counter() - t0

    embed = lambda q: qs[int(q[1:])]  # noqa: E731 — "q17" -> row 17
    nlist = 1024 if n_chunks >= 500_000 else 256
    t0 = time.perf_counter()
    # probes = lists/8: the deep-k overfetch (k=160 candidates) needs
    # more probed lists than a top-10 lookup — measured at 20k/256/32:
    # out-of-distribution queries' agreement dropped to 0.5 on pure-ANN
    # misses, recovered by probing deeper
    idx = ServedPipelineIndex.from_arrays(
        chunk_ids, doc_ids, mat, embed,
        kind="ivfflat",
        params={"lists": nlist, "probes": max(32, nlist // 8)},
    )
    idx.hnsw  # force the IVF fit into build time
    ft = ServedTextIndex.from_tokens(chunk_ids, doc_ids, token_lists)
    build_s = time.perf_counter() - t0

    pipe = _ToolPipeline(idx, ft)
    coll = _ToolCollection()

    out = {
        "n_chunks": n_chunks,
        "dim": dim,
        "n_docs": int(len(np.unique(doc_ids))),
        "index": f"ivfflat lists={nlist} probes={max(32, nlist // 8)}",
        "candidates_per_field": 160,
        "n_queries": len(qs),
        "synth_s": round(synth_s, 1),
        "build_s": round(build_s, 1),
    }
    for regime, terms in ft_terms.items():
        def hq(i):
            return {
                "query": {
                    "semantic_search": {"text": {"query": f"q{i}",
                                                 "boost": 1.5}},
                    "full_text_search": {"text": {"query": terms[i],
                                                  "boost": 0.8}},
                },
                "limit": 10,
            }

        _served_hybrid(coll, pipe, hq(0), semantic_mode="exact")  # warm
        _served_hybrid(coll, pipe, hq(0), semantic_mode="candidate")

        agree, deltas = [], []
        t_exact = [float("inf")] * len(qs)
        t_cand = [float("inf")] * len(qs)
        mult_dist: dict[int, int] = {}
        exhausted = 0
        # TWO timing passes, per-query MINIMUM (timeit discipline):
        # this host shows multi-second noise bursts that inflate a
        # whole 50-query sweep 2-3x (r9 measured back-to-back 1M runs
        # flip-flopping 17.9 <-> 36 ms on identical code); a per-query
        # min across passes reports the noise floor instead of
        # whichever sweep the burst landed on. Agreement/mult stats
        # come from the first pass (they are deterministic).
        for rep in range(2):
            for i in range(len(qs)):
                t0 = time.perf_counter()
                ex = _served_hybrid(coll, pipe, hq(i), semantic_mode="exact")
                t_exact[i] = min(t_exact[i], time.perf_counter() - t0)
                t0 = time.perf_counter()
                ca = _served_hybrid(coll, pipe, hq(i),
                                    semantic_mode="candidate")
                t_cand[i] = min(t_cand[i], time.perf_counter() - t0)
                if rep:
                    continue
                m = ca.search_info["candidate_mult"]
                mult_dist[m] = mult_dist.get(m, 0) + 1
                exhausted += ca.search_info["candidates_exhausted"]
                e_ids = [r["document_id"] for r in ex]
                c_ids = [r["document_id"] for r in ca]
                agree.append(
                    len(set(e_ids) & set(c_ids)) / max(len(e_ids), 1)
                )
                e_sc = {r["document_id"]: r["score"] for r in ex}
                deltas.extend(
                    abs(r["score"] - e_sc[r["document_id"]])
                    for r in ca if r["document_id"] in e_sc
                )
        # back-to-back candidate sweep (no exact call in between): the
        # interleaved loop above measures candidate in the exact
        # matvec's OpenBLAS spin-wait shadow (32 worker threads
        # busy-wait after each 2 GB exact scan and steal cycles from
        # the immediately-following candidate call — profiled r9:
        # interleaved medians 2-3x the back-to-back ones on identical
        # code). Interleaved numbers stay (r8-comparable methodology);
        # the solo number is what a serving process that never runs
        # the exact plan actually pays.
        t_solo = [float("inf")] * len(qs)
        for rep in range(2):
            for i in range(len(qs)):
                t0 = time.perf_counter()
                _served_hybrid(coll, pipe, hq(i),
                               semantic_mode="candidate")
                t_solo[i] = min(t_solo[i], time.perf_counter() - t0)
        t_solo.sort()
        t_exact.sort(), t_cand.sort()
        out[regime] = {
            "hybrid_candidate_solo_ms": round(
                t_solo[len(t_solo) // 2] * 1000, 2),
            "hybrid_candidate_solo_mean_ms": round(
                float(np.mean(t_solo)) * 1000, 2),
            "agreement_at_10": round(float(np.mean(agree)), 4),
            # queries 0-39 are perturbed cluster centers (real queries
            # look like the corpus); 40-49 are pure-random directions —
            # any disagreement there is bare ANN recall on a query that
            # matches nothing, the same cliff pgvector's ivfflat has
            "agreement_in_dist": round(float(np.mean(agree[:40])), 4),
            "agreement_ood": round(float(np.mean(agree[40:])), 4),
            "agreement_min": round(float(np.min(agree)), 4),
            "score_delta_mean": round(
                float(np.mean(deltas)) if deltas else 0.0, 8),
            "score_delta_max": round(
                float(np.max(deltas)) if deltas else 0.0, 8),
            "hybrid_exact_ms": round(t_exact[len(t_exact) // 2] * 1000, 2),
            "hybrid_candidate_ms": round(t_cand[len(t_cand) // 2] * 1000, 2),
            # means carry the escalation cost the medians skip (the
            # OOD tail pays the full probe sweep by design)
            "hybrid_exact_mean_ms": round(
                float(np.mean(t_exact)) * 1000, 2),
            "hybrid_candidate_mean_ms": round(
                float(np.mean(t_cand)) * 1000, 2),
            # adaptive-overfetch telemetry (VERDICT r6 next #1): which
            # escalation multiplier each query settled at, and how many
            # hit the cap without proving safety
            "mult_dist": {str(k): v for k, v in sorted(mult_dist.items())},
            "exhausted_count": exhausted,
        }
    return out


if __name__ == "__main__":
    sizes = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]
    here = os.path.dirname(os.path.abspath(__file__))
    for n in sizes:
        res = run(n)
        path = os.path.join(here, f"hybrid_agreement_{n}.json")
        with open(path, "w") as f:
            json.dump(res, f)
        print(json.dumps(res))
