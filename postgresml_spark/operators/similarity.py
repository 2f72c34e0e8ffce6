"""Similarity search over embedding columns.

The reference's ANN surface is `ORDER BY embedding <=> query LIMIT k`
(cosine distance, HNSW-assisted — pgml-sdks/pgml/src/
vector_search_query_builder.rs:163-169,233; index DDL queries.rs:117-119).
Exact top-k is the semantic contract; HNSW is an acceleration detail
(SURVEY.md §7). Spark translation:

- `knn_exact` — brute-force cosine top-k: one scan, partial top-k per
  partition (TakeOrderedAndProject), no shuffle of the full table.
  This is the correctness oracle and is already the right plan for
  single-query batch scoring at any scale (scan-bound).
- `ivf_assign` / `knn_ivf` — IVF-style scale path: assign every vector
  to its nearest centroid (small broadcast list), store/partition by
  `centroid_id`, and probe only the nprobe closest centroids at query
  time → reads 1/nlist'th of the data per probe. This is the same
  partition-pruning trade pgvector's ivfflat makes.

Centroids come from MLlib KMeans (`fit_ivf_centroids`) — train once,
reuse across queries; at 100 TB train on a sample.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from postgresml_spark.functions.vectors import cosine_similarity_lit, distance_l2

if TYPE_CHECKING:
    from typing import Self

__all__ = [
    "fit_pq",
    "knn_ivf_pq",
    "pq_encode",
    "pq_topk",
    "knn_exact",
    "fit_ivf_centroids",
    "ivf_assign",
    "knn_ivf",
    "ServedIndex",
    "ResidentANN",
    "ResidentBQ",
    "ResidentHNSW",
    "ResidentPQ",
    "ResidentSQ8",
    "range_search",
    "hard_negative_join",
    "binary_signature",
    "jaccard_distance_lit",
    "jaccard_topk",
    "binary_signature_py",
    "hamming_distance_lit",
    "hamming_topk",
    "knn_join",
    "clustered_fraction",
    "route_index_kind",
    "PinnedHNSWRecallWarning",
    "warn_if_pinned_hnsw_clustered",
]


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm (zero rows stay zero), dtype kept:
    cosine becomes a dot product."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def _unit_query(query_vec, dtype=np.float32) -> np.ndarray:
    q = np.asarray(query_vec, dtype=dtype)
    qn = np.linalg.norm(q)
    return q / qn if qn else q


class PinnedHNSWRecallWarning(UserWarning):
    """Build-time warning: a user-PINNED hnsw {m, ef_construction}
    declaration met a corpus the clusteredness probe measures as
    twin-heavy — the regime where HNSW's diversity heuristic starves
    and recall collapses (VERDICT r5 what's-wrong #1). The pin is
    respected (the index still builds as declared); this surfaces the
    measured risk and the ivfflat alternative instead of silently
    serving sub-0.8 recall."""


def warn_if_pinned_hnsw_clustered(
    frac: float,
    where: str = "",
    params: dict | None = None,
    cutoff: float = 0.3,
) -> bool:
    """Emit PinnedHNSWRecallWarning when a pinned-hnsw build sees
    clustered_fraction >= cutoff.  Returns True iff the warning fired.

    The cited curve is the measured 1M×1024 twin-heavy sweep
    (tools/annbench_1m1024_r6.json): with the multi-seed descent
    default, recall@10 is 0.88@ef=400 / 0.97@ef=800 (13.7/20.1 ms) —
    the wrong-clique routing failure that capped the classic greedy
    descent at 0.56-0.78 on the same graphs is fixed query-side. The
    residual gap to ivfflat (recall 1.00 at 11.0 ms on the same
    corpus) remains worth surfacing on heavily clustered corpora,
    which is why this still warns instead of staying silent."""
    import warnings

    if frac < cutoff:
        return False
    warnings.warn(
        f"pinned hnsw{' on ' + where if where else ''} "
        f"(params={params or {}}): corpus clustered_fraction={frac:.2f} "
        f">= {cutoff} — twin-heavy corpus. Measured at 1M×1024 "
        "(tools/annbench_1m1024_r6.json): recall@10 0.88@ef=400 / "
        "0.97@ef=800 with the multi-seed descent default (the classic "
        "greedy descent capped at 0.56-0.78 here), while ivfflat "
        "measured recall 1.00 at 11.0 ms on the same corpus; at "
        "5M×1024 (tools/annbench_5m_r8.json) the hnsw multi-seed "
        "curve PLATEAUS at 0.93 recall from clique saturation — no "
        "ef recovers it — while ivfflat holds 1.00 at 13.4 ms. The "
        "pinned index builds as declared; keep ef_search >= 800 on "
        "corpora like this, or consider `semantic_search.ivfflat "
        "{lists, probes}` / removing the pin so the router chooses "
        "(route_index_kind).",
        PinnedHNSWRecallWarning,
        stacklevel=3,
    )
    return True


def clustered_fraction(
    mat,
    sample: int = 2048,
    cos_threshold: float = 0.9,
    seed: int = 7,
) -> float:
    """Fraction of sampled vectors whose nearest OTHER sampled vector
    has cosine > cos_threshold — a cheap clusteredness probe for index
    routing (VERDICT r4 #1).

    Rationale: HNSW's diversity heuristic starves on corpora dominated
    by large near-duplicate cliques (LLM training corpora are exactly
    this), while the ivfflat tier measured recall 1.00 at 6.9-9.9 ms on
    the same corpora.  A random sample of s vectors from a corpus whose
    mass sits in big clusters almost surely contains same-cluster
    pairs (expected same-cluster pairs ≈ s²/2·Σp_c² — birthday bound),
    so the max-off-diagonal-cosine distribution separates twin-heavy
    corpora (fraction → 1) from diffuse ones (max cosine of random
    high-dim vectors ≈ 0) with one s×s gram matrix, ~0.5 s BLAS at
    s=2048, d=1024, paid once at index-declaration time.

    Small clusters the probe misses (size « n/s) are also the ones
    HNSW handles fine — ef_construction beams past them."""
    import numpy as _np

    mat = _np.asarray(mat)
    n = len(mat)
    if n <= 1:
        return 0.0
    rng = _np.random.default_rng(seed)
    k = min(int(sample), n)
    idx = rng.choice(n, size=k, replace=False) if k < n else _np.arange(n)
    sub = _unit_rows(mat[idx].astype(_np.float64))
    g = sub @ sub.T
    _np.fill_diagonal(g, -1.0)
    return float(_np.mean(g.max(axis=1) > cos_threshold))


def route_index_kind(
    mat,
    declared: str = "hnsw",
    pinned: bool = False,
    clustered_cutoff: float = 0.3,
    sample: int = 2048,
) -> tuple[str, float]:
    """Index-declaration-time router: returns (kind, clustered_frac).

    A declared-default "hnsw" (the reference pipeline's HNSW::default,
    pipeline.rs:61-94) is routed to "ivfflat" when the corpus measures
    clustered — the engine-honest answer to the measured HNSW recall
    collapse on twin-heavy corpora (0.47-0.68 recall@10 at 1M×1024 vs
    ivfflat's 1.00 at 6.9 ms).  An EXPLICITLY parameterized hnsw
    (pinned=True: the user set m / ef_construction) is always
    respected, as is any non-hnsw declaration."""
    if declared != "hnsw" or pinned:
        return declared, -1.0
    frac = clustered_fraction(mat, sample=sample)
    return ("ivfflat" if frac >= clustered_cutoff else "hnsw"), frac


def knn_exact(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: (id, score) with score = cosine similarity
    (the reference's `1 - (a <=> b)`), deterministic tiebreak on id.

    Scoring uses the unrolled literal-query expression (codegen) rather
    than the interpreted HOF path — same values, ~5-10× warm-scan."""
    scored = df.select(
        F.col(id_col).alias(id_col),
        cosine_similarity_lit(vec_col, [float(x) for x in query_vec]).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def range_search(
    df: DataFrame,
    query_vec: list[float],
    min_score: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distance-threshold (radius) vector scan — pgvector's range query
    `WHERE embedding <=> q < r` (equivalently cosine >= 1 - r), the
    set-shaped companion to top-k: every row whose cosine similarity
    to the query clears the threshold, no LIMIT.

    The threshold compares the 6-dp ROUNDED score (the repo's
    round-before-boundary idiom) so an oracle ranking on rounded
    values can't disagree at the radius edge.

    Scale shape: one codegen projection + filter, no shuffle, no
    global sort — at 100 TB this is a pure scan whose selectivity the
    threshold controls; unlike top-k it needs no TakeOrdered driver
    merge, so the result can feed a join/agg without collecting."""
    scored = df.select(
        F.col(id_col).alias(id_col),
        F.round(
            cosine_similarity_lit(vec_col, [float(x) for x in query_vec]), 6
        ).alias("score"),
    )
    return scored.filter(F.col("score") >= float(min_score))


def fit_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 20,
    max_sample: int = 65536,
    impl: str = "driver",
):
    """KMeans centroids for IVF partitioning. Returns list[list[float]].

    Centroid quality needs only a representative sample, not the full
    corpus; IVF trainers (pgvector ivfflat index build, FAISS
    `train()`) all fit on a BOUNDED sample regardless of table size.

    impl='driver' (default): ONE distributed pass selects a
    deterministic pseudo-random sample of ≤ max_sample vectors
    (hash-ordered top-k, so layout changes don't shift it), then seeded
    Lloyd runs on the driver in numpy — microseconds per iteration at
    64k×dim vs one Spark job per iteration. At 100 TB the sample bound
    makes index training O(1) while `ivf_assign` stays distributed.

    impl='mllib': the distributed MLlib fit — for when the sample must
    exceed driver memory (rare: 10^6 × 1024-dim float64 is 8 GB).
    """
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    if impl == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = df.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
        return [list(map(float, c)) for c in model.clusterCenters()]

    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(seed)))
        .limit(int(max_sample))
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype="float64")
    return [[float(v) for v in c] for c in _lloyd(x, nlist, seed, max_iter)]


def _sample(x: np.ndarray, cap: int, rng) -> np.ndarray:
    """At most ``cap`` rows of ``x``, drawn without replacement."""
    return x[rng.choice(len(x), cap, replace=False)] if len(x) > cap else x


def _lloyd(x: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations (numpy). Deterministic
    for a fixed sample; standard textbook algorithm."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    if n <= k:
        pad = np.repeat(x[:1] if n else np.zeros((1, 1)), k - n, axis=0)
        return np.concatenate([x, pad]) if n else pad
    # k-means++ seeding. The distance update uses the expansion
    # |x-c|² = |x|² - 2x·c + |c|² so each of the k rounds is one BLAS
    # matvec — the naive ((x-c)**2).sum(axis=1) form is elementwise
    # (non-BLAS, single-core) and measured ~15 min of the 5M×1024
    # annbench build on its own.
    xsq = (x * x).sum(axis=1)
    centers = [x[rng.integers(n)]]
    c0 = centers[0]
    d2 = np.maximum(xsq - 2.0 * (x @ c0) + (c0 * c0).sum(), 0.0)
    for _ in range(1, k):
        p = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        cn = x[rng.choice(n, p=p)]
        centers.append(cn)
        d2 = np.minimum(
            d2, np.maximum(xsq - 2.0 * (x @ cn) + (cn * cn).sum(), 0.0)
        )
    c = np.asarray(centers)
    for _ in range(max_iter):
        dist = (c * c).sum(axis=1) - 2.0 * (x @ c.T)  # + |x|² (argmin-safe)
        lab = dist.argmin(axis=1)
        # per-cluster means via sort + reduceat (one gather + one C
        # reduction) — the per-cluster boolean-mask loop was O(k·n)
        # comparisons in Python and dominated each Lloyd iteration
        order = np.argsort(lab, kind="stable")
        xs = x[order]
        lab_s = lab[order]
        uniq, first = np.unique(lab_s, return_index=True)
        sums = np.add.reduceat(xs, first, axis=0)
        counts = np.diff(np.append(first, n)).astype(x.dtype)
        new_c = c.copy()
        new_c[uniq] = sums / counts[:, None]  # empty clusters keep c[j]
        if np.allclose(new_c, c):
            break
        c = new_c
    return c


def _centroid_arrays(centroids: list[list[float]]):
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    impl: str = "batch",
) -> DataFrame:
    """Assign each vector to its nearest (L2) centroid. Write the
    result partitioned by `centroid_id` to get pgvector-ivfflat-style
    partition pruning on probe.

    impl='batch' (default): Arrow-batched numpy argmin — one BLAS
    matmul per batch (~µs/row). The expression form evaluates
    nlist×dim interpreted HOF ops per row (~0.16 ms/row measured at
    nlist=16, dim=64 — hours/core at 10^8 vectors), so it's kept only
    as the dependency-light parity twin (impl='expr')."""
    if impl == "batch":
        return df.withColumn(out_col, _ivf_assign_batch(centroids)(F.col(vec_col)))
    cents = _centroid_arrays(centroids)
    dists = F.transform(cents, lambda c: distance_l2(F.col(vec_col), c))
    return df.withColumn(out_col, F.array_position(dists, F.array_min(dists)).cast("int") - 1)


def _ivf_assign_batch(centroids: list[list[float]]):
    c = np.asarray(centroids, dtype="float64")  # (k, d)
    cn = (c * c).sum(axis=1)  # |c|^2; |x|^2 is row-constant → argmin-safe

    @F.pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        x = np.asarray(vs.tolist(), dtype="float64")  # (n, d)
        if x.size == 0:
            return pd.Series([], dtype="int32")
        d2 = cn - 2.0 * (x @ c.T)
        return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return _assign


def _centroid_order(centroids, query_vec) -> list[int]:
    """Centroid indices by L2 distance to the query, nearest first, ties
    in index order (``sorted`` is stable): the probe order of the
    Spark-side IVF plans (ServedIndex, knn_ivf, knn_ivf_pq)."""
    import math

    return sorted(
        range(len(centroids)),
        key=lambda i: math.sqrt(
            sum((x - y) ** 2 for x, y in zip(centroids[i], query_vec))
        ),
    )


class ServedIndex:
    """Warm ANN serving state — the analog of a resident ivfflat/HNSW
    index. The reference's 18-31 ms/query number is measured against an
    index already in memory (generating-llm-embeddings doc); a fair
    Spark comparison needs the same: the corpus (optionally IVF-
    assigned) is persisted in executor memory ONCE, and each query is
    then a single job over cached columnar batches.

    With centroids, rows are cached with their centroid_id and the
    probe filter skips non-matching cached batches via in-memory
    partition pruning (batch min/max stats), so a query touches
    ~nprobe/nlist of the cached data. At cluster scale the cache is
    sized by `StorageLevel` and the same object serves every driver
    thread; queries are embarrassingly concurrent (read-only state).
    """

    def __init__(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        centroids: list[list[float]] | None = None,
        pq: tuple[int, int] | None = None,
    ):
        """``pq=(m, k)`` compresses the RESIDENT cache to PQ codes —
        m small ints per vector instead of d floats (the 1024-dim
        float32 corpus that needs 4 TB of executor memory fits in
        ~64 GB at m=16) — at the cost of approximate, L2-ranked
        results (ADC). Exact cosine needs the uncompressed cache."""
        self.vec_col, self.id_col = vec_col, id_col
        self.centroids = centroids
        self.codebooks = None
        cols = [id_col, vec_col]
        if centroids:
            df = ivf_assign(df.select(*cols), centroids, vec_col=vec_col)
            # cluster cached batches by centroid so batch stats prune
            df = df.repartition("centroid_id")
        else:
            df = df.select(*cols)
        if pq is not None:
            m, kcb = pq
            self.codebooks = fit_pq(df, vec_col=vec_col, m=m, k=kcb)
            df = pq_encode(df, self.codebooks, vec_col=vec_col).drop(vec_col)
        self.df = df.persist()
        self.df.count()  # materialize the cache eagerly

    def search(self, query_vec: list[float], k: int = 10, nprobe: int = 4) -> DataFrame:
        df = self.df
        if self.centroids:
            order = _centroid_order(self.centroids, query_vec)
            df = df.filter(F.col("centroid_id").isin(order[:nprobe]))
        if self.codebooks is not None:
            return pq_topk(
                df, self.codebooks, query_vec, k=k,
                id_col=self.id_col,
            )
        return knn_exact(
            df, query_vec, k=k, vec_col=self.vec_col, id_col=self.id_col
        )

    def close(self) -> None:
        self.df.unpersist()


def knn_ivf(
    df_assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_col: str = "centroid_id",
) -> DataFrame:
    """IVF probe: rank centroids by distance to the query on the driver
    (tiny), scan only the nprobe nearest inverted lists, exact re-rank
    inside them. With `centroid_id`-partitioned storage the non-probed
    partitions are pruned at the source."""
    probe = _centroid_order(centroids, query_vec)[:nprobe]
    return knn_exact(
        df_assigned.filter(F.col(centroid_col).isin(probe)),
        query_vec,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )


# ---------------------------------------------------------------------------
# Binary quantization + Hamming search (pgvector `bit(n)` / binary-quantized
# embedding analog: sign-quantize each dimension to one bit, search with
# hamming distance — 32× smaller vectors, XOR+popcount scoring)
# ---------------------------------------------------------------------------

_BITS_PER_WORD = 32  # 32 bits per bigint word: no sign-bit mismatch between
#                      Spark's signed long and the oracle's arithmetic


def binary_signature(vec_col, dim: int, impl: str = "batch"):
    """Sign-quantize an array<float> column into array<bigint> packed
    bit words (bit i of word w = 1 iff vec[w*32+i] > 0).

    impl='batch' (default): Arrow-batched numpy packbits — vectorized,
    the 100 TB path. impl='expr': pure codegen sum-of-CASE expression —
    the dependency-light, DuckDB-oracle-matching twin (identical values
    by construction; parity is tested). Word layout is little-endian so
    both impls and the oracle agree bit-for-bit.
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n_words = (dim + _BITS_PER_WORD - 1) // _BITS_PER_WORD
    if impl == "expr":
        words = []
        for w in range(n_words):
            term = F.lit(0).cast("bigint")
            for i in range(min(_BITS_PER_WORD, dim - w * _BITS_PER_WORD)):
                term = term + F.when(
                    c[w * _BITS_PER_WORD + i] > 0, F.lit(1 << i)
                ).otherwise(F.lit(0)).cast("bigint")
            words.append(term)
        return F.array(*words)

    @F.pandas_udf("array<bigint>")
    def _sig(vs: pd.Series) -> pd.Series:
        out = []
        pad = n_words * _BITS_PER_WORD
        for v in vs:
            bits = np.zeros(pad, dtype=np.uint8)
            a = np.asarray(v, dtype="float64")
            bits[: a.shape[0]] = a > 0
            words = np.packbits(bits, bitorder="little").view("<u4")
            out.append([int(x) for x in words])
        return pd.Series(out)

    return _sig(c)


def binary_signature_py(vec: list[float]) -> list[int]:
    """Driver-side signature of a query vector (same layout)."""
    n_words = (len(vec) + _BITS_PER_WORD - 1) // _BITS_PER_WORD
    words = [0] * n_words
    for j, x in enumerate(vec):
        if x > 0:
            words[j // _BITS_PER_WORD] |= 1 << (j % _BITS_PER_WORD)
    return words


def hamming_distance_lit(sig_col, query_sig: list[int]):
    """Hamming distance between a signature column and a literal query
    signature: Σ_w bit_count(sig[w] XOR q_w). Pure codegen (the word
    count is known at plan time — no HOF lambda)."""
    c = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    d = None
    for w, q in enumerate(query_sig):
        term = F.bit_count(c[w].bitwiseXOR(F.lit(int(q)).cast("bigint")))
        d = term if d is None else d + term
    return d.cast("bigint")


def jaccard_distance_lit(sig_col, query_sig: list[int]):
    """Jaccard distance between bit signatures (pgvector's `<%>` over
    `bit(n)`, added alongside `<~>` in 0.7): 1 − |A∧B|/|A∨B| via
    codegen popcounts. NULL when both signatures are all-zero (the
    undefined 0/0 case — pgvector yields NaN there)."""
    c = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    inter = None
    union = None
    for w, q in enumerate(query_sig):
        lit = F.lit(int(q)).cast("bigint")
        i_term = F.bit_count(c[w].bitwiseAND(lit))
        u_term = F.bit_count(c[w].bitwiseOR(lit))
        inter = i_term if inter is None else inter + i_term
        union = u_term if union is None else union + u_term
    return F.when(
        union > 0,
        F.lit(1.0) - inter.cast("double") / union.cast("double"),
    )


def jaccard_topk(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    impl: str = "batch",
) -> DataFrame:
    """Bit-signature Jaccard top-k (`ORDER BY bq <%> $1 LIMIT k`):
    same TakeOrdered scan shape as hamming_topk, all-zero rows
    excluded (undefined distance), ascending distance with id
    tie-break."""
    qsig = binary_signature_py([float(x) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias(id_col),
        jaccard_distance_lit(
            binary_signature(vec_col, dim, impl=impl), qsig
        ).alias("jaccard"),
    ).filter(F.col("jaccard").isNotNull())
    return scored.orderBy(F.col("jaccard").asc(), F.col(id_col)).limit(k)


def hamming_topk(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    impl: str = "batch",
) -> DataFrame:
    """Binary-quantized ANN: sign-signature the corpus, XOR+popcount
    against the query signature, take the k smallest distances
    (deterministic id tiebreak). Same TakeOrderedAndProject plan shape
    as knn_exact — one scan, per-partition partial top-k, no shuffle of
    the table; the scored payload is 32× narrower than the float
    vectors. The standard re-rank pattern runs exact cosine on this
    candidate set afterwards."""
    qsig = binary_signature_py([float(x) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias(id_col),
        hamming_distance_lit(
            binary_signature(vec_col, dim, impl=impl), qsig
        ).alias("hamming"),
    )
    return scored.orderBy(F.col("hamming").asc(), F.col(id_col)).limit(k)


def knn_join(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched ANN: top-k corpus neighbors for EVERY query in one scan
    (retrieval batch inference / eval-set building). Returns
    (query_id, vec_id, score) with score = cosine similarity.

    Scale shape: the query batch is driver-bounded (it ships inside the
    mapInPandas closure like a broadcast); each corpus partition scores
    all queries against its rows as ONE BLAS matmul and keeps only its
    local top-k per query (argpartition), so the shuffle that follows
    carries O(partitions × |queries| × k) rows — never O(n × q). A
    window per query_id then reduces local winners to the global top-k.
    One scan, one tiny shuffle, for any number of queries."""
    q_ids = [int(i) for i, _ in queries]
    qu = _unit_rows(np.asarray([v for _, v in queries], dtype="float64"))
    kk = int(k)

    def _local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype="float64")
            ids = pdf[id_col].to_numpy()
            with np.errstate(invalid="ignore", divide="ignore"):
                xn = np.linalg.norm(x, axis=1)
                xn[xn == 0] = 1.0
                sims = (x / xn[:, None]) @ qu.T  # (n, q)
            top = min(kk, sims.shape[0])
            # argpartition per query column: local winners only
            part = np.argpartition(-sims, top - 1, axis=0)[:top]  # (top, q)
            out_q, out_id, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                rows = part[:, j]
                out_q.extend([qid] * len(rows))
                out_id.extend(ids[rows])
                out_s.extend(sims[rows, j])
            yield pd.DataFrame(
                {"query_id": out_q, id_col: out_id, "score": out_s}
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        _local_topk, f"query_id long, {id_col} long, score double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kk)
        .drop("__rn")
    )


def hard_negative_join(
    corpus: DataFrame,
    anchors: list[tuple[int, list[float], object]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor (id, vector, label), the top-k most-similar corpus rows
    whose label DIFFERS from the anchor's — the highest-loss negatives
    for a triplet/InfoNCE batch. Returns (anchor_id, vec_id, score).

    Scale shape = `knn_join`'s: anchors are driver-bounded and ship in
    the mapInPandas closure; each corpus partition scores all anchors
    as ONE BLAS matmul, masks same-label rows (and the anchor row
    itself) with −inf BEFORE the local top-k, and only
    O(partitions × |anchors| × k) winner rows reach the one window
    shuffle. A label-mismatch θ-join through the optimizer would be a
    BroadcastNestedLoopJoin — the mask keeps the plan a scan.
    """
    a_ids = [int(i) for i, _, _ in anchors]
    a_labels = [lab for _, _, lab in anchors]
    au = _unit_rows(np.asarray([v for _, v, _ in anchors], dtype="float64"))
    kk = int(k)

    def _local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype="float64")
            ids = pdf[id_col].to_numpy()
            labs = pdf[label_col].to_numpy()
            with np.errstate(invalid="ignore", divide="ignore"):
                xn = np.linalg.norm(x, axis=1)
                xn[xn == 0] = 1.0
                sims = (x / xn[:, None]) @ au.T  # (n, a)
            out_a, out_id, out_s = [], [], []
            for j, aid in enumerate(a_ids):
                col = sims[:, j].copy()
                col[labs == a_labels[j]] = -np.inf  # positives masked
                col[ids == aid] = -np.inf  # the anchor itself
                valid = np.flatnonzero(np.isfinite(col))
                if not valid.size:
                    continue
                top = min(kk, valid.size)
                rows = valid[np.argpartition(-col[valid], top - 1)[:top]]
                out_a.extend([aid] * len(rows))
                out_id.extend(ids[rows])
                out_s.extend(col[rows])
            yield pd.DataFrame(
                {"anchor_id": out_a, id_col: out_id, "score": out_s}
            )

    local = corpus.select(id_col, vec_col, label_col).mapInPandas(
        _local_topk, f"anchor_id long, {id_col} long, score double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= kk)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression leg of the ANN
# triad (IVF prunes the scan, binary signatures cheapen the metric, PQ
# shrinks the resident index: m codes/vector instead of d floats —
# 16-dim float32 → 4 bytes at m=4, a 16× cut; FAISS's IndexPQ shape).
# ---------------------------------------------------------------------------

def fit_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    max_sample: int = 65536,
) -> list:
    """Per-subspace KMeans codebooks: the vector splits into ``m``
    contiguous blocks, each block gets ``k`` centroids fit on a bounded
    deterministic sample (same O(1)-vs-table-size training contract as
    `fit_ivf_centroids`). Returns list[m] of (k, d/m) float64 arrays.

    ``df`` may be a prebuilt (n, d) numpy matrix instead of a DataFrame
    (the ResidentANN tuple-input precedent): the caller already holds
    the sample — e.g. it also needed the same rows for a query vector —
    and skipping the second Spark job halves small-corpus fit cost.
    The caller owns sampling determinism in that form; a matrix larger
    than max_sample is subsampled with the same seeded rng."""
    if isinstance(df, np.ndarray):
        x = np.asarray(df, dtype="float64")
        x = _sample(x, int(max_sample), np.random.default_rng(seed))
    else:
        pdf = (
            df.select(F.col(vec_col).cast("array<double>").alias("v"))
            .orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(seed)))
            .limit(int(max_sample))
            .toPandas()  # Arrow transfer, not py4j row collect
        )
        x = np.asarray(pdf["v"].tolist(), dtype="float64")
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    return [
        _lloyd(x[:, j * sub : (j + 1) * sub], k, seed + j, 20) for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Assign each subvector its nearest codebook centroid (argmin L2,
    first-wins on ties). Arrow-batched numpy — one ||x−c||² matrix per
    subspace per batch, no per-row Python."""
    from pyspark.sql import types as T

    cb = [np.asarray(c, dtype="float64") for c in codebooks]
    sub = cb[0].shape[1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(vs: pd.Series) -> pd.Series:
        x = np.asarray(vs.tolist(), dtype="float64")
        if x.size == 0:  # empty Arrow batch (same guard as ivf_assign)
            return pd.Series([], dtype=object)
        codes = np.empty((x.shape[0], len(cb)), dtype="int32")
        for j, c in enumerate(cb):
            blk = x[:, j * sub : (j + 1) * sub]
            d2 = ((blk[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(code_col, _enc(F.col(vec_col).cast("array<double>")))


def pq_topk(
    encoded: DataFrame,
    codebooks: list,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds
    one (m × k_codebook) table of squared sub-distances, every
    candidate's distance is m table lookups + a sum — no original
    vectors touched. Returns (id_col, dist = √Σ) ascending,
    deterministic id tiebreak, TakeOrdered plan (no global sort)."""
    from pyspark.sql import types as T

    cb = [np.asarray(c, dtype="float64") for c in codebooks]
    sub = cb[0].shape[1]
    q = np.asarray(query_vec, dtype="float64")
    table = np.stack(
        [((c - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1) for j, c in enumerate(cb)]
    )  # (m, k_cb)

    @F.pandas_udf(T.DoubleType())
    def _adc(codes: pd.Series) -> pd.Series:
        cc = np.asarray(codes.tolist(), dtype="int64")  # (n, m)
        if cc.size == 0:  # empty Arrow batch
            return pd.Series([], dtype="float64")
        d2 = table[np.arange(cc.shape[1])[None, :], cc].sum(axis=1)
        return pd.Series(np.sqrt(d2))

    return (
        encoded.select(id_col, _adc(F.col(code_col)).alias("dist"))
        .orderBy(F.asc("dist"), F.asc(id_col))
        .limit(k)
    )


def knn_ivf_pq(
    df: DataFrame,
    centroids: list,
    codebooks: list,
    query_vec: list,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ: the FAISS flagship composition — coarse centroids prune
    the scan to ``nprobe`` cells, PQ codes score the survivors by ADC.
    At 100 TB the store is written partitioned by centroid_id with only
    (id, pq_code) resident (operators.partitioning.write_ivf_store for
    the layout; 16 bytes/vector instead of 4·d), originals stay on cold
    storage for optional exact re-ranking of the final page.

    ``df`` may already carry ``code_col`` (pre-encoded store — the
    production path); otherwise codes are computed in-flight.
    """
    if code_col not in df.columns:
        df = pq_encode(df, codebooks, vec_col=vec_col, code_col=code_col)
    assigned = (
        df if "centroid_id" in df.columns else ivf_assign(df, centroids, vec_col=vec_col)
    )
    order = _centroid_order(centroids, query_vec)
    probed = assigned.filter(F.col("centroid_id").isin(order[:nprobe]))
    return pq_topk(probed, codebooks, query_vec, k=k, id_col=id_col, code_col=code_col)


# ---------------------------------------------------------------------------
# Resident serving tiers: Spark builds, serving is process-local numpy.
# `_ResidentTier` is the skeleton they share; ResidentANN and ResidentPQ
# also share the IVF coarse stage (`_ivf_fit`, `_probe_rounds`).
# ---------------------------------------------------------------------------


def _fetch_ids_mat(df, id_col: str, vec_col: str, dtype=np.float32,
                   stream_fetch: bool = False):
    """A tier's (ids, matrix): a prebuilt (ids, mat) tuple (e.g. an
    already-resident shard) as is, or a DataFrame moved through Arrow
    ONCE, streaming partitions if the collect trips maxResultSize.
    ``stream_fetch`` streams from the start: at 5M x 1024 the one-shot
    Arrow collect materializes ~40 GB of float64 batches inside the JVM
    before maxResultSize can even trip (task-side heap OOM, measured)."""
    if isinstance(df, tuple):
        ids, mat = df
        return np.asarray(ids), np.asarray(mat, dtype=dtype)
    sel = df.select(id_col, vec_col)
    if not stream_fetch:
        try:
            pdf = sel.toPandas()
            ids, vecs = pdf[id_col].to_numpy(), pdf[vec_col]
        except Exception as e:  # maxResultSize: stream partitions
            if "maxResultSize" not in str(e):
                raise
            stream_fetch = True
    if stream_fetch:
        rows = sel.toLocalIterator(prefetchPartitions=True)
        pairs = [(r[0], np.asarray(r[1], dtype=dtype)) for r in rows]
        ids, vecs = np.asarray([i for i, _ in pairs]), [v for _, v in pairs]
    if not len(vecs):
        return ids, np.zeros((0, 0), dtype=dtype)
    return ids, np.asarray([np.asarray(v, dtype=dtype) for v in vecs])


def _ivf_fit(unit: np.ndarray, nlist: int, seed: int):
    """IVF coarse stage over unit rows: Lloyd on a bounded sample (the
    FAISS/ivfflat design — a full-corpus Lloyd dominates the build far
    past where the sample stops improving centroids), then a chunked
    assignment of every row (the n×nlist block never materializes).
    Returns (centroids, order, assign, best, offsets): ``order`` sorts
    rows by centroid (stable) so cell c is rows offsets[c]:offsets[c+1];
    ``assign`` and ``best`` (each row's centroid score) are in that
    order."""
    fit = _sample(unit, max(nlist * 64, 16384), np.random.default_rng(seed))
    cent = _lloyd(fit.astype(np.float64), nlist, seed, 20)
    centroids = _unit_rows(cent).astype(np.float32)
    assign = np.empty(len(unit), dtype=np.int64)
    best = np.empty(len(unit), dtype=np.float32)
    step = max(1, 2**24 // nlist)
    for lo in range(0, len(unit), step):
        blk = unit[lo : lo + step] @ centroids.T
        assign[lo : lo + step] = np.argmax(blk, axis=1)
        best[lo : lo + step] = np.max(blk, axis=1)
    order = np.argsort(assign, kind="stable")
    assign = assign[order]
    offsets = np.searchsorted(assign, np.arange(nlist + 1))
    return centroids, order, assign, best[order], offsets


def _probe_rounds(cent_scores, offsets, nprobe: int, allowed):
    """IVF probe loop: cells in centroid-score order, in rounds whose
    batch doubles (iterative-scan growth); the caller scores each round
    and decides when to stop. Yields (probe cells, runs) per round; a
    run is (sel, rows) — ``sel`` indexes the row arrays, ``rows`` are
    the row positions (runs ``allowed`` empties are dropped). Cells are
    contiguous, so a round merges them into maximal runs and an
    unfiltered run is a VIEW: a fancy-index gather copied nprobe/nlist
    of the corpus per query (~640 MB at 5M x 1024, nprobe=64/2048 —
    measured 503 ms, slower than the exact full matvec)."""
    order = np.argsort(-cent_scores)
    pos, batch = 0, int(nprobe)
    while pos < len(order):
        probe = np.sort(order[pos : pos + batch])
        pos += batch
        batch *= 2
        spans: list[list[int]] = []
        for c in probe:
            lo, hi = int(offsets[c]), int(offsets[c + 1])
            if lo == hi:
                continue
            if spans and spans[-1][1] == lo:
                spans[-1][1] = hi
            else:
                spans.append([lo, hi])
        if allowed is None:
            yield probe, [(slice(lo, hi), np.arange(lo, hi)) for lo, hi in spans]
        else:
            subs = [lo + np.flatnonzero(allowed[lo:hi]) for lo, hi in spans]
            yield probe, [(rows, rows) for rows in subs if rows.size]


def _save_resident(path, kind, ids, mat, meta, extra):
    """Columnar store for a resident index: one parquet file per array
    (flattened; dtype, shape and file name in meta.json) + the scalar
    config. Arrow only — serving hosts load without a SparkSession.

    Crash-safe over an existing index: the arrays go to file names
    unique to this save, meta.json — which names them — is published
    last by temp file + ``os.replace`` (the versioned store's
    ``_set_current`` idiom), and only then are the old arrays removed.
    A reader sees wholly the old or wholly the new index; a failed save
    removes what it wrote."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    has_old = os.path.exists(os.path.join(path, "meta.json"))
    old = set(_array_files(_read_head(path)).values()) if has_old else set()
    tag = uuid.uuid4().hex[:12]
    tmp = f"meta.json.{tag}.tmp"
    shapes, written = {}, {tmp}
    try:
        for name, arr in {"ids": ids, "mat": mat, **extra}.items():
            a = np.ascontiguousarray(arr)
            if a.dtype.kind in ("O", "U", "S"):  # e.g. string ids
                col, dtype = pa.array([str(x) for x in a.reshape(-1)]), "str"
            else:
                col, dtype = pa.array(a.reshape(-1)), str(a.dtype)
            fname = f"{name}.{tag}.parquet"
            written.add(fname)
            pq.write_table(pa.table({name: col}), os.path.join(path, fname))
            shapes[name] = {"dtype": dtype, "shape": list(a.shape), "file": fname}
        with open(os.path.join(path, tmp), "w") as f:
            json.dump({"kind": kind, "meta": meta, "arrays": shapes}, f)
        os.replace(os.path.join(path, tmp), os.path.join(path, "meta.json"))
    except BaseException:
        for fname in written & set(os.listdir(path)):
            os.remove(os.path.join(path, fname))
        raise
    # the old meta's arrays, and orphans of saves killed mid-write
    for fname in set(os.listdir(path)) - written:
        if fname in old or re.fullmatch(r"\w+\.[0-9a-f]{12}\.parquet", fname):
            os.remove(os.path.join(path, fname))


def _read_head(path) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def _array_files(head) -> dict:
    """Array name -> file name: meta.json's ``file``, or the fixed
    ``<name>.parquet`` of indexes saved before saves were crash-safe."""
    return {
        name: spec.get("file", f"{name}.parquet")
        for name, spec in head["arrays"].items()
    }


def _load_resident(path, expect):
    import pyarrow.parquet as pq

    head = _read_head(path)
    if head["kind"] not in expect:
        raise ValueError(
            f"index at {path} is kind={head['kind']!r}, expected {expect}"
        )
    arrays = {}
    for name, fname in _array_files(head).items():
        spec = head["arrays"][name]
        col = pq.read_table(os.path.join(path, fname))[name]
        if spec["dtype"] == "str":
            a = np.asarray(col.to_pylist(), dtype=object)
        else:
            a = col.to_numpy(zero_copy_only=False).astype(spec["dtype"])
        arrays[name] = a.reshape(spec["shape"])
    return head["meta"], arrays


class _ResidentTier:
    """Skeleton of the driver-resident serving tiers, where the served-
    index contract lives: ids and row order (``ids[i]`` names row i of
    every row array, in whatever order the build left them), the id→row
    mask, the selection orders and durability. save/load are driven by
    the class declarations: ``ids``, ``mat`` (unit float rows), the
    ``_META`` scalars and every non-None ``_ARRAYS`` array, saved under
    the tier's kind; ``_META_DEFAULTS`` fill keys older indexes lack and
    ``_loaded`` rebuilds derived state."""

    _KINDS: tuple = ()  # meta.json kinds load() accepts; save writes [0]
    _META: tuple = ()
    _META_DEFAULTS: dict = {}
    _ARRAYS: tuple = ()

    def row_mask(self, allowed_ids) -> np.ndarray:
        """Boolean ``allowed=`` mask in THIS index's row order for an id
        collection (IVF builds cluster rows by centroid, so caller-order
        masks don't align) — the served filter path's bridge."""
        if not isinstance(allowed_ids, np.ndarray):
            allowed_ids = np.asarray(list(allowed_ids))
        return np.isin(self.ids, allowed_ids)

    @staticmethod
    def _top_k(scores: np.ndarray, ids: np.ndarray, k: int) -> list[tuple]:
        """(id, score) of the k best scores, descending: argpartition,
        then a stable sort of the k winners (the exact-scan order of
        ResidentANN and ResidentHNSW)."""
        if not len(scores):
            return []
        kk = min(k, len(scores))
        top = np.argpartition(-scores, kk - 1)[:kk]
        top = top[np.argsort(-scores[top], kind="stable")]
        return list(zip(ids[top].tolist(), scores[top].tolist()))

    def _kind(self) -> str:
        return self._KINDS[0]

    def _state(self) -> tuple[dict, dict]:
        """(meta scalars, arrays) saved beside ids and mat."""
        meta = {key: getattr(self, key) for key in self._META}
        arrays = {a: getattr(self, a) for a in self._ARRAYS}
        return meta, {a: v for a, v in arrays.items() if v is not None}

    def _loaded(self, meta: dict, arrays: dict) -> None:
        """Rebuild derived state after ``load`` (hook)."""

    def save(self, path: str) -> None:
        """Persist to a parquet directory (Arrow, no Spark needed): a
        pgvector index lives in Postgres pages and survives restarts, so
        the serving tier has the same build-once / reload-forever
        contract. Saving over an existing index is crash-safe."""
        meta, arrays = self._state()
        mat = self.mat if self.mat is not None else np.zeros((0, 0), np.float32)
        _save_resident(path, self._kind(), self.ids, mat, meta, arrays)

    @classmethod
    def load(cls, path: str) -> Self:
        """Reload a ``save()``d index: O(bytes) columnar read, no refit,
        reassign or graph rebuild; rows come back in saved order. A path
        holding another kind of index raises ValueError."""
        return cls._load(path)

    @classmethod
    def _load(cls, path: str, floats: bool = True) -> Self:
        meta, arrays = _load_resident(path, expect=cls._KINDS)
        meta = {**cls._META_DEFAULTS, **meta}
        idx = cls.__new__(cls)
        idx.ids = arrays["ids"]
        idx.mat = arrays["mat"] if floats and meta.get("has_floats", True) else None
        for key in cls._META:
            setattr(idx, key, meta[key])
        for name in cls._ARRAYS:
            setattr(idx, name, arrays.get(name))
        idx._loaded(meta, arrays)
        return idx


class ResidentANN(_ResidentTier):
    """Driver-resident ANN serving tier — the actual architectural
    analog of the reference's number: pgvector's 18-31 ms/query is
    measured against an ivfflat index resident in Postgres shared
    memory, not against a per-query table scan. The matching Spark
    design splits roles: Spark BUILDS/refreshes the index (scan,
    normalize, optional IVF assignment — all distributed), and serving
    happens from process-local numpy state with one BLAS matvec +
    argpartition per query — no Spark job, no scheduler on the hot
    path.

    Memory honesty at scale: exact float32 state is d×4 B/vector
    (5M×1024 ≈ 20 GB — fits one serving host; 100 TB-scale corpora
    shard by IVF centroid across serving processes, each holding its
    partitions, exactly how a distributed pgvector deployment shards).
    ``nlist``>0 adds IVF pruning: queries scan ~nprobe/nlist of rows.

    The one-time ``toPandas`` build hop moves O(corpus) bytes through
    Arrow ONCE — the same bytes any index build reads; it is not a
    per-query driver collect.
    """

    _KINDS = ("exact", "ivf")
    _META = ("nprobe",)
    # pre-r8 saved indexes lack cell_radius: probe_scan returns None
    # and callers fall back to the shortlist-min bound
    _ARRAYS = ("centroids", "assign", "offsets", "cell_radius")

    def __init__(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        nlist: int = 0,
        nprobe: int = 4,
        seed: int = 42,
        stream_fetch: bool = False,
    ):
        self.ids, mat = _fetch_ids_mat(df, id_col, vec_col, stream_fetch=stream_fetch)
        self.mat = _unit_rows(mat)  # cosine = dot on unit vectors
        self.nprobe = nprobe
        self.centroids = self.assign = self.offsets = self.cell_radius = None
        if nlist and len(self.mat):  # no cells to fit on an empty corpus
            self.centroids, order, self.assign, best, self.offsets = _ivf_fit(
                self.mat, nlist, seed
            )
            self.ids, self.mat = self.ids[order], self.mat[order]
            # Per-cell covering radius R_c = max ||x - c|| over members
            # (unit rows and unit centroid: ||x-c||^2 = 2 - 2 x·c, and
            # x·c is the assignment score already computed). Gives the
            # UNCONDITIONAL unscanned-cell bound the candidate-hybrid
            # proof uses: any chunk in an unprobed cell scores
            # q·x <= q·c + R_c (Cauchy-Schwarz on the residual) — a
            # geometric certificate, not a router heuristic. Empty
            # cells get -2 so their bound (q·c - 2 <= -1) never binds;
            # 1e-4 slack absorbs fp32 rounding in x·c and q·c.
            cells = np.flatnonzero(np.diff(self.offsets))  # non-empty
            worst = np.minimum.reduceat(best, self.offsets[cells])
            self.cell_radius = np.full(nlist, -2.0, dtype=np.float32)
            self.cell_radius[cells] = np.sqrt(
                2.0 * np.maximum(0.0, 1.0 - worst.astype(np.float64))
            ) + 1e-4

    def _kind(self) -> str:
        return "exact" if self.centroids is None else "ivf"

    def _ivf_probe(self, q, k, allowed, nprobe):
        """Shared IVF probing loop: probe cells in centroid-score
        order, score every (allowed) chunk in the probed cells.
        Returns (score_parts, row_parts, probed_mask, cent_scores) —
        search() consumes the first two; probe_scan() additionally
        uses the probe geometry for the unconditional unscanned-cell
        bound."""
        cent_scores = self.centroids @ q
        probed = np.zeros(len(self.centroids), dtype=bool)
        score_parts: list[np.ndarray] = []
        row_parts: list[np.ndarray] = []
        found = 0
        for probe, runs in _probe_rounds(
            cent_scores, self.offsets, nprobe or self.nprobe, allowed
        ):
            probed[probe] = True
            for sel, rows in runs:
                score_parts.append(self.mat[sel] @ q)
                row_parts.append(rows)
                if allowed is not None:
                    found += rows.size
            # Unfiltered searches take one probe round — but ONLY
            # if it scored anything: Lloyd leaves empty cells, and
            # a query whose top-nprobe centroids are all empty
            # would return zero results on a non-empty index
            # (surfaced when the bucketed table layout changed the
            # fit-sample row order). Keep expanding until some
            # candidates exist, like the filtered iterative scan.
            if (allowed is None and score_parts) or found >= k:
                break
        return score_parts, row_parts, probed, cent_scores

    def probe_scan(self, query_vec, k: int = 10, allowed=None,
                   nprobe: int | None = None):
        """Candidate-proof scan (VERDICT r7 next #5): every f32 score
        the probe round ALREADY computed, plus a geometric certificate
        for everything it didn't.

        Returns (rows, scores, unscanned_bound) — `rows` are THIS
        index's internal row indices for every scored chunk, `scores`
        their f32 cosines, and `unscanned_bound` the maximum possible
        cosine of any chunk in an UNPROBED cell:
        max_c∉probed (q·c + R_c), with R_c the cell's covering radius
        (build-time). Unlike the shortlist-min heuristic this bound is
        UNCONDITIONAL (Cauchy-Schwarz, not router trust), and unlike
        the shortlist it exposes the scored-but-not-returned chunks,
        so the hybrid's unseen-doc bound can skip the dense score band
        the top-n_cand shortlist truncates into.

        None when the index has no IVF geometry (exact/HNSW, or a
        pre-r8 saved index without cell_radius)."""
        if self.centroids is None or self.cell_radius is None:
            return None
        score_parts, row_parts, probed, cs = self._ivf_probe(
            _unit_query(query_vec), k, allowed, nprobe
        )
        scores = np.concatenate([np.empty(0, np.float32), *score_parts])
        rows = np.concatenate([np.empty(0, np.int64), *row_parts])
        un = ~probed
        bound = (
            float(np.max(cs[un] + self.cell_radius[un]))
            if un.any() else float("-inf")
        )
        return rows, scores, bound

    def search(
        self, query_vec, k: int = 10, allowed=None,
        nprobe: int | None = None,
    ) -> list[tuple]:
        """Top-k (id, cosine) — pure numpy, ~µs-to-ms per call.

        ``allowed`` (optional boolean mask over this index's rows — see
        ``row_mask``) restricts results: the IVF path probes lists in
        centroid-score order and KEEPS EXPANDING (doubling the probe
        batch) until k allowed matches surface or the lists run out —
        the pgvector 0.8 iterative-index-scan discipline, so a filter
        never silently under-fills the result the way fixed-nprobe
        filtered ANN does. Unfiltered searches take exactly the
        pre-existing single-round path.

        ``nprobe`` overrides the build-time probe count for THIS call —
        the adaptive-overfetch hook (candidate-bounded hybrid escalates
        probes when its shortlist boundary can't prove top-k safety)."""
        q = _unit_query(query_vec)
        if self.centroids is not None:
            score_parts, row_parts, _, _ = self._ivf_probe(q, k, allowed, nprobe)
            if not score_parts:
                return []
            rows = np.concatenate(row_parts)
            return self._top_k(np.concatenate(score_parts), self.ids[rows], k)
        if allowed is None:
            return self._top_k(self.mat @ q, self.ids, k)
        idxs = np.flatnonzero(allowed)
        # mostly-permissive filter: full view matvec beats the gather
        # copy; selective filter: score only its rows
        if idxs.size * 2 > len(self.mat):
            return self._top_k((self.mat @ q)[idxs], self.ids[idxs], k)
        return self._top_k(self.mat[idxs] @ q, self.ids[idxs], k)

    def search_df(self, spark: SparkSession, query_vec, k: int = 10) -> DataFrame:
        """DataFrame wrapper for API parity with knn_exact."""
        from pyspark.sql import types as T

        rows = [(int(i), float(s)) for i, s in self.search(query_vec, k)]
        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        return spark.createDataFrame(rows, schema)


class ResidentHNSW(_ResidentTier):
    """Driver-resident HNSW graph index — the analog of the reference's
    DEFAULT ANN index (pgvector HNSW `vector_cosine_ops` with per-field
    m / ef_construction, SURVEY §4 / pipeline.rs:61-94). Same role
    split as ResidentANN: Spark builds/normalizes the corpus
    distributed, the graph lives in serving-process memory, queries
    are beam searches over ~ef·log(n) candidates — sublinear where
    IVF probing is linear in the probed lists.

    Implementation is the standard multi-layer construction (geometric
    level assignment with mL = 1/ln(M), greedy descent above the
    node's level, ef_construction beam + M-pruned bidirectional links
    below), over NUMPY-NATIVE adjacency: level 0 — the hot level that
    holds every node — is a fixed-width int32 neighbor matrix
    (n, 2M) + count vector, visited tracking is an O(1)-reset stamp
    array, and frontier distances are batch matvecs. No Python
    per-node containers on the hot path.

    PARALLEL BUILD (r3 VERDICT #1): construction batches after a
    sequential warm-up are planned in forked worker processes — each
    worker computes the insertion's neighbor selections against a
    copy-on-write snapshot of the graph (reads only: fork shares the
    matrix and adjacency pages), the parent applies the plans
    (forward links + reverse-link pruning) sequentially. Intra-batch
    nodes don't see each other (they link against the snapshot), the
    same relaxation every parallel HNSW builder makes (hnswlib's
    insert locks serialize exactly the apply step); recall is pinned
    by tests and tools/annbench.py. One graph comes out — the serve
    path and incremental `add` are IDENTICAL to the sequential build.

    Memory: graph adds ~2M·4 B/node at level 0 plus ~n/(M-1) dict
    entries for the upper levels — at 5M×1024 with M=16 that's ~0.7 GB
    over the 20 GB matrix, the same budget pgvector's HNSW pays.
    Sharding story is identical to ResidentANN (partition corpus
    across serving processes).
    """

    _KINDS = ("hnsw",)
    _META = ("m", "keep_pruned", "shrink", "entry", "max_level")
    _META_DEFAULTS = {"shrink": "distance"}  # pre-r5 graphs
    _ARRAYS = ("levels", "nbr0", "cnt0")

    def __init__(
        self,
        df_or_mat,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        m: int = 16,
        ef_construction: int = 64,
        seed: int = 42,
        workers: int | None = None,
        warm: int | None = None,
        keep_pruned: bool = False,
        shrink: str = "heuristic",
    ):
        self.keep_pruned = keep_pruned
        if shrink not in ("heuristic", "distance"):
            raise ValueError(f"unknown shrink policy {shrink!r}")
        self.shrink = shrink
        self.ids, mat = _fetch_ids_mat(df_or_mat, id_col, vec_col)
        self.mat = np.ascontiguousarray(_unit_rows(mat))
        self.m = m
        self.ef_c = max(ef_construction, m + 1)
        self._r = 2 * m  # reverse-list cap
        n = len(self.mat)
        rng = np.random.default_rng(seed)
        ml = 1.0 / np.log(m)
        self.levels = np.minimum(
            (-np.log(rng.uniform(1e-12, 1.0, n)) * ml).astype(np.int32), 32
        )
        self.max_level = int(self.levels.max()) if n else 0
        # level 0: every node — fixed-width int32 rows; levels >= 1:
        # only ~n/(M-1) nodes live there — dict of node -> list
        self.nbr0 = np.zeros((n, self._r), dtype=np.int32)
        self.cnt0 = np.zeros(n, dtype=np.int32)
        self.upper: list = [None] + [dict() for _ in range(self.max_level)]
        self._seen = np.zeros(n, dtype=np.int64)
        self._stamp = 0
        self.entry = 0
        if n == 0:
            return
        order = np.argsort(-self.levels, kind="stable")  # top level first
        self.entry = int(order[0])
        for lvl in range(1, int(self.levels[self.entry]) + 1):
            self.upper[lvl][self.entry] = []
        n_workers = self._resolve_workers(workers, n)
        if warm is None:
            warm = n if n_workers <= 1 else min(n, max(8192, 4 * self.ef_c))
        warm = max(1, min(n, warm))
        for pos in range(1, warm):
            node = int(order[pos])
            self._apply(node, self._plan(self.mat[node], int(self.levels[node])))
        if warm < n:
            self._parallel_build(order, warm, n_workers)
        self._repair_connectivity()

    @staticmethod
    def _resolve_workers(workers: int | None, n: int) -> int:
        import multiprocessing as mp

        if "fork" not in mp.get_all_start_methods():
            return 1
        if workers is not None:
            return max(1, int(workers))
        # auto: parallelize only when the insert loop is the bottleneck
        if n < 50_000:
            return 1
        return min(32, os.cpu_count() or 1)

    # -- internals ---------------------------------------------------------

    def _reach_mask(self) -> np.ndarray:
        """Directed reachability from the entry over LEVEL-0 out-edges
        (the set an exhaustive beam can visit) — vectorized BFS, one
        frontier gather per level."""
        n = len(self.mat)
        mask = np.zeros(n, dtype=bool)
        mask[self.entry] = True
        frontier = np.asarray([self.entry], dtype=np.int64)
        width = np.arange(self._r)
        while len(frontier):
            rows = self.nbr0[frontier]
            flat = rows[width[None, :] < self.cnt0[frontier][:, None]]
            if not len(flat):
                break
            nxt = np.unique(flat)
            nxt = nxt[~mask[nxt]]
            if not len(nxt):
                break
            mask[nxt] = True
            frontier = nxt
        return mask

    def _repair_connectivity(self, max_rounds: int = 20) -> int:
        """Re-attach nodes the reverse-link shrink orphaned. HNSW's
        level-0 links are directed after pruning; a node whose every
        IN-edge was evicted is undiscoverable no matter the ef —
        measured ~1% of nodes at 20k on a twin-heavy corpus, which
        breaks both recall and the q183 exhaustive-closure gate.
        hnswlib hides the same hazard behind keepPrunedConnections;
        the explicit repair is stronger: each round BFSes level-0
        reachability and links every orphan FROM its nearest reachable
        neighbor (preferring one with spare capacity; otherwise the
        farthest slot of the nearest candidate is evicted, and the
        next round's BFS catches any cascade). Converges in 1-2
        rounds in practice; returns the number of nodes re-attached."""
        n = len(self.mat)
        if n <= 1:
            return 0
        total = 0
        for _ in range(max_rounds):
            mask = self._reach_mask()
            orphans = np.flatnonzero(~mask)
            if not len(orphans):
                break
            total += len(orphans)
            for x in orphans.tolist():
                q = self.mat[x]
                cur = self.entry
                for lvl in range(self.max_level, 0, -1):
                    cur = self._greedy(q, cur, lvl)
                found = self._beam(q, cur, 0, max(64, self.m * 4))
                linked = False
                for _, r in found:  # ascending distance
                    if r == x:
                        continue
                    c = int(self.cnt0[r])
                    if c < self._r:
                        self.nbr0[r, c] = x
                        self.cnt0[r] = c + 1
                        linked = True
                        break
                if not linked:
                    for _, r in found:
                        if r == x:
                            continue
                        nbrs = self.nbr0[r, : self.cnt0[r]]
                        ds = 1.0 - self.mat[nbrs] @ self.mat[r]
                        far = int(np.argmax(ds))
                        # don't evict the edge we just created for an
                        # earlier orphan this round
                        if not mask[nbrs[far]]:
                            continue
                        self.nbr0[r, far] = x
                        linked = True
                        break
                if linked:
                    mask[x] = True
        return total

    def _nbrs(self, level: int, node: int) -> np.ndarray:
        if level == 0:
            return self.nbr0[node, : self.cnt0[node]]
        lst = self.upper[level].get(node)
        if not lst:
            return _EMPTY_I32
        return np.asarray(lst, dtype=np.int32)

    def _greedy(self, q: np.ndarray, cur: int, level: int) -> int:
        cur_d = float(1.0 - self.mat[cur] @ q)
        while True:
            nbrs = self._nbrs(level, cur)
            if not len(nbrs):
                return cur
            ds = 1.0 - self.mat[nbrs] @ q
            j = int(np.argmin(ds))
            if ds[j] >= cur_d:
                return cur
            cur, cur_d = int(nbrs[j]), float(ds[j])

    def _beam(self, q: np.ndarray, start, level: int, ef: int,
              allowed=None):
        """Best-first beam search; returns (dist, idx) sorted ascending.
        Visited tracking is a stamp array — no per-query set, O(1)
        reset; frontier distances are one gather + matvec per pop.

        ``start`` may be a single node or a LIST of seed nodes — the
        multi-seed descent (see search) hands every upper-level
        survivor to the next level's beam, so a query that near-ties
        several twin cliques keeps all of them alive instead of
        committing to one greedy path.

        ``allowed`` (boolean row mask) makes this a FILTERED beam: the
        graph is traversed through every node (disallowed nodes still
        route — dropping them disconnects the graph for selective
        filters, the classic filtered-HNSW failure), but only allowed
        nodes enter the result heap, so `best`'s worst element — the
        termination bound — reflects allowed candidates only and the
        beam naturally keeps expanding until ef allowed rows surface
        (the hnswlib filter-functor semantics; pgvector 0.8's
        iterative scan reaches the same behavior by resuming)."""
        import heapq

        self._stamp += 1
        stamp = self._stamp
        seen = self._seen
        mat = self.mat
        nbr0, cnt0 = self.nbr0, self.cnt0
        starts = [start] if isinstance(start, (int, np.integer)) else start
        cand = []  # min-heap of frontier
        best = []  # max-heap (negated) of ef best ALLOWED
        for s in starts:
            s = int(s)
            if seen[s] == stamp:
                continue
            seen[s] = stamp
            d = float(1.0 - mat[s] @ q)
            heapq.heappush(cand, (d, s))
            if allowed is None or allowed[s]:
                heapq.heappush(best, (-d, s))
        while len(best) > ef:
            heapq.heappop(best)
        while cand:
            d, node = heapq.heappop(cand)
            if best and len(best) >= ef and d > -best[0][0]:
                break
            if level == 0:
                nbrs = nbr0[node, : cnt0[node]]
            else:
                nbrs = self._nbrs(level, node)
            if not len(nbrs):
                continue
            fresh = nbrs[seen.take(nbrs) != stamp]
            if not len(fresh):
                continue
            seen[fresh] = stamp
            ds = 1.0 - mat.take(fresh, axis=0) @ q
            worst = -best[0][0] if best else float("inf")
            for nd, ni in zip(ds.tolist(), fresh.tolist()):
                if len(best) < ef or nd < worst:
                    heapq.heappush(cand, (nd, ni))
                    if allowed is None or allowed[ni]:
                        heapq.heappush(best, (-nd, ni))
                        if len(best) > ef:
                            heapq.heappop(best)
                    worst = -best[0][0] if best else float("inf")
        return sorted((-d, i) for d, i in best)

    def _select(self, cands) -> list[int]:
        """Heuristic neighbor selection (keep diverse M): a candidate is
        kept only if it is closer to the query node than to any already
        kept neighbor — the HNSW paper's select-neighbors heuristic.
        Vectorized as forward-kill: when a candidate is accepted, every
        later candidate closer to it than to the query dies in one
        matvec (equivalent to the per-candidate any-kept check, since
        cands arrive distance-sorted and kept ⊆ earlier candidates).

        keep_pruned (Algorithm 4's keepPrunedConnections flag): if
        diversity pruning leaves fewer than M links, fill the
        remaining slots with the CLOSEST pruned candidates. A
        trade-off, not a free win — it raises degree inside dense
        near-duplicate clusters (where the diversity rule kills most
        in-cluster candidates) but the extra redundant links also
        evict long-range links from the distance-capped reverse
        lists; measured at 150k x 256 / 1024 modes it LIFTS
        m=16/ef200 recall 0.953->0.966 yet DROPS m=24/efc=96 from
        1.000->0.959, so the default stays off (hnswlib defaults it
        on, but its reverse shrink re-runs the diversity heuristic
        rather than a plain distance cap)."""
        c = len(cands)
        if c == 0:
            return []
        idxs = np.fromiter((i for _, i in cands), dtype=np.int64, count=c)
        dq = np.fromiter((d for d, _ in cands), dtype=np.float64, count=c)
        sub = self.mat[idxs]
        alive = np.ones(c, dtype=bool)
        chosen = np.zeros(c, dtype=bool)
        kept: list[int] = []
        for p in range(c):
            if not alive[p]:
                continue
            kept.append(int(idxs[p]))
            chosen[p] = True
            if len(kept) >= self.m:
                break
            sims = sub[p + 1 :] @ sub[p]
            alive[p + 1 :] &= ~(sims > 1.0 - dq[p + 1 :])
        if self.keep_pruned and len(kept) < self.m:
            for p in np.flatnonzero(~chosen)[: self.m - len(kept)]:
                kept.append(int(idxs[p]))
        if not kept:
            kept = [int(i) for i in idxs[: self.m]]
        return kept

    def _plan(self, q: np.ndarray, level: int) -> list[tuple[int, list[int]]]:
        """Search phase of an insertion — READ ONLY, safe to run
        against a forked snapshot: greedy descent above `level`, then
        per-level (beam -> select) neighbor choices."""
        cur = self.entry
        for lvl in range(self.max_level, level, -1):
            cur = self._greedy(q, cur, lvl)
        plans: list[tuple[int, list[int]]] = []
        for lvl in range(min(level, self.max_level), -1, -1):
            found = self._beam(q, cur, lvl, self.ef_c)
            plans.append((lvl, self._select(found)))
            cur = found[0][1]
        return plans

    def _apply(self, node: int, plans: list[tuple[int, list[int]]]) -> None:
        """Mutation phase of an insertion: forward links + pruned
        reverse links. Sequential in the parent — the cheap step."""
        for lvl in range(1, int(self.levels[node]) + 1):
            self.upper[lvl].setdefault(node, [])
        for lvl, nbrs in plans:
            if lvl == 0:
                k = len(nbrs)
                self.nbr0[node, :k] = nbrs
                self.cnt0[node] = k
            else:
                self.upper[lvl][node] = list(nbrs)
            for nb in nbrs:
                self._add_reverse(lvl, int(nb), node)

    def _shrink_overflow(self, nb: int, cand: np.ndarray) -> np.ndarray:
        """Pick which _r of the _r+1 reverse-link candidates survive.

        shrink="distance": keep the _r closest — cheap, but inside a
        near-duplicate clique EVERY in-clique link is closer than the
        one long-range link, so the plain cap evicts exactly the edges
        that connect cliques (the measured 0.47-0.68 recall collapse on
        twin-heavy 1M×1024 corpora, VERDICT r4 #1).

        shrink="heuristic" (default — hnswlib shrinks the same way):
        re-run the diversity heuristic over the candidates in distance
        order, then fill the remaining capacity with the closest pruned
        candidates.  The single dropped candidate is the FURTHEST
        redundant one instead of the furthest overall, so long-range
        diverse links survive clique pressure.  Cost: one (r+1)-row
        matvec per overflow, and inside a clique the kill loop exits
        after ~1 accepted candidate."""
        ds = 1.0 - self.mat[cand] @ self.mat[nb]
        order = np.argsort(ds, kind="stable")
        if self.shrink == "distance":
            return cand[order[: self._r]]
        ids_s = cand[order]
        ds_s = ds[order]
        sub = self.mat[ids_s]
        c = len(ids_s)
        alive = np.ones(c, dtype=bool)
        chosen = np.zeros(c, dtype=bool)
        n_kept = 0
        for p in range(c):
            if not alive[p]:
                continue
            chosen[p] = True
            n_kept += 1
            if n_kept >= self._r:
                break
            sims = sub[p + 1 :] @ sub[p]
            alive[p + 1 :] &= ~(sims > 1.0 - ds_s[p + 1 :])
        if n_kept < self._r:  # fill with closest pruned (keep capacity)
            for p in np.flatnonzero(~chosen)[: self._r - n_kept]:
                chosen[p] = True
        return ids_s[chosen][: self._r]

    def _add_reverse(self, lvl: int, nb: int, node: int) -> None:
        if lvl == 0:
            c = int(self.cnt0[nb])
            if c < self._r:
                self.nbr0[nb, c] = node
                self.cnt0[nb] = c + 1
                return
            cand = np.empty(self._r + 1, dtype=np.int64)
            cand[: self._r] = self.nbr0[nb, : self._r]
            cand[self._r] = node
            keep = self._shrink_overflow(nb, cand)
            self.nbr0[nb, : len(keep)] = keep
            self.cnt0[nb] = len(keep)
            return
        lst = self.upper[lvl].setdefault(nb, [])
        lst.append(node)
        if len(lst) > self._r:
            keep = self._shrink_overflow(nb, np.asarray(lst, dtype=np.int64))
            self.upper[lvl][nb] = [int(x) for x in keep]

    def _parallel_build(self, order: np.ndarray, warm: int, workers: int) -> None:
        """Batched fork-parallel construction: per batch, fork a Pool
        (children see a copy-on-write snapshot of the graph), plan
        every batch node's insertion in parallel, then apply plans
        sequentially. order[] is descending-level, so by the time the
        warm-up finishes every upper-level node is already in the
        graph and batches are level-0/1 inserts — max_level and entry
        never move here."""
        import multiprocessing as mp

        global _PB_IDX
        ctx = mp.get_context("fork")
        n = len(order)
        pos = warm
        while pos < n:
            # RAMPED batch: at most a third of the graph built so far.
            # Intra-batch nodes are mutually blind (they plan against
            # the snapshot), so batch/graph is the blind fraction —
            # a fixed large batch makes early batches BIGGER than the
            # graph they link into and wrecks recall (measured: 0.64
            # @1M x 256); ramping bounds blindness at ~25% early and
            # ~3% in the tail while keeping fork counts logarithmic.
            batch = max(2048, min(32768, pos // 3))
            hi = min(n, pos + batch)
            chunks = [
                c for c in np.array_split(order[pos:hi], workers * 2) if len(c)
            ]
            _PB_IDX = self
            try:
                with ctx.Pool(processes=workers) as pool:
                    results = pool.map(_hnsw_plan_chunk, chunks)
            finally:
                _PB_IDX = None
            for chunk_plans in results:
                for node, plans in chunk_plans:
                    self._apply(node, plans)
            pos = hi

    # -- api ---------------------------------------------------------------

    def search(self, query_vec, k: int = 10, ef: int | None = None,
               allowed=None, upper_ef: int | None = None):
        """Top-k (id, cosine) via MULTI-SEED descent + level-0 beam.

        ``upper_ef`` (default max(8, ef//8)): width of the upper-level
        beams. The classic single greedy descent (upper_ef=1,
        hnswlib's shape) commits to ONE entry clique before the
        level-0 beam starts — on twin-heavy corpora whose true
        neighbors near-tie several cliques that commitment is the
        dominant failure: measured at 300k×1024/1024-mode synth
        (m=24, efc=96), per-query recall is BIMODAL (20 of 64 queries
        find 0/10, the rest 10/10 at ef=400) — the beam lands in a
        wrong clique and its termination bound, saturated with
        wrong-clique near-ties, stops it before it ever crosses.
        Beaming the upper levels and seeding level 0 with every
        survivor keeps all candidate cliques alive: ef=400 recall
        0.68 → 0.80 (upper_ef=8, same 6 ms) → 0.94 (upper_ef=32,
        +0.9 ms); plain search needs ef=1600 / 3× the latency for the
        same, and a protected-far-edge BUILD variant measured no
        better (0.65 plain / 0.956 multi32) — routing, not graph
        density, is the binding constraint. Upper levels hold ~4% of
        nodes, so the extra cost is a few small matvecs; the default
        scales with ef because a wider level-0 budget only pays off
        if enough candidate cliques are seeded. Set upper_ef=1 to
        recover the hnswlib-exact descent.

        ``allowed`` (boolean row mask — see ``row_mask``) restricts
        results without a fallback to the table plan — filtered ANN,
        the pgvector 0.8 iterative-scan analog. Three regimes:

        - very selective filters (matches ≤ 4·ef) score their rows
          DIRECTLY — one small BLAS gather beats walking the graph past
          thousands of disallowed nodes, and it is exact;
        - otherwise a masked beam runs (disallowed nodes route but
          can't enter the result set), escalating ef ×4 per round
          while it under-fills — the iterative part;
        - if the graph is exhausted before k allowed rows surface
          (disconnected pockets), the direct scan finishes the job, so
          filtered search NEVER returns fewer than min(k, matches)
          rows — a completeness guarantee pgvector itself doesn't make.
        """
        q = np.asarray(query_vec, dtype=np.float32)
        qn = np.linalg.norm(q)
        if qn:
            q = q / qn
        if not len(self.mat):
            return []
        ef = max(ef or 4 * k, k)
        if upper_ef is None:
            upper_ef = max(8, ef // 8)
        if allowed is not None:
            idxs = np.flatnonzero(allowed)
            if not idxs.size:
                return []
            if idxs.size == len(self.mat):
                # fully-permissive mask ≡ no filter: serve the
                # unfiltered path instead of gathering a copy of the
                # whole matrix — faster, and bit-identical to the
                # unfiltered search by construction (a gathered-copy
                # matvec and the beam's batched matvecs round their
                # reductions differently on some BLAS kernels)
                allowed = None
        if allowed is not None:
            # Exact-scan crossover: the masked beam pays Python-heap
            # cost per visited node while a direct scan of the allowed
            # rows is one BLAS gather — below ~2M multiply-adds the
            # scan is both faster AND exact, whatever the selectivity.
            # (At serving scale this covers most metadata filters; a
            # 10M×1024 shard still routes through the beam.)
            if (idxs.size <= 4 * ef
                    or idxs.size * self.mat.shape[1] <= 2_000_000):
                return self._masked_exact(q, idxs, k)
        if upper_ef <= 1:
            cur = self.entry
            for lvl in range(self.max_level, 0, -1):
                cur = self._greedy(q, cur, lvl)
            seeds = [cur]
        else:
            seeds = [self.entry]
            for lvl in range(self.max_level, 0, -1):
                found = self._beam(q, seeds, lvl, upper_ef)
                if found:
                    seeds = [i for _, i in found]
        if allowed is None:
            found = self._beam(q, seeds, 0, ef)[:k]
            return [(self.ids[i].item(), float(1.0 - d)) for d, i in found]
        e = ef
        while True:
            found = self._beam(q, seeds, 0, e, allowed=allowed)
            if len(found) >= k or e >= len(self.mat):
                break
            e = min(e * 4, len(self.mat))
        if len(found) < min(k, idxs.size):
            return self._masked_exact(q, idxs, k)
        found = found[:k]
        return [(self.ids[i].item(), float(1.0 - d)) for d, i in found]

    def _masked_exact(self, q: np.ndarray, idxs: np.ndarray, k: int):
        """Exact top-k over a row subset — the selective-filter fast
        path and the connectivity backstop of filtered search."""
        return self._top_k(self.mat[idxs] @ q, self.ids[idxs], k)

    def add(self, new_ids, new_vecs, seed: int = 43) -> None:
        """Incremental inserts into the live graph — the serving-tier
        twin of append_ivf_store (pgvector HNSW likewise inserts into
        the built graph without a rebuild). New vectors are normalized,
        appended to the matrix, and inserted with the same level
        distribution and beam construction as the initial build.
        Sequential by design: O(batch), no fork overhead on the
        serving path."""
        new_vecs = np.asarray(new_vecs, dtype=np.float32)
        if new_vecs.ndim == 1:
            new_vecs = new_vecs[None, :]
        norms = np.linalg.norm(new_vecs, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        new_vecs = new_vecs / norms
        start = len(self.mat)
        b = len(new_vecs)
        self.mat = np.concatenate([self.mat, new_vecs])
        self.ids = np.concatenate([self.ids, np.asarray(new_ids)])
        rng = np.random.default_rng(seed + start)
        ml = 1.0 / np.log(self.m)
        new_levels = np.minimum(
            (-np.log(rng.uniform(1e-12, 1.0, b)) * ml).astype(np.int32), 32
        )
        self.levels = np.concatenate([self.levels, new_levels])
        self.nbr0 = np.concatenate(
            [self.nbr0, np.zeros((b, self._r), dtype=np.int32)]
        )
        self.cnt0 = np.concatenate([self.cnt0, np.zeros(b, dtype=np.int32)])
        self._seen = np.concatenate([self._seen, np.zeros(b, dtype=np.int64)])
        for j in range(b):
            node = start + j
            lvl = int(new_levels[j])
            while lvl > self.max_level:
                # new top level: current entry gains an (empty) list
                # there, keeping the descent anchored (old behavior)
                self.max_level += 1
                self.upper.append({self.entry: []})
            self._apply(node, self._plan(self.mat[node], lvl))
        self._repair_connectivity()

    # -- durability: save() writes ~(d·4 + 2M·4) B/node; a load()ed graph
    # is search- and add()-identical to the builder

    def _state(self) -> tuple[dict, dict]:
        meta, arrays = super()._state()
        meta["ef_construction"] = self.ef_c
        up_level, up_node, up_off, up_flat = [], [], [0], []
        for lvl in range(1, self.max_level + 1):
            for node, lst in self.upper[lvl].items():
                up_level.append(lvl)
                up_node.append(int(node))
                up_flat.extend(int(x) for x in lst)
                up_off.append(len(up_flat))
        arrays.update(
            up_level=np.asarray(up_level, dtype=np.int32),
            up_node=np.asarray(up_node, dtype=np.int64),
            up_off=np.asarray(up_off, dtype=np.int64),
            up_flat=np.asarray(up_flat, dtype=np.int32),
        )
        return meta, arrays

    def _loaded(self, meta: dict, arrays: dict) -> None:
        self.ef_c = int(meta["ef_construction"])
        self._r = 2 * self.m
        self.upper = [None] + [dict() for _ in range(self.max_level)]
        off, flat = arrays["up_off"], arrays["up_flat"]
        levels, nodes = arrays["up_level"].tolist(), arrays["up_node"].tolist()
        for i, (lvl, node) in enumerate(zip(levels, nodes)):
            self.upper[lvl][node] = flat[off[i] : off[i + 1]].tolist()
        self._seen = np.zeros(len(self.mat), dtype=np.int64)
        self._stamp = 0


_EMPTY_I32 = np.zeros(0, dtype=np.int32)

# fork-shared snapshot for _parallel_build workers (set in the parent
# immediately before the Pool fork, cleared after; children inherit it
# copy-on-write and only READ)
_PB_IDX: "ResidentHNSW | None" = None


def _hnsw_plan_chunk(nodes: np.ndarray):
    idx = _PB_IDX
    out = []
    for node in nodes.tolist():
        out.append((node, idx._plan(idx.mat[node], int(idx.levels[node]))))
    return out


def _default_rescore_window(k: int, n: int) -> int:
    """Recall-first default shortlist width for the quantized tiers
    (BQ/PQ/SQ8), from the measured rescore-window frontiers at
    1M/5M × 1024 (tools/annbench_*_r5.json): recall@10 reaches 1.00 by
    n/500 on the clustered synth while latency barely moves — the
    full-corpus shortlist SCAN is the latency floor, not the rescore —
    so the default scales with the corpus, clamped to [8k∨64, 20000]
    (past 20k the heap rescore starts to show; callers chasing
    microseconds pass rescore_k explicitly)."""
    return max(8 * k, 64, min(20_000, n // 500))


class _QuantizedTier(_ResidentTier):
    """Two-stage tiers (BQ, PQ, SQ8): a compact per-row code scored by a
    candidate kernel (``_dist``: smaller is nearer) picks a shortlist,
    and ``search`` re-ranks it exactly from the float rows. Without the
    float rows (``keep_floats=False``, or ``load(floats=False)``) the
    compact state alone still serves ``shortlist``."""

    _COMPACT = "codes"  # what a floats-less host keeps, for the error

    def _rescore_query(self, query_vec) -> np.ndarray:
        """The float64 query ``search`` rescores against."""
        return _unit_query(query_vec, np.float64)

    def _exact_scores(self, rows: np.ndarray, q: np.ndarray) -> np.ndarray:
        """Full-precision scores (bigger is better) of float rows."""
        return rows @ q

    def _shortlist_rows(self, q, r: int, allowed=None, **kernel):
        """(row positions, distances) of the top-r by (dist, id) —
        array-internal: Python tuples only materialize at the public
        API (at r=2000 the tuple form measured ~3 ms of pure conversion
        per query)."""
        if not len(self.ids):  # the kernels assume at least one row
            return np.empty(0, dtype=np.int64), np.empty(0)
        d = self._dist(q, **kernel)
        rows = None if allowed is None else np.flatnonzero(allowed)
        return self._top_r(d if rows is None else d[rows], r, rows)

    def _top_r(self, d: np.ndarray, r: int, rows=None):
        """Rows and distances of the r smallest ``d`` by (dist asc, id
        asc); ``rows`` maps positions of ``d`` to index rows (None: ``d``
        covers every row). A partition finds the r-th distance, then
        every candidate at or under it is sorted exactly, so rows tied
        at the boundary qualify in id order and ``shortlist(q, r)`` is
        always the first r of a longer shortlist. O(n) + a sort of the
        survivors: a full-corpus lexsort per query measured ~40× slower
        at 1M rows for identical output."""
        r = min(r, len(d))
        if r < len(d):
            sel = np.flatnonzero(d <= np.partition(d, r - 1)[r - 1])
        else:
            sel = np.arange(len(d))
        rows, d = (sel if rows is None else rows[sel]), d[sel]
        order = np.lexsort((self.ids[rows], d))[:r]
        return rows[order], d[order]

    def shortlist(self, query_vec, r: int = 64, allowed=None) -> list[tuple]:
        """Top-r (id, distance) by (distance asc, id asc) — the exact,
        deterministic candidate stage. ``allowed`` is a boolean row mask
        (see ``row_mask``) for filtered serving."""
        rows, d = self._shortlist_rows(self._kernel_query(query_vec), r, allowed)
        return list(zip(self.ids[rows].tolist(), d.tolist()))

    def search(self, query_vec, k: int = 10, rescore_k: int | None = None,
               allowed=None) -> list[tuple]:
        """Two-stage top-k (id, score): a shortlist of ``rescore_k``
        candidates (default ``_default_rescore_window``: n/500, clamped
        to [max(8k, 64), 20000]), then an exact float64 rescore of the
        float32-stored rows, score desc, ties by id. Candidate
        generation is approximate by contract, but the RANKING of the
        returned rows is full-precision (the ServedPipelineIndex
        discipline). Requires the float rows."""
        if self.mat is None:
            raise ValueError(
                f"{self._COMPACT}-only {type(self).__name__} cannot rescore; "
                "use shortlist() or build/load with the float matrix"
            )
        q = self._rescore_query(query_vec)
        rows, _ = self._shortlist_rows(
            self._kernel_query(query_vec, q),
            rescore_k or _default_rescore_window(k, len(self.ids)),
            allowed,
        )
        if not rows.size:
            return []
        scores = self._exact_scores(self.mat[rows].astype(np.float64), q)
        ids = self.ids[rows]
        order = np.lexsort((ids, -scores))[:k]
        return list(zip(ids[order].tolist(), scores[order].tolist()))

    def _state(self) -> tuple[dict, dict]:
        meta, arrays = super()._state()
        meta["has_floats"] = self.mat is not None
        return meta, arrays

    @classmethod
    def load(cls, path: str, floats: bool = True) -> Self:
        """Reload a ``save()``d index; ``floats=False`` loads only the
        compact state (bits/codes): ``shortlist`` serves from it and
        ``search`` raises — the one-host-per-100TB-corpus
        configuration. A path holding another kind raises ValueError."""
        return cls._load(path, floats)


class ResidentBQ(_QuantizedTier):
    """Driver-resident BINARY-QUANTIZED serving tier — the pgvector 0.7
    `binary_quantize(embedding)::bit(n)` + rerank recipe
    (`ORDER BY bq <~> binary_quantize($1) LIMIT R` re-ranked by
    `embedding <=> $1` — the expression-index pattern from pgvector's
    own docs), resident like ResidentANN/ResidentHNSW.

    Why it exists at 100 TB: the packed signature is d/8 B/vector —
    5M×1024 is **640 MB** vs 20 GB float32, so a corpus that shards
    across 32 ANN serving hosts fits ONE BQ host; scoring is
    XOR+popcount over a contiguous uint8 matrix (SIMD-friendly, no
    per-row Python). The float rescore stage only touches the R
    shortlisted rows — the same "re-read the heap tuple" cost pgvector
    pays, so the full-precision matrix can stay on slower storage.

    Sign convention matches `binary_signature` (bit = 1 iff x > 0,
    little-endian packing), so the resident tier, the Spark
    `hamming_topk` plan, and a DuckDB oracle all agree bit-for-bit on
    the INTEGER Hamming stage; ties break by id, making the shortlist
    deterministic — what lets q185 oracle-gate this under the driver
    hash. Shortlist recall vs exact cosine is corpus-dependent (sign
    bits keep direction octants only); the rescore window R is the
    recall/latency dial, exactly as pgvector documents.
    """

    _KINDS = ("bq",)
    _META = ("dim",)
    _ARRAYS = ("bits",)
    _COMPACT = "bits"

    def __init__(
        self,
        df,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        keep_floats: bool = True,
    ):
        self.ids, mat = _fetch_ids_mat(df, id_col, vec_col)
        self.dim = int(mat.shape[1]) if len(mat) else 0
        # pack sign bits BEFORE normalization (sign is invariant under
        # positive scaling, but packing the raw values keeps the
        # convention textually identical to binary_signature's `> 0`).
        # Rows are padded to 8-byte multiples so the Hamming kernel can
        # view them as uint64 words (zero padding never flips a bit).
        packed = np.packbits(mat > 0, axis=1, bitorder="little")
        self.bits = np.pad(packed, ((0, 0), (0, (-packed.shape[1]) % 8)))
        # bits-only host (keep_floats=False): shortlist() still serves
        self.mat = _unit_rows(mat) if keep_floats else None

    def _kernel_query(self, query_vec, q=None) -> np.ndarray:
        return np.packbits(
            np.asarray(query_vec, dtype=np.float32) > 0, bitorder="little"
        )

    # -- scoring -----------------------------------------------------------

    # chunk rows so the SWAR scratch stays cache-resident; scratch is
    # preallocated once — per-query temp allocation dominated the
    # first implementation's latency
    _CHUNK = 1 << 16

    def _hamming(self, qbits: np.ndarray) -> np.ndarray:
        if qbits.shape[0] < self.bits.shape[1]:
            qbits = np.concatenate(
                [qbits,
                 np.zeros(self.bits.shape[1] - qbits.shape[0], np.uint8)]
            )
        bits64 = getattr(self, "_bits64", None)
        if bits64 is None:
            bits64 = self._bits64 = self.bits.reshape(
                len(self.bits), -1
            ).view(np.uint64)
        q64 = qbits.view(np.uint64)
        n, w = bits64.shape
        out = np.empty(n, dtype=np.int32)
        if hasattr(np, "bitwise_count"):  # numpy >= 2.0
            for lo in range(0, n, self._CHUNK):
                hi = min(n, lo + self._CHUNK)
                x = np.bitwise_xor(bits64[lo:hi], q64)
                out[lo:hi] = np.bitwise_count(x).sum(axis=1, dtype=np.int32)
            return out
        # SWAR popcount over uint64 words, fully in-place on a reused
        # scratch pair: ~w vectorized ops per chunk, no per-query
        # allocation (the byte-LUT gather touched 8× the elements and
        # the allocating variant spent most of its time in temps)
        scratch = getattr(self, "_scratch", None)
        if scratch is None or scratch[0].shape[1] != w:
            scratch = self._scratch = (
                np.empty((self._CHUNK, w), dtype=np.uint64),
                np.empty((self._CHUNK, w), dtype=np.uint64),
            )
        M1 = np.uint64(0x5555555555555555)
        M3 = np.uint64(0x3333333333333333)
        MF = np.uint64(0x0F0F0F0F0F0F0F0F)
        K = np.uint64(0x0101010101010101)
        for lo in range(0, n, self._CHUNK):
            hi = min(n, lo + self._CHUNK)
            m = hi - lo
            v, t = scratch[0][:m], scratch[1][:m]
            np.bitwise_xor(bits64[lo:hi], q64, out=v)
            np.right_shift(v, np.uint64(1), out=t)
            np.bitwise_and(t, M1, out=t)
            np.subtract(v, t, out=v)
            np.right_shift(v, np.uint64(2), out=t)
            np.bitwise_and(t, M3, out=t)
            np.bitwise_and(v, M3, out=v)
            np.add(v, t, out=v)
            np.right_shift(v, np.uint64(4), out=t)
            np.add(v, t, out=v)
            np.bitwise_and(v, MF, out=v)
            np.multiply(v, K, out=v)
            np.right_shift(v, np.uint64(56), out=v)
            out[lo:hi] = v.sum(axis=1, dtype=np.int32)
        return out

    _dist = _hamming


class ResidentPQ(_QuantizedTier):
    """Driver-resident PRODUCT-QUANTIZED serving tier (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011),
    resident like ResidentANN/BQ. ``nlist>0`` composes the coarse IVF
    stage — the full FAISS IVF-PQ (non-residual variant): codes cluster
    by centroid like ResidentANN's rows, a query gathers ADC over only
    the probed cells' contiguous code slices, and filtered queries
    expand the probe batch until the shortlist fills (measured at
    200k×64/nlist=256/nprobe=16: 8.7 → 0.98 ms at identical 0.99
    recall vs the flat ADC scan). The reference's ecosystem reaches
    this regime via pgvector's halfvec/bit expression indexes; PQ is
    the stronger compression point on the same curve.

    Why it exists at 100 TB: codes are ``m`` bytes/vector regardless of
    dimension — 5M×1024 is **320 MB at m=64** (vs 20 GB float32, 640 MB
    BQ) and, unlike BQ's sign bits, the codebooks adapt to the corpus,
    so recall at equal bytes is higher on clustered embedding corpora.
    A corpus that shards across 32 float serving hosts fits one PQ
    host; originals stay on cold storage for the rescore page.

    Spark/driver split is the house rule: the bounded-sample codebook
    fit and the full-corpus encode read the corpus ONCE (Arrow), and
    serving is numpy only — per query, one (m × k_cb) lookup table
    from the query vector, then each candidate scores as m table
    gathers + a sum (no original vectors touched).

    Candidate generation is approximate by contract; `search()`
    re-ranks the shortlist in full precision (the ResidentBQ
    discipline), so the rescore window is the recall/latency dial.
    """

    _KINDS = ("pq",)
    _META = ("dim", "m", "k", "nprobe")
    _META_DEFAULTS = {"nprobe": 8}
    _ARRAYS = ("codes", "codebooks", "centroids", "offsets")
    _CHUNK = 1 << 16

    def __init__(
        self,
        df,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        m: int = 8,
        k_codebook: int = 256,
        seed: int = 42,
        keep_floats: bool = True,
        max_fit: int = 65536,
        nlist: int = 0,
        nprobe: int = 8,
    ):
        if k_codebook > 256:
            raise ValueError("k_codebook > 256 would not fit uint8 codes")
        self.ids, mat = _fetch_ids_mat(df, id_col, vec_col)
        unit = _unit_rows(mat)
        self.dim = int(unit.shape[1]) if len(unit) else 0
        if self.dim % m:
            raise ValueError(f"dim {self.dim} not divisible by m={m}")
        self.m, self.k = int(m), int(k_codebook)
        self.sub = self.dim // self.m if self.m else 0
        self.nprobe = nprobe
        self.centroids = self.offsets = None
        if nlist and len(unit):
            # IVF-PQ (the FAISS flagship composition): coarse centroids
            # prune the ADC scan to nprobe contiguous cells — codes are
            # clustered by centroid exactly like ResidentANN's rows, so
            # a probe gathers code SLICES, never the whole code matrix.
            # (Non-residual variant: codes quantize the vectors, not
            # x − centroid — FAISS's by_residual=False.) The coarse fit
            # is seeded seed + 1, the codebook sample seed.
            self.centroids, order, _, _, self.offsets = _ivf_fit(unit, nlist, seed + 1)
            self.ids, unit = self.ids[order], unit[order]
        self.mat = unit if keep_floats else None
        # bounded-sample fit (the fit_pq / fit_ivf_centroids contract:
        # codebook quality saturates long before the corpus does).
        # Subspace k-means runs in float32 on ≤64·k rows: the (n × k)
        # distance block over a THIN inner dim is memory-bound, so
        # float64 on a 64k sample measured ~6 s/subspace (~50 s/build
        # at m=8) for identical codebooks
        cap = min(max_fit, max(64 * self.k, 8192))
        fit = _sample(unit, cap, np.random.default_rng(seed))
        k_eff = min(self.k, len(fit))
        cbs = np.zeros((self.m, self.k, self.sub), dtype=np.float32)
        for j in range(self.m):
            blk = np.ascontiguousarray(
                fit[:, j * self.sub : (j + 1) * self.sub], dtype=np.float32
            )
            cbs[j, :k_eff] = _lloyd(blk, k_eff, seed + j, 15)
            if k_eff < self.k:  # degenerate tiny corpus: pad by repeat
                cbs[j, k_eff:] = cbs[j, k_eff - 1]
        self.codebooks = cbs
        # full-corpus encode, chunked so the (chunk × k) distance block
        # stays cache-order (||x−c||² = ||x||² − 2x·c + ||c||²; the
        # x² term is rank-constant and argmin-invariant, so skipped)
        self.codes = np.empty((len(unit), self.m), dtype=np.uint8)
        c2 = (cbs.astype(np.float32) ** 2).sum(axis=2)  # (m, k)
        for lo in range(0, len(unit), self._CHUNK):
            hi = min(len(unit), lo + self._CHUNK)
            for j in range(self.m):
                blk = unit[lo:hi, j * self.sub : (j + 1) * self.sub]
                scores = blk @ cbs[j].T  # (chunk, k)
                scores *= 2.0
                scores -= c2[j]
                self.codes[lo:hi, j] = np.argmax(scores, axis=1)

    def _loaded(self, meta: dict, arrays: dict) -> None:
        self.sub = self.dim // self.m if self.m else 0

    def _kernel_query(self, query_vec, q=None) -> np.ndarray:
        return _unit_query(query_vec) if q is None else q.astype(np.float32)

    # -- scoring -----------------------------------------------------------

    def _lut(self, q: np.ndarray) -> np.ndarray:
        """Flattened (m·k) table of per-subspace squared sub-distances
        for one query — ADC's only per-query float work."""
        lut = np.empty((self.m, self.k), dtype=np.float32)
        for j in range(self.m):
            d = self.codebooks[j] - q[j * self.sub : (j + 1) * self.sub]
            lut[j] = (d * d).sum(axis=1)
        return lut.ravel()

    def _offsets_matrix(self) -> np.ndarray:
        off = getattr(self, "_off", None)
        if off is None:  # code → flat-LUT index, built once
            off = self._off = self.codes.astype(np.int32) + (
                np.arange(self.m, dtype=np.int32) * self.k
            )
        return off

    def _adc(self, q: np.ndarray) -> np.ndarray:
        """Squared-L2 ADC over unit vectors (= 2 − 2·cos up to
        quantization): one (m × k) table per query, then m gathers +
        a sum per candidate, chunked to bound the temp block."""
        flat = self._lut(q)
        off = self._offsets_matrix()
        n = len(off)
        out = np.empty(n, dtype=np.float32)
        for lo in range(0, n, self._CHUNK):
            hi = min(n, lo + self._CHUNK)
            out[lo:hi] = flat.take(off[lo:hi]).sum(axis=1, dtype=np.float32)
        return out

    _dist = _adc

    def _shortlist_rows(self, q32: np.ndarray, r: int, allowed=None):
        """With coarse centroids (IVF-PQ), ADC runs only over the probed
        cells' contiguous code slices, expanding the probe batch (the
        iterative-scan discipline) until r candidates surface or the
        lists run out; the flat index scores every row."""
        if self.centroids is None:
            return super()._shortlist_rows(q32, r, allowed)
        flat = self._lut(q32)
        off = self._offsets_matrix()
        row_parts = [np.zeros(0, dtype=np.int64)]
        d_parts = [np.zeros(0, dtype=np.float32)]
        found = 0
        for _, runs in _probe_rounds(
            self.centroids @ q32, self.offsets, self.nprobe, allowed
        ):
            for sel, rows in runs:
                row_parts.append(rows)
                d_parts.append(flat.take(off[sel]).sum(axis=1, dtype=np.float32))
                found += len(rows)
            if found >= r:
                break
        return self._top_r(
            np.concatenate(d_parts), r, np.concatenate(row_parts)
        )


class ResidentSQ8(_QuantizedTier):
    """Driver-resident SCALAR-QUANTIZED serving tier (FAISS SQ8 /
    pgvector-halfvec point on the bytes-per-vector curve): each
    dimension quantizes independently to one byte against per-dim
    [min, max] corpus bounds — d B/vector (4× under float32, 2× under
    halfvec) with near-exact recall, because embedding coordinates are
    narrow-range and one byte of uniform grid is ~0.4% of the span.

    The quantizer is intentionally CLOSED-FORM and engine-portable:

        code_d  = floor(clip((x_d − mn_d) / (mx_d − mn_d), 0, 1)·255 + ½)
        recon_d = mn_d + code_d · ((mx_d − mn_d) / 255)

    `floor(·+½)` (not banker's rounding) and the pinned parenthesization
    make the CODES integer-exactly reproducible by any IEEE-754 SQL
    engine from the same parquet — which is what lets a DuckDB oracle
    re-derive the whole index and gate the served top-k under the
    driver hash (q188), the strongest correctness contract any of the
    resident tiers carries.

    ``normalize=False`` (the oracle mode) quantizes raw values and
    serves L2 distance (pgvector `vector_l2_ops`); the default
    normalizes first and serves cosine like the other tiers.
    """

    _KINDS = ("sq8",)
    _META = ("dim", "normalize")
    _ARRAYS = ("codes", "mn", "mx", "sc")
    _CHUNK = 1 << 14
    # query-independent half of the algebraic ADC (see _adc_fast):
    # Σ_d sc_d²·code_d² per row, built on the first query
    _c2w = None

    def __init__(
        self,
        df,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        normalize: bool = True,
        keep_floats: bool = True,
    ):
        self.ids, mat = _fetch_ids_mat(df, id_col, vec_col, dtype=np.float64)
        self.normalize = bool(normalize)
        if normalize:
            mat = _unit_rows(mat)
        mat = mat if len(mat) else np.zeros((0, 0))
        self.dim = int(mat.shape[1])
        self.mn = mat.min(axis=0, initial=np.inf)
        self.mx = mat.max(axis=0, initial=-np.inf)
        span = self.mx - self.mn
        safe = np.where(span == 0.0, 1.0, span)
        t = np.clip((mat - self.mn) / safe, 0.0, 1.0)
        self.codes = np.floor(t * 255.0 + 0.5).astype(np.uint8)
        # scale for reconstruction; zero-span dims reconstruct to mn
        self.sc = np.where(span == 0.0, 0.0, span / 255.0)
        self.mat = mat.astype(np.float32) if keep_floats else None

    def _rescore_query(self, query_vec) -> np.ndarray:
        if self.normalize:
            return _unit_query(query_vec, np.float64)
        return np.asarray(query_vec, dtype=np.float64)

    def _kernel_query(self, query_vec, q=None) -> np.ndarray:
        return self._rescore_query(query_vec) if q is None else q

    def _exact_scores(self, rows: np.ndarray, q: np.ndarray) -> np.ndarray:
        """Cosine when normalized, −L2² otherwise (bigger is better)."""
        if self.normalize:
            return rows @ q
        dd = rows - q
        return -(dd * dd).sum(axis=1)

    # -- scoring -----------------------------------------------------------

    def _adc_exact(self, q: np.ndarray) -> np.ndarray:
        """Direct Σ(q_d − recon_d)² in float64, chunked — the form the
        SQL oracle computes term-by-term; used by the oracle-gated
        path so both sides run textually identical arithmetic."""
        n = len(self.codes)
        out = np.empty(n, dtype=np.float64)
        for lo in range(0, n, self._CHUNK):
            hi = min(n, lo + self._CHUNK)
            recon = self.mn + self.codes[lo:hi].astype(np.float64) * self.sc
            d = q - recon
            out[lo:hi] = (d * d).sum(axis=1)
        return out

    def _adc_fast(self, q: np.ndarray) -> np.ndarray:
        """Algebraic expansion for the hot path: with u = (q − mn)·sc
        and w = sc², dist² = ||q − mn||² − 2·codes@u + codes²@w. The
        codes²@w term is query-independent and cached; per query cost
        is one uint8→float32 chunked matvec (4× less memory traffic
        than the float corpus scan)."""
        a = (q - self.mn).astype(np.float64)
        u = (a * self.sc).astype(np.float32)
        w = (self.sc * self.sc).astype(np.float32)
        const = float(a @ a)
        if self._c2w is None:
            c2w = np.empty(len(self.codes), dtype=np.float32)
            for lo in range(0, len(self.codes), self._CHUNK):
                hi = min(len(self.codes), lo + self._CHUNK)
                cf = self.codes[lo:hi].astype(np.float32)
                c2w[lo:hi] = (cf * cf) @ w
            self._c2w = c2w
        n = len(self.codes)
        out = np.empty(n, dtype=np.float32)
        for lo in range(0, n, self._CHUNK):
            hi = min(n, lo + self._CHUNK)
            cf = self.codes[lo:hi].astype(np.float32)
            out[lo:hi] = cf @ u
        return const - 2.0 * out + self._c2w

    def _dist(self, q: np.ndarray, exact_adc: bool = False) -> np.ndarray:
        return self._adc_exact(q) if exact_adc else self._adc_fast(q)

    def shortlist(
        self, query_vec, r: int = 64, allowed=None, exact_adc: bool = False
    ) -> list[tuple]:
        """Top-r (id, dist²) ascending over quantized reconstructions,
        id tie-break. ``exact_adc`` selects the term-by-term float64
        form (oracle parity); default is the algebraic fast path."""
        rows, d = self._shortlist_rows(
            self._kernel_query(query_vec), r, allowed, exact_adc=exact_adc
        )
        return list(zip(self.ids[rows].tolist(), d.tolist()))
