"""Seeded inputs for the perfbench workloads.

The corpus and the sf0.1 star-schema tables are fixed (they play the
role of the stored database, generated from ``CORPUS_SEED``). The run's
``--seed`` drives what a user sends: query texts, filters, write
batches, feature rows and the request order. The program under test
receives only these generated values.

Shapes follow the sf0.1 test tables: 5,000 documents over a small
technical vocabulary (five languages, twenty sources, a few exact and
near duplicates), 600k lineitems over 150k orders, 64-d labelled
embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

CORPUS_SEED = 42

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# Words that never occur in the stored corpus: ingest writes tag their
# docs with them, so "the new text is returned" is an exact check.
FRESH_WORDS = (
    "amber basalt cobalt dune ember fjord glacier harbor indigo jasper "
    "kelp lagoon mesa nectar opal prairie quartz ridge sierra tundra"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

N_DOCS = 5_000
SF = 0.1


def _text(rng: np.random.Generator, lo: int = 8, hi: int = 100) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def documents(n: int = N_DOCS, seed: int = CORPUS_SEED) -> dict[str, list]:
    """The stored corpus: doc_id, text, lang, source, n_chars."""
    rng = np.random.default_rng(seed)
    texts = [_text(rng) for _ in range(n)]
    # a few exact duplicates and near duplicates (one word swapped), as
    # real corpora have, so the dedup/minhash operators find something
    for i in rng.choice(np.arange(100, n), size=12, replace=False):
        src = int(rng.integers(0, 100))
        words = texts[src].split()
        if i % 2:
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(words)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [LANGS[j] for j in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def _ts(days: np.ndarray) -> np.ndarray:
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return base + days.astype("timedelta64[D]")


def write_star_schema(out_dir: str, seed: int = CORPUS_SEED) -> dict[str, int]:
    """Write the sf0.1 tables the batch queries read, as single parquet
    files with the test tables' schemas. Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = 15_000, 1_000, 20_000, 150_000
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    adj = np.array(["large", "hot", "blue", "small", "red", "green"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
    })
    odays = rng.integers(0, 3650, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": pa.array(_ts(odays), pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    per = rng.integers(1, 8, n_ord)
    per = per * (600_000 / per.sum())
    per = np.maximum(1, np.round(per)).astype(np.int64)
    n_li = int(per.sum())
    okeys = np.repeat(np.arange(n_ord), per)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _ts(np.repeat(odays, per) + rng.integers(1, 122, n_li)),
            pa.timestamp("us"),
        ),
    })
    docs = documents()
    tables["documents"] = pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": docs["text"],
        "lang": docs["lang"],
        "source": docs["source"],
        "n_chars": pa.array(docs["n_chars"], pa.int64()),
    })
    n_emb = 2_000
    centers = rng.normal(size=(8, 64))
    label = rng.integers(0, 8, n_emb)
    emb = (centers[label] + rng.normal(scale=0.5, size=(n_emb, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def regression_rows(n: int, seed: int) -> dict[str, list]:
    """A small linear-regression relation: x1..x4 and a noisy target."""
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, 4))
    y = x @ np.array([3.0, -2.0, 0.5, 1.5]) + 4.0 + rng.normal(scale=0.1, size=n)
    return {**{f"x{i + 1}": x[:, i].tolist() for i in range(4)}, "y": y.tolist()}


# -- per-run inputs (driven by --seed) ----------------------------------------

SERVE_KINDS = ("vector", "hybrid", "filtered", "predict_one")


def serve_requests(seed: int):
    """The serve loop's endless request stream: a seeded mix of the
    four kinds with their query texts, filters or feature rows."""
    rng = np.random.default_rng([seed, 1])
    while True:
        kind = SERVE_KINDS[int(rng.integers(0, len(SERVE_KINDS)))]
        req: dict = {"kind": kind}
        if kind == "predict_one":
            req["features"] = [round(float(v), 6) for v in rng.normal(size=4)]
        else:
            req["text"] = _text(rng, 2, 6)
        if kind == "hybrid":
            req["ft_text"] = " ".join(rng.choice(WORDS, size=2, replace=False))
        if kind == "filtered":
            k = int(rng.integers(1, 3))
            req["langs"] = sorted(str(x) for x in rng.choice(LANGS, size=k, replace=False))
        yield req


def ingest_rounds(seed: int, batch: int, existing: int = N_DOCS):
    """Endless ingest rounds. Each has a batch of NEW docs (ids past the
    corpus) and a batch of CHANGED existing docs, each batch tagged with
    a token absent from the stored corpus so visibility is checkable by
    search."""
    rng = np.random.default_rng([seed, 2])
    next_id = existing
    r = 0
    while True:
        word = FRESH_WORDS[r % len(FRESH_WORDS)]
        tag_new, tag_upd = f"{word}{r}n", f"{word}{r}u"
        new = [
            {"id": next_id + i, "text": f"{tag_new} {_text(rng)}",
             "lang": str(rng.choice(LANGS))}
            for i in range(batch)
        ]
        next_id += batch
        ids = sorted(int(i) for i in rng.choice(existing, size=batch, replace=False))
        upd = [
            {"id": i, "text": f"{tag_upd} {_text(rng)}", "lang": str(rng.choice(LANGS))}
            for i in ids
        ]
        yield {"new": new, "new_tag": tag_new, "changed": upd, "changed_tag": tag_upd}
        r += 1


def batch_order(seed: int, shuffled: list[str], tail: list[str]):
    """The batch loop's endless op order, one pass at a time: the
    ``shuffled`` ops in a seeded order, then the ``tail`` in its own
    order (train before predict: a pass predicts with the model it just
    deployed)."""
    rng = np.random.default_rng([seed, 3])
    while True:
        for i in rng.permutation(len(shuffled)):
            yield shuffled[i]
        yield from tail


def today() -> str:
    return dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")
