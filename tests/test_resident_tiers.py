"""Contracts every resident serving tier shares (operators/similarity.py):
shortlist order, save/load durability, and the per-layer trace hooks
that wrap the tiers by name."""

import ast
import importlib
import json
import os

import numpy as np
import pytest

from postgresml_spark.operators.similarity import (
    ResidentANN,
    ResidentBQ,
    ResidentHNSW,
    ResidentPQ,
    ResidentSQ8,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TIERS = {
    "exact": (ResidentANN, {}),
    "ivf": (ResidentANN, {"nlist": 8, "nprobe": 2}),
    "hnsw": (ResidentHNSW, {"m": 8, "ef_construction": 32, "workers": 1}),
    "bq": (ResidentBQ, {}),
    "pq": (ResidentPQ, {"m": 4, "k_codebook": 32}),
    "ivfpq": (ResidentPQ, {"m": 4, "k_codebook": 32, "nlist": 8, "nprobe": 2}),
    "sq8": (ResidentSQ8, {}),
}

# meta.json as indexes have always been written: kind, scalar keys and
# array names. Indexes saved by earlier versions must stay loadable, so
# none of these may change.
SAVED = {
    "exact": ("exact", {"nprobe"}, ["ids", "mat"]),
    "ivf": ("ivf", {"nprobe"},
            ["ids", "mat", "centroids", "assign", "offsets", "cell_radius"]),
    "hnsw": ("hnsw",
             {"m", "ef_construction", "keep_pruned", "shrink", "entry",
              "max_level"},
             ["ids", "mat", "levels", "nbr0", "cnt0", "up_level", "up_node",
              "up_off", "up_flat"]),
    "bq": ("bq", {"dim", "has_floats"}, ["ids", "mat", "bits"]),
    "pq": ("pq", {"dim", "m", "k", "nprobe", "has_floats"},
           ["ids", "mat", "codes", "codebooks"]),
    "ivfpq": ("pq", {"dim", "m", "k", "nprobe", "has_floats"},
              ["ids", "mat", "codes", "codebooks", "centroids", "offsets"]),
    "sq8": ("sq8", {"dim", "normalize", "has_floats"},
            ["ids", "mat", "codes", "mn", "mx", "sc"]),
}


def _corpus(seed=3, n=1200, dim=16):
    rng = np.random.default_rng(seed)
    modes = rng.normal(size=(30, dim))
    mat = modes[rng.integers(0, 30, n)] + rng.normal(0, 0.4, (n, dim))
    ids = rng.permutation(np.arange(5_000, 5_000 + n))
    queries = [mat[i] * 2 + rng.normal(0, 0.1, dim) for i in range(0, 120, 12)]
    return ids, mat.astype(np.float32), queries


def _assert_same_state(a, b):
    """Every saved scalar and array of two indexes is equal."""
    (meta_a, arr_a), (meta_b, arr_b) = a._state(), b._state()
    assert meta_a == meta_b
    assert arr_a.keys() == arr_b.keys()
    for name in arr_a:
        assert np.array_equal(arr_a[name], arr_b[name]), name
    assert np.array_equal(a.ids, b.ids)
    if a.mat is not None:
        assert np.array_equal(a.mat, b.mat)


@pytest.mark.parametrize("tier", list(TIERS))
def test_save_load_round_trip(tier, tmp_path):
    """build -> save -> load serves identically, filtered too (row
    order survives, so row masks align), loading another kind raises,
    and meta.json keeps the kind, scalar keys and array names every
    earlier version wrote."""
    cls, kw = TIERS[tier]
    ids, mat, queries = _corpus()
    built = cls((ids, mat), **kw)
    path = str(tmp_path / tier)
    built.save(path)
    loaded = cls.load(path)
    _assert_same_state(built, loaded)
    allowed_ids = ids[::7]
    for q in queries:
        assert loaded.search(q, k=10) == built.search(q, k=10)
        assert loaded.search(q, k=10, allowed=loaded.row_mask(allowed_ids)) \
            == built.search(q, k=10, allowed=built.row_mask(allowed_ids))
        if hasattr(built, "shortlist"):
            assert loaded.shortlist(q, r=40) == built.shortlist(q, r=40)

    with open(os.path.join(path, "meta.json")) as f:
        head = json.load(f)
    kind, meta_keys, arrays = SAVED[tier]
    assert head["kind"] == kind
    assert set(head["meta"]) == meta_keys
    assert list(head["arrays"]) == arrays

    other = next(c for c in (ResidentHNSW, ResidentANN, ResidentSQ8) if c is not cls)
    with pytest.raises(ValueError, match="kind"):
        other.load(path)


@pytest.mark.parametrize("tier", ["bq", "pq", "ivfpq", "sq8"])
def test_floats_free_load_serves_shortlists_only(tier, tmp_path):
    cls, kw = TIERS[tier]
    ids, mat, queries = _corpus()
    built = cls((ids, mat), **kw)
    built.save(str(tmp_path / tier))
    compact = cls.load(str(tmp_path / tier), floats=False)
    assert compact.mat is None
    for q in queries:
        assert compact.shortlist(q, r=25) == built.shortlist(q, r=25)
    with pytest.raises(ValueError, match="-only .* cannot rescore"):
        compact.search(queries[0], k=5)
    # a floats-free build saves and reloads floats-free
    lean = cls((ids, mat), keep_floats=False, **kw)
    lean.save(str(tmp_path / "lean"))
    assert cls.load(str(tmp_path / "lean")).mat is None


@pytest.mark.parametrize("tier", ["bq", "pq", "ivfpq", "sq8"])
def test_quantized_shortlist_is_tie_exact(tier):
    """Shortlists are ordered by (distance, id), so the top-r is the
    first r of any longer shortlist even when rows tie at the r-th
    distance: 40 vectors, each stored 10 times under shuffled ids, tie
    in groups of ten. (IVF-PQ probes every cell here, so both lengths
    see the same candidates.)"""
    cls, kw = TIERS[tier]
    if tier == "ivfpq":
        kw = {**kw, "nlist": 4, "nprobe": 4}
    rng = np.random.default_rng(8)
    mat = np.repeat(rng.normal(size=(40, 16)), 10, axis=0).astype(np.float32)
    ids = rng.permutation(np.arange(100, 500))
    idx = cls((ids, mat), **kw)
    for q in rng.normal(size=(3, 16)):
        full = idx.shortlist(q, r=len(ids))
        assert full == sorted(full, key=lambda t: (t[1], t[0]))
        for r in (5, 15, 25, 33):
            assert idx.shortlist(q, r=r) == full[:r], (tier, r)


def test_failed_save_keeps_previous_index(tmp_path, monkeypatch):
    """A save that dies after its first array leaves the index it was
    replacing whole: load returns the old index exactly, and the failed
    save's files are gone."""
    import pyarrow.parquet as pq

    ids, mat, queries = _corpus()
    a = ResidentANN((ids, mat), nlist=8, nprobe=2)
    b = ResidentANN((ids[::-1].copy(), mat[::-1] + 0.5), nlist=8, nprobe=2)
    path = str(tmp_path / "idx")
    a.save(path)
    files_a = sorted(os.listdir(path))

    real, calls = pq.write_table, []

    def failing_second_write(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("injected write failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing_second_write)
    with pytest.raises(OSError, match="injected"):
        b.save(path)
    monkeypatch.undo()

    assert sorted(os.listdir(path)) == files_a
    loaded = ResidentANN.load(path)
    assert np.array_equal(loaded.ids, a.ids)
    assert np.array_equal(loaded.mat, a.mat)
    assert np.array_equal(loaded.centroids, a.centroids)
    for q in queries:
        assert loaded.search(q, k=10) == a.search(q, k=10)

    # a save that completes replaces the index and its files wholly
    b.save(path)
    loaded = ResidentANN.load(path)
    _assert_same_state(b, loaded)
    assert not set(files_a) & set(os.listdir(path)) - {"meta.json"}


def test_older_fixed_name_layout_loads_and_is_replaced(tmp_path):
    """Indexes saved before saves were crash-safe name their arrays
    ``<name>.parquet`` and carry no ``file`` key: they load, and a save
    over one removes those files."""
    ids, mat, queries = _corpus()
    pq_idx = ResidentPQ((ids, mat), m=4, k_codebook=32)
    path = str(tmp_path / "old")
    pq_idx.save(path)
    with open(os.path.join(path, "meta.json")) as f:
        head = json.load(f)
    for name, spec in head["arrays"].items():
        os.rename(os.path.join(path, spec.pop("file")),
                  os.path.join(path, f"{name}.parquet"))
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(head, f)

    old = ResidentPQ.load(path)
    _assert_same_state(pq_idx, old)
    assert old.search(queries[0], k=10) == pq_idx.search(queries[0], k=10)

    sq = ResidentSQ8((ids, mat))
    sq.save(path)
    assert not any(f.endswith(".parquet") and f.count(".") == 1
                   for f in os.listdir(path))
    _assert_same_state(sq, ResidentSQ8.load(path))


def test_perfbench_targets_defined_in_owner_class():
    """perfbench/layers.py wraps TARGETS by name, and only where the
    attribute is in the owner's own class body: a method moved to a
    base class would silently read 0 in the per-layer trace. TARGETS is
    read from the source, without importing perfbench."""
    with open(os.path.join(ROOT, "perfbench", "layers.py")) as f:
        tree = ast.parse(f.read())
    (targets,) = [
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "TARGETS" for t in node.targets)
    ]
    assert targets
    for mod_name, owner_name, attrs, _ in targets:
        mod = importlib.import_module(mod_name)
        for attr in attrs:
            if owner_name is None:
                assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr}"
            else:
                assert attr in vars(getattr(mod, owner_name)), \
                    f"{owner_name}.{attr} is not in {owner_name}'s own body"

    # ResidentHNSW must not reach ResidentANN's wrapped methods (its
    # spans would count twice): no inheritance, no reference
    assert not issubclass(ResidentHNSW, ResidentANN)
    assert not issubclass(ResidentANN, ResidentHNSW)
    import postgresml_spark.operators.similarity as sim

    with open(sim.__file__) as f:
        (hnsw,) = [
            n for n in ast.parse(f.read()).body
            if isinstance(n, ast.ClassDef) and n.name == "ResidentHNSW"
        ]
    assert not any(
        isinstance(n, ast.Name) and n.id == "ResidentANN" for n in ast.walk(hnsw)
    )


@pytest.mark.parametrize("nlist", [8, 64])
def test_cell_radius_matches_per_cell_loop(nlist):
    """The vectorized covering radii equal the per-cell loop they
    replace, bit for bit, empty cells included (30 distinct vectors
    into 64 cells leave some empty)."""
    from postgresml_spark.operators.similarity import _ivf_fit, _unit_rows

    rng = np.random.default_rng(4)
    mat = np.repeat(rng.normal(size=(30, 12)), 20, axis=0).astype(np.float32)
    idx = ResidentANN((np.arange(len(mat)), mat), nlist=nlist)
    _, _, _, best, offsets = _ivf_fit(_unit_rows(mat), nlist, 42)
    want = np.full(nlist, -2.0, dtype=np.float32)
    for c in range(nlist):
        lo, hi = int(offsets[c]), int(offsets[c + 1])
        if lo < hi:
            worst = float(best[lo:hi].min())
            want[c] = (2.0 * max(0.0, 1.0 - worst)) ** 0.5 + 1e-4
    assert np.array_equal(idx.cell_radius, want)
    assert (want == -2.0).any() == (nlist == 64)
