"""Tests of the benchmark itself: seeded inputs, the output contract,
span nesting, and the layer diff.

    python3 -m pytest perfbench -q

The two contract tests run the real benchmark (about a minute each).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layer_diff  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


# -- seeded inputs -----------------------------------------------------------


def _inputs(seed: int) -> str:
    serve = list(itertools.islice(datagen.serve_requests(seed), 300))
    ingest = list(itertools.islice(datagen.ingest_rounds(seed, batch=5), 3))
    order = list(itertools.islice(datagen.batch_order(seed, list("abcd"), ["t", "p"]), 30))
    return json.dumps([serve, ingest, order], sort_keys=True)


def test_same_seed_same_inputs_and_seeds_differ():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)
    kinds = {r["kind"] for r in itertools.islice(datagen.serve_requests(7), 300)}
    assert kinds == set(datagen.SERVE_KINDS)


def test_stored_data_is_fixed(tmp_path):
    def digest(d):
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            import pyarrow.parquet as pq

            h.update(name.encode())
            h.update(pq.read_table(os.path.join(d, name)).to_pandas().to_csv().encode())
        return h.hexdigest()

    rows = datagen.write_star_schema(str(tmp_path / "a"))
    datagen.write_star_schema(str(tmp_path / "b"))
    assert digest(tmp_path / "a") == digest(tmp_path / "b")
    assert rows["documents"] == datagen.N_DOCS and rows["lineitem"] > 590_000
    assert datagen.documents() == datagen.documents()


def test_ingest_tags_are_absent_from_the_corpus():
    words = {w for t in datagen.documents()["text"] for w in t.split()}
    r = next(datagen.ingest_rounds(3, batch=4))
    assert r["new_tag"] not in words and r["changed_tag"] not in words
    assert {d["id"] for d in r["new"]}.isdisjoint(range(datagen.N_DOCS))
    assert {d["id"] for d in r["changed"]} <= set(range(datagen.N_DOCS))


# -- tracing -----------------------------------------------------------------


def _fake_layers():
    mod = types.ModuleType("postgresml_spark_fake_layer")

    class Index:
        def search(self, n):
            time.sleep(0.002)
            return mod.score(n)

    def score(n):
        time.sleep(0.001)
        return score(n - 1) if n > 0 else 0

    def outer(n):
        time.sleep(0.001)
        return Index().search(n)

    mod.Index, mod.score, mod.outer = Index, score, outer
    return mod


def test_spans_nest_with_nonnegative_self_time():
    mod = _fake_layers()
    originals = (mod.outer, mod.score, mod.Index.__dict__["search"])
    tracer = Tracer()
    tracer.wrap(mod, "outer", "layer.outer")
    tracer.wrap(mod, "score", "layer.score")
    tracer.wrap(mod.Index, "search", "layer.search")
    for _ in range(3):
        with tracer.operation("req"):
            mod.outer(2)
    tracer.unwrap_all()
    assert (mod.outer, mod.score, mod.Index.__dict__["search"]) == originals

    spans = tracer.spans
    assert all(s[4] is not None and s[4] >= s[3] for s in spans)
    for name, op, req, start, end, parent in spans:
        assert op == "req"
        if parent is not None:
            p = spans[parent]
            assert p[3] <= start and end <= p[4]  # children inside parents
            assert p[2] == req  # one request id per operation
    agg = tracer.aggregate()["req"]
    assert agg["op.req"]["count"] == 3 and agg["layer.outer"]["count"] == 3
    # score recurses (n=2,1,0): busy counts only the outermost call
    assert agg["layer.score"]["count"] == 3
    for row in agg.values():
        assert row["self_ms"] >= 0 and row["busy_ms"] >= 0
    # self time of a layer excludes its children
    assert agg["layer.search"]["self_ms"] < agg["layer.search"]["busy_ms"]
    assert agg["layer.search"]["self_ms"] >= 3 * 2.0 * 0.9
    assert agg["op.req"]["self_ms"] < 1.0


def test_untraced_calls_record_nothing():
    mod = _fake_layers()
    tracer = Tracer()
    tracer.wrap(mod, "outer", "layer.outer")
    tracer.enabled = False
    mod.outer(1)
    tracer.unwrap_all()
    assert tracer.spans == []


# -- layer diff --------------------------------------------------------------


def test_layer_diff_rows():
    def run(busy):
        return {"layers_by_op": {"insert": {"spans": {
            "pipeline.sync": {"count": 1, "busy_ms": busy, "self_ms": busy / 2},
            "storage.read": {"count": 3, "busy_ms": 5.0, "self_ms": 5.0}}}}}

    rows = layer_diff.rows(run(100.0), run(50.0))
    assert rows == [("insert", "pipeline.sync", 1, 1, 100.0, 50.0, "-50%", 50.0, 25.0, "-50%")]
    assert len(layer_diff.rows(run(1.0), run(1.0), show_all=True)) == 2


# -- output contract ---------------------------------------------------------


def test_benchmark_json_matches_the_code():
    import layers
    import run

    assert [m["name"] for m in BENCH["per_layer"]] == list(layers.METRICS)
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.METRICS
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert [w["name"] for w in BENCH["workloads"]] == ["serve", "ingest", "batch"]


def _run(cwd, trace: int, workload: str = "serve"):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "5",
                              "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_real_output_has_every_metric_with_its_unit(trace, key):
    proc = _run(ROOT, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, "stdout must carry the result line only"
    out = json.loads(lines[0])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[key]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if trace:
        assert out["metrics"]["spark.jobs"]["value"] == 0  # serve runs no Spark job
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_exits_nonzero_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, 0)
    assert proc.returncode != 0
    assert proc.stdout == ""
