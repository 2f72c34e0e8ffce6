"""perfbench: end-to-end benchmark of postgresml_spark with per-layer traces.

    python3 perfbench/run.py --workload serve|ingest|batch --seed N \\
        --seconds S --trace 0|1 [--out FILE]

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics below; with
``--trace 1`` they are the per-layer metrics of ``layers.METRICS``.
Everything else (Spark and py4j logs, warnings, and a JSON detail line
describing the run) goes to standard error; ``--out`` also writes that
detail to a file, the input of ``layer_diff.py``.

End-to-end metrics, each computed for every workload from its own
operation kinds (serve: vector / hybrid / filtered / predict_one;
ingest: insert / update, each timed from upsert start until a search
returns the write; batch: q01 / q13 / q44 / train+deploy / predict):

- setup_s: session start plus data and index build. serve: corpus,
  pipeline sync and index builds, with the model trained beside them;
  ingest: corpus, pipeline sync and index builds; batch: the median of
  three builds of its parquet tables.
- p50_gmean_rel: geometric mean over the kinds of each kind's median
  relative latency, so every kind weighs the same.
- p50_sum_rel: sum over the kinds of each kind's median relative
  latency: one operation of each kind.

A relative latency is an op's wall time divided by the time of a fixed
pure-Python loop (``workloads.host_probe``) measured between ops around
it; its unit, "probe", is one such loop time. On a shared 4-core
x86_64 VM, Python ran up to 1.5x slower for seconds to minutes at a
time; over ten runs, serve medians in ms spread 15-40% and relative
ones about 6%. Milliseconds are in the detail line.

The detail line also carries each workload's own figures
(``workload_metrics``: per-kind p50s, serve p90, qps and recall@10
against exact search, visible-after-write times, batch wall, train
time, predict rows/s) and per-kind sample counts.

A traced run warms one more pass, then puts the traced loop between two
untraced loops of half the length; the per-kind median ratio of traced
to untraced relative latency is ``trace.overhead_frac``.

Every warehouse, registry, Spark scratch and temp file of a run lives
in a directory under ``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the run must end well inside 180 s
E2E_UNITS = {"setup_s": "s", "p50_gmean_rel": "probe", "p50_sum_rel": "probe"}


class Context:
    """What a workload needs from the harness: the session, its run
    directory, the seed and duration, and the tracing switch."""

    def __init__(self, args, tmp: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tmp = tmp
        self.warehouse = os.path.join(tmp, "warehouse")
        self.spark = None
        self.session_s = 0.0
        self.user_bytes = 0
        self.tracer = None
        self.py4j = None
        self.phases: dict[str, float] = {}
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall seconds since the previous mark."""
        now = time.perf_counter()
        self.phases[phase] = now - self._t0
        self._t0 = now

    def start_session(self) -> None:
        from postgresml_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        self.spark.range(1).collect()  # the session is usable, not just built
        self.session_s = time.perf_counter() - t0
        self.mark("session")

    def note_catalyst(self, df) -> None:
        """Count a DataFrame's planning time (traced phase only)."""
        if self.tracer is not None and self.tracer.enabled:
            from tracing import catalyst_ms

            with self.py4j.paused_count():
                self.tracer.count("spark.catalyst_ms", catalyst_ms(df))

    def measure(self, ops, workload: str, check=None):
        """Run the measured loop; in a traced run, the traced phase that
        gives the layers between two untraced reference phases."""
        import layers
        from tracing import Py4jCounter, SparkProbe, Tracer
        from workloads import KINDS, MIN_OPS, PASS_OPS, STEP, run_loop

        kinds, min_ops, step = KINDS[workload], MIN_OPS[workload], STEP[workload]
        self.mark("warmup")
        if not self.trace:
            loop = run_loop(ops, self.seconds, min_ops, step, check)
            self.mark("loop")
            return loop, None
        # reference phases run one pass each, to bound a traced run's length
        run_loop(ops, 0, step, step, check)  # one more pass of warming
        ref = run_loop(ops, self.seconds / 2, step, step, check)
        tracer = Tracer()
        self.py4j = Py4jCounter(self.spark, tracer)
        probe = SparkProbe(self.spark, self.py4j)
        layers.install(tracer)
        storage = layers.StorageProbe(self.warehouse)
        self.tracer = tracer
        self.user_bytes = 0

        writes = [0]

        def after(kind):
            if tracer.opened["storage.write"] != writes[0]:
                writes[0] = tracer.opened["storage.write"]
                files, nbytes = storage.delta()
                tracer.counts[(kind, "storage.files_written")] += files
                tracer.counts[(kind, "storage.bytes_written")] += nbytes

        try:
            loop = run_loop(ops, self.seconds, min_ops, step, check, tracer, probe, after)
        finally:
            tracer.enabled = False
            tracer.unwrap_all()
        # a second untraced phase, so warming that continues through the
        # run does not bias the overhead estimate
        ref2 = run_loop(ops, self.seconds / 2, step, step, check)
        for kind, rel in ref2.rel.items():
            ref.rel.setdefault(kind, []).extend(rel)
        spark_rows = probe.collect()
        result = layers.metrics(tracer, spark_rows, loop, ref, kinds, PASS_OPS[workload], self)
        for r in (ref, ref2):
            loop.attempted += r.attempted
            loop.failed += r.failed
            loop.errors += r.errors
        self.mark("loop")
        return loop, result


def describe(args) -> dict:
    """Where and how this run was made (host, code, inputs, time)."""
    import pyspark

    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "postgresml_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as f:
            digest.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        proc = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=False)
        sha = proc.stdout.strip() or None
    import datagen

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": datagen.SF, "cpus": len(os.sched_getaffinity(0)),
        "git_sha": sha, "source_sha256": digest.hexdigest(),
        "spark_version": pyspark.__version__, "python": platform.python_version(),
        "machine": platform.machine(), "timestamp": datagen.today(),
    }


def e2e_metrics(setup_s: float, loop, kinds) -> dict:
    rel = [loop.rel_median(k) for k in kinds if loop.rel.get(k)]
    values = {
        "setup_s": setup_s,
        "p50_gmean_rel": math.exp(statistics.fmean(math.log(m) for m in rel)),
        "p50_sum_rel": sum(rel),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def _stop_session(ctx: Context) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _deadline(tmp: str):
    """SIGALRM handler: the first alarm aborts the run (clean-up runs);
    a second one, if clean-up hangs, kills the JVM and exits."""
    def hard_exit(_signum, _frame):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
        os._exit(3)

    def on_alarm(_signum, _frame):
        signal.signal(signal.SIGALRM, hard_exit)
        signal.alarm(10)
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")
    return on_alarm


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "ingest", "batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="also write the run's detail JSON here")
    args = p.parse_args(argv)

    # Standard output carries the result line only: everything this
    # process or its children (the JVM) write to fd 1 goes to stderr.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    if not os.path.isdir(os.path.join(ROOT, "postgresml_spark")):
        print(f"perfbench: no postgresml_spark package under {ROOT}", file=sys.stderr)
        return 2
    for path in (ROOT, HERE, os.path.join(ROOT, "tools")):
        sys.path.insert(0, path)
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    signal.signal(signal.SIGALRM, _deadline(tmp))
    signal.alarm(DEADLINE_S)
    os.environ.update({
        # Python workers started by the JVM must import the library too
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PGML_SPARK_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
    })
    tempfile.tempdir = tmp
    ctx = Context(args, tmp)
    try:
        import warnings

        import workloads

        warnings.simplefilter("ignore")  # e.g. PinnedHNSWRecallWarning: stderr noise
        meta = describe(args)
        ctx.start_session()
        res = workloads.WORKLOADS[args.workload](ctx)
        ctx.mark("checks")
        loop = res["loop"]
        kinds = workloads.KINDS[args.workload]
        if res["layers"] is None:
            metrics = e2e_metrics(res["setup_s"], loop, kinds)
            layer_detail = None
        else:
            layer_metrics, layer_detail = res["layers"]
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer_metrics.items()}
        failed = min(loop.failed, loop.attempted)
        detail = {
            "meta": meta,
            "setup_s": res["setup_s"],
            "session_start_s": ctx.session_s,
            "workload_metrics": res["detail"],
            "kinds": {k: {"n": len(v), "p50_ms": loop.median(k) * 1e3,
                          "p90_ms": loop.percentile(k, 90) * 1e3,
                          "p50_rel": loop.rel_median(k)}
                      for k, v in loop.lat.items()},
            "probe_ms": loop.probe_median() * 1e3,
            "ops_per_s": sum(len(v) for v in loop.lat.values()) / loop.wall,
            "loop_wall_s": loop.wall,
            "phases_s": ctx.phases,
            "errors": loop.errors[:20],
            "layers_by_op": layer_detail,
        }
        result = {"correct": failed == 0 and all(loop.lat.get(k) for k in kinds),
                  "attempted": loop.attempted, "failed": failed, "metrics": metrics}
        detail["result"] = result
        line = json.dumps(detail, sort_keys=True, default=str)
        print("perfbench detail: " + line, file=sys.stderr)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
    finally:
        try:
            _stop_session(ctx)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(scratch)  # only if no other run is using it
            except OSError:
                pass
            signal.alarm(0)
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
