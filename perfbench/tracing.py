"""Spans, counters and Spark/py4j probes for traced perfbench runs.

Tracing is installed from outside the library: ``Tracer.wrap`` swaps a
public function or method of a ``postgresml_spark`` module for a
wrapper that records a span around each call, and ``unwrap_all`` puts
the originals back. An untraced run installs nothing, so its numbers
carry no tracing cost.

A span is (name, op, start, end, parent). ``op`` is the operation type
the benchmark loop was running when the span opened (one serve request
kind, one ingest write kind, one batch op), and spans of one operation
share a request number. Only the main thread is traced; calls made on
worker threads run unwrapped.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_MAIN = threading.main_thread()


class Tracer:
    """In-memory span and counter store; aggregated when the run ends."""

    def __init__(self):
        self.spans: list[list] = []  # [name, op, req, start, end, parent]
        self._stack: list[int] = []
        self.op: str | None = None
        self.req = 0
        self.counts: dict[tuple[str | None, str], float] = defaultdict(float)
        self.opened: dict[str, int] = defaultdict(int)  # spans opened per name
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = True

    # -- recording -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.current_thread() is not _MAIN:
            yield
            return
        idx = len(self.spans)
        self.opened[name] += 1
        parent = self._stack[-1] if self._stack else None
        rec = [name, self.op, self.req, time.perf_counter(), None, parent]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[4] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, op: str):
        """One loop operation: a top-level span that tags its children."""
        self.op = op
        self.req += 1
        try:
            with self.span(f"op.{op}"):
                yield
        finally:
            self.op = None

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[(self.op, name)] += value

    # -- installing wrappers -------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Trace every call of ``owner.attr`` as span ``name``.

        ``after(result, args, kwargs)`` runs outside the span to record
        counters from the call. A plain function is also replaced in
        every loaded ``postgresml_spark`` module that imported it by
        name, so call sites that bound it at import time are traced too.
        """
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if after is not None and tracer.enabled:
                after(result, args, kwargs)
            return result

        new = type(orig)(traced) if isinstance(orig, (staticmethod, classmethod)) else traced
        self._set(owner, attr, new)
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if (mod is not owner and getattr(mod, "__name__", "").startswith("postgresml_spark")
                        and getattr(mod, attr, None) is orig):
                    self._set(mod, attr, new)

    def wrap_callable(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` (restored by
        unwrap_all)."""
        self._set(owner, attr, make(getattr(owner, attr)))

    def _set(self, owner, attr, value) -> None:
        had = attr in getattr(owner, "__dict__", {})
        self._patches.append((owner, attr, owner.__dict__[attr] if had else None))
        setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- aggregation ---------------------------------------------------------

    def aggregate(self) -> dict[str, dict[str, dict[str, float]]]:
        """{op: {span name: {count, busy_ms, self_ms}}} over closed spans.

        busy counts a span only when no ancestor has the same name
        (re-entrant calls are not double counted); self is a span's
        duration minus the time its children cover.
        """
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[5] is not None:
                children[s[5]].append(i)
        out: dict = defaultdict(lambda: defaultdict(
            lambda: {"count": 0, "busy_ms": 0.0, "self_ms": 0.0}))
        for i, (name, op, _req, start, end, parent) in enumerate(self.spans):
            if end is None:
                continue
            nested = False
            p = parent
            while p is not None:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][5]
            cov = _covered([(self.spans[c][3], self.spans[c][4]) for c in children[i]
                            if self.spans[c][4] is not None], start, end)
            row = out[op or "setup"][name]
            row["self_ms"] += (end - start - cov) * 1e3
            if not nested:
                row["count"] += 1
                row["busy_ms"] += (end - start) * 1e3
        return {op: dict(v) for op, v in out.items()}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Py4jCounter:
    """Counts py4j commands sent by the driver, per loop operation."""

    def __init__(self, spark, tracer: Tracer):
        self.tracer = tracer
        self.client = spark.sparkContext._gateway._gateway_client
        self.paused = 0
        orig = self.client.send_command
        counter = self

        def send_command(*args, **kwargs):
            if not counter.paused:
                tracer.count("py4j.calls")
            return orig(*args, **kwargs)

        tracer.wrap_callable(self.client, "send_command", lambda _o: send_command)

    @contextmanager
    def paused_count(self):
        self.paused += 1
        try:
            yield
        finally:
            self.paused -= 1


class SparkProbe:
    """Per-operation Spark job attribution through job groups.

    Each traced operation runs under job group ``pb:<op>``; after the
    loop the status store gives each job's stages, task metrics and
    submission/completion times. Works with the UI disabled.
    """

    def __init__(self, spark, py4j: Py4jCounter):
        self.sc = spark.sparkContext
        self.py4j = py4j
        self.op_windows: dict[str, list[tuple[float, float]]] = defaultdict(list)

    @contextmanager
    def operation(self, op: str):
        with self.py4j.paused_count():
            self.sc.setJobGroup(f"pb:{op}", op)
        t0 = time.time()
        try:
            yield
        finally:
            self.op_windows[op].append((t0, time.time()))
            with self.py4j.paused_count():
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> dict[str, dict[str, float]]:
        from py4j.protocol import Py4JJavaError

        with self.py4j.paused_count():
            jsc = self.sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            tracker = self.sc.statusTracker()
            out = {}
            for op, windows in self.op_windows.items():
                row = dict.fromkeys(
                    ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                     "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0)
                job_iv = []
                for jid in tracker.getJobIdsForGroup(f"pb:{op}"):
                    info = tracker.getJobInfo(jid)
                    row["jobs"] += 1
                    jd = store.job(jid)
                    sub, done = jd.submissionTime(), jd.completionTime()
                    if sub.isDefined():
                        end = done.get().getTime() if done.isDefined() else time.time() * 1e3
                        job_iv.append((sub.get().getTime() / 1e3, end / 1e3))
                    for sid in (info.stageIds if info else []):
                        try:
                            st = store.lastStageAttempt(sid)
                        except Py4JJavaError:  # stage skipped: no attempt recorded
                            continue
                        row["stages"] += 1
                        row["tasks"] += st.numTasks()
                        row["executor_run_ms"] += st.executorRunTime()
                        row["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                        row["shuffle_read_bytes"] += st.shuffleReadBytes()
                        row["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        row["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                wall = sum(e - s for s, e in windows)
                covered = sum(_covered(job_iv, s, e) for s, e in windows)
                row["job_cover_frac"] = covered / wall if wall > 0 else 0.0
                row["wall_s"] = wall
                out[op] = row
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's last
    execution (QueryPlanningTracker phases)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for ph in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total

