"""In-memory span tracing, a py4j call counter and Spark status-store reads.

Everything here attaches from outside the engine: spans wrap public
functions by rebinding module attributes, the py4j counter wraps the
gateway client's `send_command`, and Spark's own status store supplies the
job, stage and task figures. Nothing in the engine is edited.

A span is (name, start, end, parent, request id). Spans nest per thread;
a span opened on a thread with no open span (an HTTP handler thread, say)
takes the current operation's root span as its parent, which is correct
because the benchmark's client keeps exactly one operation in flight.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None   # index into Tracer.spans, None for a root
    req: int | None      # operation id the span belongs to


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _root: int | None = None   # span index of the operation in flight
    _req: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self._root
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self._req))
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @property
    def current_op(self) -> int | None:
        """Id of the operation in flight, if any."""
        return self._req

    def begin_op(self, name: str, req: int) -> int | None:
        """Open the root span of one operation (a request or a query)."""
        if not self.enabled:
            return None
        self._req = req
        idx = self.open(name)
        self._root = idx
        return idx

    def end_op(self, idx: int | None) -> None:
        if idx is None:
            return
        self.close(idx)
        self._root = self._req = None

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)
        return traced


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the union of its
    children's intervals clipped to it. Never negative and never more
    than the span's own duration, even when children overlap or a child
    on another thread outlives its parent."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [max(0.0, (s.end - s.start) - union_length(
                (max(a, s.start), min(b, s.end)) for a, b in kids.get(i, [])))
            for i, s in enumerate(spans)]


OPERATOR_SPANS = ("operators.route_one", "operators.encode_query",
                  "operators.cosine_scores", "operators.fusion_score",
                  "functions.vector_lit")


def span_ms(spans: list[Span], name: str, ops: set) -> float:
    """Total ms of the spans called `name` inside the given operations."""
    return sum((s.end - s.start) * 1000 for s in spans
               if s.name == name and s.req in ops)


def operator_layer(spans: list[Span], ops: set) -> dict[str, float]:
    """Per-operation ms in each wrapped operator, and vector_lit calls."""
    n = max(1, len(ops))
    out = {f"{name}_ms": span_ms(spans, name, ops) / n
           for name in OPERATOR_SPANS}
    out["functions.vector_lit_calls"] = sum(
        1 for s in spans
        if s.name == "functions.vector_lit" and s.req in ops) / n
    return out


def overhead_ms_per_op(spans: list[Span], ops: set,
                       tagging_s: float) -> float:
    """Estimated tracing cost per operation: span bookkeeping plus the
    time spent tagging Spark jobs."""
    n = max(1, len(ops))
    n_spans = sum(1 for s in spans if s.req in ops)
    return (n_spans * calibrate_span_cost() + tagging_s) * 1000 / n


def summary(spans: list[Span]) -> dict[str, tuple[int, float, float]]:
    """Per span name: (count, total ms, self ms)."""
    out: dict[str, list] = {}
    for s, own in zip(spans, self_times(spans)):
        rec = out.setdefault(s.name, [0, 0.0, 0.0])
        rec[0] += 1
        rec[1] += (s.end - s.start) * 1000
        rec[2] += own * 1000
    return {k: tuple(v) for k, v in out.items()}


def dump(spans: list[Span], path: str) -> None:
    """Write the spans as JSON lines: name, start, end, parent, req."""
    import json

    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps([s.name, s.start, s.end, s.parent, s.req])
                     + "\n")


def rebind(module_prefix: str, target, replacement) -> int:
    """Point every module-level name under `module_prefix` that is bound
    to `target` at `replacement` (covers `from x import f` copies).
    Returns how many bindings moved."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(module_prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if val is target:
                setattr(mod, attr, replacement)
                n += 1
    return n


class Py4jCounter:
    """Counts round trips through the gateway client. Calls made while
    `paused` on the current thread (the benchmark's own bookkeeping) are
    not counted. Without a session it counts nothing."""

    def __init__(self, spark=None) -> None:
        self.calls = 0
        self._local = threading.local()
        if spark is None:
            return
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*args, **kwargs):
            if not getattr(self._local, "paused", False):
                self.calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command

    def pause(self):
        counter = self

        class _Paused:
            def __enter__(self):
                counter._local.paused = True

            def __exit__(self, *exc):
                counter._local.paused = False

        return _Paused()


STAGE_FIELDS = ("numTasks", "numFailedTasks", "executorRunTime", "jvmGcTime",
                "inputRecords", "outputRecords", "shuffleReadBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


def read_jobs(spark) -> dict[str, dict]:
    """Sum Spark's status-store figures per job group. Returns
    {group: {jobs, stages, in_jobs_ms, <STAGE_FIELDS>...}}. `in_jobs_ms`
    is the union of the group's job intervals, so concurrent jobs are not
    double counted."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    by_group: dict[str, dict] = {}
    intervals: dict[str, list[tuple[int, int]]] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        grp = j.jobGroup()
        if grp.isEmpty():
            continue
        g = grp.get()
        rec = by_group.setdefault(g, {"jobs": 0, "stages": 0,
                                      "in_jobs_ms": 0.0,
                                      **{f: 0 for f in STAGE_FIELDS}})
        rec["jobs"] += 1
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isEmpty() and not done.isEmpty():
            intervals.setdefault(g, []).append(
                (sub.get().getTime(), done.get().getTime()))
        sids = j.stageIds()
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(k))
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            rec["stages"] += 1
            for f in STAGE_FIELDS:
                rec[f] += getattr(st, f)()
    for g, ivs in intervals.items():
        by_group[g]["in_jobs_ms"] = float(union_length(ivs))
    return by_group


def spark_layer(groups: list[dict], walls_ms: list[float]) -> dict[str, float]:
    """Per-operation means of the status-store figures for a set of
    operations (one group record per operation, zeros for operations that
    ran no job), plus the time outside jobs: wall - in-jobs time."""
    n = max(1, len(walls_ms))

    def tot(key):
        return sum(g.get(key, 0) for g in groups)

    in_jobs = tot("in_jobs_ms")
    out_rows = tot("outputRecords")
    return {
        "spark.jobs": tot("jobs") / n,
        "spark.stages": tot("stages") / n,
        "spark.tasks": tot("numTasks") / n,
        "spark.in_jobs_ms": in_jobs / n,
        "spark.outside_jobs_ms": max(0.0, sum(walls_ms) - in_jobs) / n,
        "spark.task_ms": tot("executorRunTime") / n,
        "spark.gc_ms": tot("jvmGcTime") / n,
        "spark.shuffle_write_bytes": tot("shuffleWriteBytes") / n,
        "spark.shuffle_read_bytes": tot("shuffleReadBytes") / n,
        "spark.spill_bytes": (tot("memoryBytesSpilled")
                              + tot("diskBytesSpilled")) / n,
        "spark.failed_tasks": tot("numFailedTasks") / n,
        "spark.rows_read_per_row_out": (tot("inputRecords") / out_rows
                                        if out_rows else 0.0),
    }


def _caches():
    """(qualified name, dict) of every module-level `*_CACHE` dict in the
    engine's modules: the session pins and memoized store handles."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("hadith_vector_search_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if attr.endswith("_CACHE") and isinstance(val, dict):
                yield f"{mod_name}.{attr}", val


def cache_entries() -> int:
    return sum(len(c) for _, c in _caches())


def cache_keys() -> set[tuple[str, object]]:
    return {(name, k) for name, c in _caches() for k in list(c)}


def calibrate_span_cost(n: int = 20_000) -> float:
    """Seconds one open/close pair costs on this host."""
    probe = Tracer(enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        probe.close(probe.open("x"))
    return (time.perf_counter() - t0) / n


def rss_peak_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM the session launched."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    best = 0.0
    for p in _descendants(proc.pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
        except OSError:
            continue
        best = max(best, rss_peak_mb(p))
    return best
