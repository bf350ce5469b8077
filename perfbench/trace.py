"""Benchmark-side tracing: spans around every call into a layer, Spark job
attribution through job groups, and per-layer metrics read from Spark's
status store.

Nothing here changes the program under test. Spans are opened by the
workloads around their calls into the library; each span sets a Spark job
group on the calling thread, so its jobs carry the span id. Jobs submitted
from other threads (``Library._pmap`` pool threads in ``read_batch``) carry
no group and are attributed to the innermost span whose wall window holds
their submission time. Spans live in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op_id: int
    parent: int | None
    start_ms: float
    end_ms: float = 0.0
    # work only the traced run does (plan build + action split of a pandas
    # read, single reads beside read_batch): its jobs are not the op's
    extra: bool = False
    jobs: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


@dataclass
class OpRecord:
    op_id: int
    name: str
    cls: str
    ms: float = 0.0
    persisted_after: int = 0
    meta_calls: int = 0
    meta_ms: float = 0.0
    meta_bytes: int = 0
    files_scanned: int | None = None
    files_in_version: int | None = None
    user_bytes: int = 0
    stored_bytes: int = 0


class Tracer:
    """Span recorder. While ``enabled`` is false every method is a no-op, so
    untraced cycles run the same workload code. ``tracing`` is fixed for the
    run and decides whether the metadata filesystem gets wrapped."""

    def __init__(self, spark, tracing: bool):
        self.spark = spark
        self.tracing = tracing
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._stack: list[Span] = []
        self._op: OpRecord | None = None
        self._lock = threading.Lock()

    # --- recording -------------------------------------------------------

    @contextmanager
    def op(self, name: str, cls: str):
        """Top-level span of one timed operation."""
        if not self.enabled:
            yield None
            return
        rec = OpRecord(op_id=len(self.ops), name=name, cls=cls)
        self.ops.append(rec)
        self._op = rec
        try:
            with self.span(name, "op"):
                yield rec
        finally:
            self._op = None
            rec.ms = self.spans_of(rec.op_id)[0].ms
            rec.persisted_after = (
                self.spark.sparkContext._jsc.getPersistentRDDs().size())

    @contextmanager
    def span(self, name: str, layer: str, extra: bool = False):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(span_id=len(self.spans), name=name, layer=layer,
                 op_id=self._op.op_id if self._op else -1,
                 parent=parent.span_id if parent else None,
                 start_ms=time.time() * 1000, extra=extra)
        self.spans.append(s)
        self._stack.append(s)
        sc.setLocalProperty(_GROUP_KEY, f"{GROUP_PREFIX}{s.span_id}")
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000
            self._stack.pop()
            sc.setLocalProperty(
                _GROUP_KEY,
                f"{GROUP_PREFIX}{parent.span_id}" if parent else None)

    def count_meta(self, ms: float, nbytes: int) -> None:
        """Called by the wrapped metadata filesystem, from any thread."""
        rec = self._op
        if rec is None:
            return
        with self._lock:
            rec.meta_calls += 1
            rec.meta_ms += ms
            rec.meta_bytes += nbytes

    def spans_of(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def wrap_metadata_fs(self, fs) -> None:
        """Count calls, time and bytes of the catalog's metadata filesystem
        (refs, manifests, snapshots) by wrapping the instance's methods."""
        if not self.tracing:
            return

        def wrap(name, size_of):
            inner = getattr(fs, name)

            def call(*args, **kw):
                t0 = time.perf_counter()
                out = inner(*args, **kw)
                self.count_meta((time.perf_counter() - t0) * 1000,
                                size_of(args, out))
                return out
            setattr(fs, name, call)

        def read_size(args, _out):
            try:
                return os.path.getsize(args[0])
            except OSError:
                return 0

        def write_size(args, _out):
            return len(json.dumps(args[1], default=str))

        wrap("read_json", read_size)
        wrap("write_json_atomic", write_size)
        wrap("write_json_if_absent", write_size)
        for name in ("listdir", "exists", "isdir", "remove"):
            wrap(name, lambda a, o: 0)

    # --- status store ----------------------------------------------------

    def attribute_jobs(self) -> dict:
        """Read every job and stage from the status store and attach each
        job to a span. Returns counts of tagged / window-attributed jobs."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        _wait_idle(store)
        stages = {}
        it = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0),
                             None).iterator()
        while it.hasNext():
            st = it.next()
            agg = stages.setdefault(st.stageId(), _zero_stage())
            agg["tasks"] += st.numCompleteTasks()
            agg["run_ms"] += st.executorRunTime()
            agg["cpu_ms"] += st.executorCpuTime() / 1e6
            agg["input_bytes"] += st.inputBytes()
            agg["shuffle_read_bytes"] += st.shuffleReadBytes()
            agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
            agg["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
            agg["ran"] = agg["ran"] or st.status().toString() != "SKIPPED"
        by_id = {s.span_id: s for s in self.spans}
        tagged = windowed = 0
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            submitted = (j.submissionTime().get().getTime()
                         if j.submissionTime().isDefined() else None)
            done = (j.completionTime().get().getTime()
                    if j.completionTime().isDefined() else submitted)
            span = None
            if group and group.startswith(GROUP_PREFIX):
                span = by_id.get(int(group[len(GROUP_PREFIX):]))
                tagged += span is not None
            elif submitted is not None:
                span = self._innermost_at(submitted)
                windowed += span is not None
            if span is None:
                continue
            sids = j.stageIds()
            job_stages = [stages.get(sids.apply(i), _zero_stage())
                          for i in range(sids.size())]
            span.jobs.append({
                "job_id": j.jobId(),
                "ms": (done - submitted) if submitted is not None else 0,
                "stages": sum(1 for s in job_stages if s["ran"]),
                **{k: sum(s[k] for s in job_stages)
                   for k in _STAGE_SUMS}})
        return {"tagged_jobs": tagged, "window_jobs": windowed}

    def _innermost_at(self, t_ms: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start_ms <= t_ms <= s.end_ms and (
                    best is None or s.start_ms >= best.start_ms):
                best = s
        return best

    # --- per-layer metrics ------------------------------------------------

    def op_totals(self, op_id: int, layer: str | None = None) -> dict:
        """Spark totals of the jobs one op runs untraced, optionally only
        those attributed to spans of ``layer``."""
        jobs = [j for s in self.spans_of(op_id) if not s.extra
                and (layer is None or s.layer == layer) for j in s.jobs]
        out = {k: sum(j[k] for j in jobs) for k in _STAGE_SUMS}
        out["jobs"] = len(jobs)
        out["stages"] = sum(j["stages"] for j in jobs)
        return out

    def layer_ms(self, op_id: int, layer: str) -> float:
        return sum(s.ms for s in self.spans_of(op_id) if s.layer == layer)

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary,
                       "ops": [vars(o) for o in self.ops],
                       "spans": [vars(s) for s in self.spans]}, f)


_STAGE_SUMS = ("tasks", "run_ms", "cpu_ms", "input_bytes",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _zero_stage() -> dict:
    return {**{k: 0 for k in _STAGE_SUMS}, "ran": False}


def _wait_idle(store, timeout_s: float = 10.0) -> None:
    """The status store is fed by the asynchronous listener bus: wait until
    no job is running and the job count has stopped changing."""
    deadline = time.time() + timeout_s
    last = -1
    while time.time() < deadline:
        jobs = store.jobsList(None)
        n = jobs.size()
        running = False
        it = jobs.iterator()
        while it.hasNext():
            if it.next().status().toString() == "RUNNING":
                running = True
                break
        if n == last and not running:
            return
        last = n
        time.sleep(0.3)


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.fmean(xs)) if xs else 0.0
