"""Spans around the benchmark's calls into the package, and the Spark
jobs each operation ran.

A span records a layer, a name, a start and an end (epoch seconds), the
span that caused it and the operation it belongs to. Spans are kept in
memory; ``harvest`` adds one span per Spark job (found through the job
group the operation ran under), ``self_times`` subtracts from each span
the part of its interval its children cover, and ``write`` stores them
as JSON lines when the run ends.

Only the traced run builds a ``Tracer``; timed runs never call into
this module.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

OP_KINDS = ("insert", "optimize", "select")
SPARK_COUNTERS = ("jobs", "tasks", "job_s", "gap_s", "executor_cpu_s",
                  "executor_run_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "failed_tasks")
PHASES = ("analysis", "optimization", "planning")
LAYERS = ("client", "ch_http", "cdc", "ch_ddl", "ch_select", "queries", "spark")


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    kind: str | None = None  # operation kind, on operation roots
    attrs: dict = field(default_factory=dict)
    self_s: float = 0.0


def union_length(intervals, lo: float = -float("inf"), hi: float = float("inf")) -> float:
    """Total length covered by ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
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


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._groups: dict[int, str] = {}  # span id -> Spark job group
        self._frames: dict[int, object] = {}  # select span id -> DataFrame

    # -- recording ----------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, layer: str, name: str, kind: str | None, group: bool) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = Span(sid, layer, name, time.time(), parent=parent.sid if parent else None,
                    op=parent.op if parent else sid, kind=kind)
        if group:
            gid = f"perfbench-{sid}"
            self.spark.sparkContext.setJobGroup(gid, f"{layer}:{name}", False)
            self._groups[sid] = gid
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        self.overhead_s += time.perf_counter() - t0
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()

    @contextmanager
    def op(self, kind: str, name: str, layer: str = "client"):
        """One client operation: a root span whose Spark jobs are tagged
        with a job group of their own."""
        span = self._open(layer, name, kind, group=True)
        try:
            yield span
        finally:
            self._close(span)

    @contextmanager
    def span(self, layer: str, name: str, group: bool = False):
        span = self._open(layer, name, None, group)
        try:
            yield span
        finally:
            self._close(span)

    def add(self, layer: str, name: str, start: float, end: float,
            kind: str | None = None, **attrs) -> Span:
        """A span measured elsewhere (another process), as a new root."""
        span = Span(next(self._ids), layer, name, start, end, kind=kind, attrs=attrs)
        span.op = span.sid
        with self._lock:
            self.spans.append(span)
        return span

    def keep_frame(self, span: Span, df) -> None:
        """Keep a SELECT's DataFrame so its planning phases and input
        files are read after the timed window."""
        self._frames[span.sid] = df

    def wrapped(self, fn, layer: str, name: str):
        """``fn`` with every call recorded as a span."""
        tracer = self

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return inner

    # -- after the timed window ---------------------------------------
    def harvest(self) -> None:
        """Add a span per Spark job of every tagged operation, with the
        job's stage counters as attributes, and read each kept
        DataFrame's planning phases and input files."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        by_id = {s.sid: s for s in self.spans}
        depth: dict[int, int] = {}
        for s in self.spans:
            d, p = 0, s.parent
            while p is not None:
                d, p = d + 1, by_id[p].parent
            depth[s.sid] = d
        seen: set[int] = set()
        for sid, gid in self._groups.items():
            owner = by_id[sid]
            for job_id in sorted(sc.statusTracker().getJobIdsForGroup(gid)):
                if job_id in seen:
                    continue
                seen.add(job_id)
                job = store.job(job_id)
                start = job.submissionTime().get().getTime() / 1000.0
                done = job.completionTime()
                end = done.get().getTime() / 1000.0 if done.isDefined() else start
                stage_ids = [int(x) for x in job.stageIds().mkString(",").split(",") if x]
                attrs = {"job_id": job_id, "tasks": job.numTasks() - job.numSkippedTasks(),
                         "failed_tasks": job.numFailedTasks(), "stages": stage_ids}
                parent = self._innermost(owner, start, depth)
                span = Span(next(self._ids), "spark", f"job {job_id}", start, end,
                            parent=parent.sid, op=owner.op, attrs=attrs)
                self.spans.append(span)
        self._stage_counters(store)
        for sid, df in self._frames.items():
            span = by_id[sid]
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for p in PHASES:
                got = phases.get(p)
                span.attrs[f"{p}_ms"] = got.get().durationMs() if got.isDefined() else 0
            span.attrs["files_scanned"] = len(df.inputFiles())
        self._frames.clear()

    def _innermost(self, owner: Span, t: float, depth: dict[int, int]) -> Span:
        """The deepest span of ``owner``'s operation whose interval holds
        ``t`` — the call that submitted a job starting at ``t``."""
        held = [s for s in self.spans
                if s.op == owner.op and s.layer != "spark" and s.start <= t <= s.end]
        return max(held, key=lambda s: depth[s.sid], default=owner)

    def _stage_counters(self, store) -> None:
        """Executor counters per operation, each stage counted once."""
        stages_of_op: dict[int, set[int]] = {}
        for s in self.spans:
            if s.layer == "spark":
                stages_of_op.setdefault(s.op, set()).update(s.attrs["stages"])
        roots = {s.sid: s for s in self.spans if s.op == s.sid}
        for op, stage_ids in stages_of_op.items():
            c = dict.fromkeys(("executor_cpu_s", "executor_run_s", "gc_s",
                               "shuffle_read_bytes", "shuffle_write_bytes"), 0.0)
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the status store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            roots[op].attrs.update(c)

    def self_times(self) -> None:
        """Each span's duration minus the union of its children's
        intervals (clipped to it)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        for s in self.spans:
            kids = children.get(s.sid, [])
            s.self_s = (s.end - s.start) - union_length(
                [(k.start, k.end) for k in kids], s.start, s.end)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    # -- per-layer metrics --------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics over the operation roots: medians per
        operation of each kind, means per operation for self times."""
        roots = [s for s in self.spans if s.op == s.sid and s.kind]
        by_op: dict[int, list[Span]] = {}
        for s in self.spans:
            by_op.setdefault(s.op, []).append(s)
        out: dict[str, float] = {}
        for kind in OP_KINDS:
            ops = [r for r in roots if r.kind == kind]
            per: dict[str, list[float]] = {k: [] for k in SPARK_COUNTERS}
            for r in ops:
                jobs = [s for s in by_op[r.sid] if s.layer == "spark"]
                job_s = union_length([(j.start, j.end) for j in jobs], r.start, r.end)
                per["jobs"].append(len(jobs))
                per["tasks"].append(sum(j.attrs["tasks"] for j in jobs))
                per["failed_tasks"].append(sum(j.attrs["failed_tasks"] for j in jobs))
                per["job_s"].append(job_s)
                per["gap_s"].append((r.end - r.start) - job_s)
                for k in ("executor_cpu_s", "executor_run_s", "gc_s",
                          "shuffle_read_bytes", "shuffle_write_bytes"):
                    per[k].append(r.attrs.get(k, 0.0))
            for k, vals in per.items():
                if k == "failed_tasks":
                    out[f"{kind}.spark.{k}"] = float(sum(vals))
                else:
                    out[f"{kind}.spark.{k}"] = statistics.median(vals) if vals else 0.0
        selects = [s for s in self.spans if "analysis_ms" in s.attrs]
        for p in PHASES:
            vals = [s.attrs[f"{p}_ms"] for s in selects]
            out[f"select.spark.{p}_ms"] = statistics.median(vals) if vals else 0.0
        files = [s.attrs["files_scanned"] for s in selects]
        out["manifest.files_scanned"] = statistics.median(files) if files else 0.0
        for key in ("cdc.unwrap", "ch_select.compile", "ch_ddl.apply_mv",
                    "ch_ddl.insert", "ch_ddl.optimize", "ch_ddl.query"):
            layer, name = key.split(".")
            per_op = {}
            for s in self.spans:
                if s.layer == layer and s.name == name:
                    per_op[s.op] = per_op.get(s.op, 0.0) + (s.end - s.start)
            out[f"{key}_s"] = statistics.median(per_op.values()) if per_op else 0.0
        requests = [r for r in roots if r.layer == "ch_http"]
        if requests:
            out["ch_http.request_s"] = statistics.median(r.end - r.start for r in requests)
            out["ch_http.server_self_s"] = statistics.median(r.self_s for r in requests)
            out["ch_http.request_bytes"] = statistics.median(r.attrs["req_bytes"] for r in requests)
            out["ch_http.response_bytes"] = statistics.median(r.attrs["resp_bytes"] for r in requests)
        n_ops = max(1, len(roots))
        for layer in LAYERS:
            if layer == "spark":
                # jobs under one parent may overlap: count their union once
                total = 0.0
                parents: dict[int, list[Span]] = {}
                for s in self.spans:
                    if s.layer == "spark":
                        parents.setdefault(s.parent, []).append(s)
                for js in parents.values():
                    total += union_length([(j.start, j.end) for j in js])
            else:
                total = sum(s.self_s for s in self.spans if s.layer == layer)
            out[f"self_s.{layer}"] = total / n_ops
        out["trace.overhead_s"] = self.overhead_s / n_ops
        return out
