"""Traced-run machinery: spans recorded from outside the program, and
the Spark event log read back per operation.

Nothing here is imported by the program. ``Tracer.install`` wraps
BFR's phase methods and ``LocalKMeans.fit`` on their classes (and
``uninstall`` restores them); ``Tracer.op`` tags every Spark job an
operation launches with the local property ``perfbench.op``, which
the event log carries on each job and stage.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

OP_PROPERTY = "perfbench.op"


@dataclass
class Span:
    name: str
    op: str | None
    t0: float
    t1: float
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.t1 - self.t0


def _current_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Collects spans in memory; with ``enabled`` False every method
    is a no-op, so an untraced run measures the program alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._op: str | None = None
        self._restore: list[tuple[type, str, object]] = []

    # ------------------------------------------------------- operations

    @contextmanager
    def op(self, op_id: str):
        """One benchmark operation (a fit or a query execution): its
        span, and its tag on every Spark job it launches."""
        if not self.enabled:
            yield
            return
        sc = _current_sc()
        sc.setLocalProperty(OP_PROPERTY, op_id)
        self._op = op_id
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span("op", op_id, t0, time.time()))
            self._op = None
            sc.setLocalProperty(OP_PROPERTY, None)

    def _record(self, name: str, t0: float, attrs: dict | None = None) -> None:
        self.spans.append(Span(name, self._op, t0, time.time(), attrs or {}))

    # --------------------------------------------------------- wrappers

    def install(self) -> None:
        """Wrap the BFR phases and LocalKMeans.fit. Idempotent."""
        if not self.enabled or self._restore:
            return
        from bfr_clustering_using_pyspark_spark.ml.bfr import BFR
        from bfr_clustering_using_pyspark_spark.ml.local_kmeans import LocalKMeans

        tracer = self

        def wrap(cls, meth, before=None, after=None, name=None):
            orig = cls.__dict__[meth]

            @functools.wraps(orig)
            def wrapper(self, *args, **kwargs):
                t0 = time.time()
                attrs = before(self, *args) if before else {}
                try:
                    return orig(self, *args, **kwargs)
                finally:
                    if after:
                        attrs.update(after(self, attrs))
                    tracer._record(name or meth, t0, attrs)

            self._restore.append((cls, meth, orig))
            setattr(cls, meth, wrapper)

        def round_stats(bfr, _attrs):
            last = bfr.intermediate_stats().iloc[-1]
            return {"rs": int(last["nof_point_retained"]),
                    "cs_points": int(last["nof_point_compression"])}

        def cs_count(bfr):
            return 0 if bfr.cs is None else bfr.cs.k

        wrap(BFR, "fit")
        wrap(BFR, "fit_stream")
        wrap(BFR, "_init_from_sample")
        wrap(BFR, "_apply_feedback", before=lambda b, fb: {"rows": len(fb)})
        wrap(BFR, "_compress_rs")
        wrap(BFR, "_merge_css", before=lambda b: {"k0": cs_count(b)},
             after=lambda b, a: {"merged": a["k0"] - cs_count(b)})
        wrap(BFR, "_fold_rs_into_ds")
        wrap(BFR, "_fold_cs_into_ds")
        wrap(BFR, "_record_round", after=round_stats)
        wrap(LocalKMeans, "fit", before=lambda km, pts: {"points": len(pts)},
             name="local_kmeans.fit")

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._restore):
            setattr(cls, meth, orig)
        self._restore.clear()

    @contextmanager
    def paused(self):
        """Wrappers removed and no op tagging inside: a plain unit of
        the traced run, timed against the traced ones for
        ``trace.overhead_frac``."""
        was = self.enabled
        self.uninstall()
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = was
            self.install()


# ------------------------------------------------------------ event log

@dataclass
class Job:
    op: str | None
    t0: float
    t1: float


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    pyworker_s: float = 0.0
    bytes_to_py: int = 0
    bytes_from_py: int = 0


_SQL_METRICS = {
    "time to run Python workers": ("pyworker_s", 1e-3),
    "data sent to Python workers": ("bytes_to_py", 1),
    "data returned from Python workers": ("bytes_from_py", 1),
}


def read_event_logs(log_dir: str) -> tuple[list[Job], dict[str, list[StageStats]]]:
    """Jobs (with their op tag and wall interval) and completed-stage
    statistics grouped by op, from every uncompressed event log in
    ``log_dir`` (one per SparkContext the run created). Stage numbers
    restart per application, so each file is read on its own."""
    jobs: list[Job] = []
    by_op: dict[str, list[StageStats]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        starts: dict[int, tuple[str | None, float]] = {}
        stage_op: dict[tuple[int, int], str | None] = {}
        stages: dict[tuple[int, int], StageStats] = defaultdict(StageStats)
        completed: set[tuple[int, int]] = set()
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get(OP_PROPERTY)
                    starts[ev["Job ID"]] = (op, ev["Submission Time"] / 1e3)
                elif kind == "SparkListenerJobEnd":
                    op, t0 = starts.pop(ev["Job ID"], (None, None))
                    if t0 is not None:
                        jobs.append(Job(op, t0, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_op[key] = (ev.get("Properties") or {}).get(OP_PROPERTY)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages[(ev["Stage ID"], ev["Stage Attempt ID"])], ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    completed.add((info["Stage ID"], info["Stage Attempt ID"]))
        for key in completed:
            op = stage_op.get(key)
            if op is not None:
                by_op[op].append(stages[key])
    return jobs, by_op


def _add_task(st: StageStats, ev: dict) -> None:
    st.tasks += 1
    m = ev.get("Task Metrics") or {}
    st.run_s += m.get("Executor Run Time", 0) / 1e3
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = _SQL_METRICS.get(acc.get("Name"))
        if hit and acc.get("Update") is not None:
            attr, scale = hit
            setattr(st, attr, getattr(st, attr) + float(acc["Update"]) * scale)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ------------------------------------------------------- per-unit rollup

def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def unit_layers(ops: list[str], spans: list[Span], jobs: list[Job],
                stages: dict[str, list[StageStats]]) -> dict[str, float]:
    """Per-layer figures of one unit of work (one BFR fit, or one pass
    over the registry keys): the sums over its operations."""
    opset = set(ops)
    mine = [s for s in spans if s.op in opset]
    by = defaultdict(list)
    for s in mine:
        by[s.name].append(s)
    out: dict[str, float] = {}

    fits = by["fit"]
    rounds: list[float] = []
    probe = round_spark = 0.0
    for f in fits:
        inner = [s for s in mine if f.t0 <= s.t0 and s.t1 <= f.t1]
        streams = [s for s in inner if s.name == "fit_stream"]
        if streams:
            probe += streams[0].t0 - f.t0
            marks = [streams[0].t0] + sorted(s.t1 for s in inner if s.name == "_record_round")
            rounds += [b - a for a, b in zip(marks, marks[1:])]
            op_jobs = [(j.t0, j.t1) for j in jobs if j.op == f.op]
            round_spark += union_s(op_jobs, marks[0], marks[-1])
    out["bfr.probe_s"] = probe
    out["bfr.init_s"] = sum(s.s for s in by["_init_from_sample"])
    out["bfr.round_s.p50"] = median(rounds)
    out["bfr.round_s.max"] = max(rounds, default=0.0)
    out["bfr.round_spark_s"] = round_spark
    out["bfr.feedback_s"] = sum(s.s for s in by["_apply_feedback"])
    out["bfr.feedback_rows"] = sum(s.attrs["rows"] for s in by["_apply_feedback"])
    out["bfr.compress_s"] = sum(s.s for s in by["_compress_rs"])
    out["bfr.compress_calls"] = len(by["_compress_rs"])
    out["bfr.cs_merge_s"] = sum(s.s for s in by["_merge_css"])
    out["bfr.cs_merged"] = sum(s.attrs["merged"] for s in by["_merge_css"])
    out["bfr.fold_s"] = sum(s.s for s in by["_fold_rs_into_ds"] + by["_fold_cs_into_ds"])
    recs = by["_record_round"]
    out["bfr.rs_peak"] = max((s.attrs["rs"] for s in recs), default=0)
    out["bfr.cs_points_peak"] = max((s.attrs["cs_points"] for s in recs), default=0)
    km = by["local_kmeans.fit"]
    out["local_kmeans.calls"] = len(km)
    out["local_kmeans.points"] = sum(s.attrs["points"] for s in km)
    out["local_kmeans.s"] = sum(s.s for s in km)

    def outside_jobs(s: Span) -> float:
        """Driver time: the span's wall time outside its op's jobs."""
        return s.s - union_s([(j.t0, j.t1) for j in jobs if j.op == s.op], s.t0, s.t1)

    out["bfr.driver_s"] = sum(outside_jobs(f) for f in fits)
    out["driver_s"] = sum(outside_jobs(s) for s in by["op"])
    out["spark.jobs"] = sum(1 for j in jobs if j.op in opset)
    sts = [st for op in ops for st in stages.get(op, [])]
    out["spark.stages"] = len(sts)
    out["spark.tasks"] = sum(st.tasks for st in sts)
    out["spark.executor_run_s"] = sum(st.run_s for st in sts)
    out["spark.executor_cpu_s"] = sum(st.cpu_s for st in sts)
    out["spark.gc_s"] = sum(st.gc_s for st in sts)
    out["spark.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in sts)
    out["spark.spill_bytes"] = sum(st.spill_bytes for st in sts)
    out["pyworker.s"] = sum(st.pyworker_s for st in sts)
    out["arrow.bytes_to_py"] = sum(st.bytes_to_py for st in sts)
    out["arrow.bytes_from_py"] = sum(st.bytes_from_py for st in sts)
    return out
