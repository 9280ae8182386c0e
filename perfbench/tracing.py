"""Spans around the calls into each layer, plus Spark counters from the
event log, attributed to the innermost open span.

Spark is lazy, so a span only measures work when it wraps a call that runs
an action. :func:`layer_patches` therefore wraps the action-running entry
points at module or class attribute level (the package itself is never
edited); the benchmark opens its own spans around each operation.

Spans are kept in memory and read after the run. A job is attributed to
the span that was opened last among those open at the job's submission
time; a span's self time is its duration minus the part of it its child
spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    parent: "Span | None" = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. ``enabled`` is toggled per operation, so
    one run can alternate traced and untraced operations.

    A span's parent is the innermost span open on its own thread; a span
    opened on a worker thread with none open (``rebuild_summaries`` runs
    its two writes on a thread pool) takes the innermost span open on the
    thread that created the tracer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._open: dict[int, list[Span]] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        me = threading.get_ident()
        with self._lock:
            stack = self._open.setdefault(me, [])
            outer = stack or self._open.get(self._main, [])
            s = Span(name, time.time(), attrs=attrs, parent=outer[-1] if outer else None)
            stack.append(s)
        try:
            yield attrs
        finally:
            s.t1 = time.time()
            with self._lock:
                stack.remove(s)
                self.spans.append(s)


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration of ``span`` minus the union of its children's intervals."""
    covered, end = 0.0, span.t0
    for c in sorted((c for c in spans if c.parent is span), key=lambda c: c.t0):
        lo, hi = max(c.t0, end), min(c.t1, span.t1)
        if hi > lo:
            covered += hi - lo
            end = hi
    return span.dur - covered


def _wrap(tracer: Tracer, fn, name_of, on_result=None):
    def wrapper(*args, **kwargs):
        with tracer.span(name_of(args, kwargs)) as attrs:
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(attrs, out)
            return out

    wrapper.__wrapped__ = fn
    return wrapper


@contextmanager
def layer_patches(tracer: Tracer, dataframe_cls, captured: dict):
    """Install span wrappers on the action-running entry points of each
    layer; restore the originals on exit. ``captured`` receives the lazy
    DataFrame each ``candidate_pairs`` call returns, so the benchmark can
    count candidates separately."""
    from abs_log_spark.catalog import Catalog
    from abs_log_spark.operators import dedup
    from abs_log_spark.plans import checkpoint, pipeline
    from abs_log_spark.plans.metrics import StageMetrics

    def table_arg(args, kwargs):
        return f"catalog.write:{kwargs.get('table', args[2] if len(args) > 2 else '?')}"

    def fixed(name):
        return lambda args, kwargs: name

    def keep_compacted(attrs, out):
        attrs["buckets"] = out.get("buckets_compacted", 0)

    def keep_candidates(attrs, out):
        captured["candidates"] = out

    targets = [
        (Catalog, "write", table_arg, None),
        (Catalog, "promote_partitions", fixed("catalog.promote"), None),
        (Catalog, "promote_sink_tables", fixed("catalog.promote"), None),
        (checkpoint, "completed_partitions", fixed("checkpoint.read"), None),
        (checkpoint, "mark_done", fixed("checkpoint.mark"), None),
        (pipeline, "compact_partials", fixed("compact"), keep_compacted),
        (pipeline, "rebuild_summaries", fixed("summary.rebuild"), None),
        (StageMetrics, "flush", fixed("metrics.flush"), None),
        (dataframe_cls, "toPandas", fixed("df.toPandas"), None),
        (dataframe_cls, "count", fixed("df.count"), None),
        (dedup, "candidate_pairs", fixed("dedup.candidate_plan"), keep_candidates),
    ]
    saved = []
    try:
        for owner, attr, name_of, on_result in targets:
            had_own = attr in vars(owner)
            orig = getattr(owner, attr)
            saved.append((owner, attr, had_own, orig))
            setattr(owner, attr, _wrap(tracer, orig, name_of, on_result))
        yield
    finally:
        for owner, attr, had_own, orig in reversed(saved):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    submitted: float  # epoch seconds
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0


def read_event_log(event_dir: str) -> list[Job]:
    """Jobs with their task counters summed, from a (rolling or plain)
    uncompressed Spark event log written under ``event_dir``."""
    files = sorted(
        p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = Job(submitted=e["Submission Time"] / 1000.0)
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1e3
                    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics", {})
                    job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return list(jobs.values())


def innermost(spans: list[Span], t: float) -> Span | None:
    """The span opened last among those open at time ``t``."""
    best = None
    for s in spans:
        if s.t0 <= t <= s.t1 and (best is None or s.t0 > best.t0):
            best = s
    return best
