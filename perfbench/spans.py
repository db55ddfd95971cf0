"""Spans around calls into the package, and Spark's event log joined to them.

A ``Tracer`` times every call the harness makes into a layer. With tracing
on it also records each call as a span, tags every Spark job launched
inside it with a job group named after the span, and wraps a few public
package functions at their module attribute so that the calls the package
makes internally (``compact_day`` -> ``read_logs`` -> parse, then
``write_compacted``) get nested spans too. With tracing off nothing is
patched, no job group is set and no event log is written.

Micro-batch jobs run on the stream's own thread, where the job group of
the thread that started the query does not reach. They carry the
``sql.streaming.queryId`` job property instead; ``attribute`` joins that id
to the span that was open when the query started, as seen by a
``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from stats import driver_gap, subtract

GROUP_PREFIX = "perfbench-span-"
QUERY_ID_PROP = "sql.streaming.queryId"
GROUP_PROP = "spark.jobGroup.id"

#: layers that own spans, named after the package's modules. Spans of three
#: more kinds exist: "harness" (the measured phase itself, whose self time
#: is the harness's own code between calls), "check" (output checks) and
#: "trace" (the traced run's own bookkeeping)
LAYERS = (
    "session",
    "sources",
    "functions",
    "plans.compact",
    "plans.incremental",
    "streaming",
    "snapshots",
    "query",
)
#: layers whose own calls launch no Spark job (their work runs in their
#: child spans' jobs): only their driver gap is reported
JOBLESS = ("session", "functions", "plans.incremental")
SPARK_METRICS = (
    "jobs",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_bytes",
    "spill_bytes",
    "driver_gap_ms",
)


def spark_metric_names() -> list[str]:
    """``<layer>.<metric>`` for every layer's Spark metrics."""
    return [
        f"{layer}.{m}"
        for layer in LAYERS
        for m in (("driver_gap_ms",) if layer in JOBLESS else SPARK_METRICS)
    ]


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    t0: float  # epoch ms, the event log's clock
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Times calls; with ``enabled`` also records spans and job groups."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None

    def bind(self, sc) -> None:
        self.sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        gid = f"{GROUP_PREFIX}{span.id}" if span else None
        self.sc.setLocalProperty(GROUP_PROP, gid)
        self.sc.setLocalProperty(
            "spark.job.description", f"{span.layer}:{span.name}" if span else None
        )

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        """Time the block; yields the span (``.ms`` is set on exit)."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, name or layer,
                  parent.id if parent else None, time.time() * 1000)
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(sp)
            self._set_group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time() * 1000
            if self.enabled:
                self._stack.pop()
                self._set_group(parent)

    def innermost_at(self, t: float) -> Span | None:
        """The deepest recorded span open at epoch-ms ``t``."""
        best = None
        for sp in self.spans:
            if sp.t0 <= t <= sp.t1 and (best is None or sp.t0 >= best.t0):
                best = sp
        return best

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_intervals(self, sp: Span) -> list[tuple[float, float]]:
        return subtract([(sp.t0, sp.t1)], [(c.t0, c.t1) for c in self.children(sp)])


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the package's internal call sites in spans (traced runs only)."""
    if not tracer.enabled:
        yield
        return
    from aws_logs_parquet_converter_spark.plans import incremental
    from aws_logs_parquet_converter_spark.sources import registry

    main = threading.main_thread()

    def wrap(fn, layer, name, after=None):
        def wrapped(*a, **kw):
            if threading.current_thread() is not main:
                return fn(*a, **kw)
            with tracer.span(layer, name) as sp:
                out = fn(*a, **kw)
                if after is not None:
                    after(sp, out)
                return out

        return wrapped

    def count_files(sp, df):
        sp.attrs["input_files"] = len(df.inputFiles())

    s3 = registry.FORMATS["s3"]
    saved = [
        (incremental, "read_logs", incremental.read_logs),
        (incremental, "write_compacted", incremental.write_compacted),
        (registry, "read_text_lines", registry.read_text_lines),
    ]
    incremental.read_logs = wrap(incremental.read_logs, "sources", "read_logs")
    incremental.write_compacted = wrap(
        incremental.write_compacted, "plans.compact", "write_compacted"
    )
    registry.read_text_lines = wrap(
        registry.read_text_lines, "sources", "read_text_lines", count_files
    )
    registry.FORMATS["s3"] = registry.LogFormat(
        s3.name, s3.schema, wrap(s3.parse, "functions", "parse_s3_access_log_lines")
    )
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
        registry.FORMATS["s3"] = s3


def progress_listener():
    """A StreamingQueryListener keeping every query's start and progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.started: dict[str, float] = {}  # query id -> epoch ms
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.started[str(event.id)] = time.time() * 1000

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress[p["id"]].append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.add(str(event.id))

        def wait_terminated(self, qids: set[str], timeout_s: float = 30.0) -> None:
            """Block until the listener has seen every query in ``qids`` end."""
            deadline = time.time() + timeout_s
            while not qids <= self.terminated:
                if time.time() > deadline:
                    raise TimeoutError("streaming listener missed a termination")
                time.sleep(0.02)

        def batches(self, qid: str) -> list[dict]:
            """Progress records of ``qid``'s batches that read input."""
            with self._lock:
                out = list(self.progress.get(qid, []))
            return [p for p in out if p.get("numInputRows", 0) > 0]

    return ProgressListener()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Every event of application ``app_id``'s log under ``log_dir``.

    Handles both the single-file form and the rolling ``eventlog_v2_*``
    directory form (files ``events_<n>_<app>`` read in index order).
    """
    events: list[dict] = []
    for entry in sorted(os.listdir(log_dir)):
        if app_id not in entry:
            continue
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = sorted(
                glob.glob(os.path.join(path, "events_*")),
                key=lambda p: int(os.path.basename(p).split("_")[1]),
            )
        else:
            parts = [path]
        for p in parts:
            with open(p, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class Job:
    id: int
    t0: float
    t1: float
    props: dict
    stages: list[int]
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Stage:
    id: int
    job: int  # the first job that lists the stage
    t0: float = 0.0
    t1: float = 0.0
    tasks: int = 0
    records_read: int = 0
    codegen_ms: float = 0.0  # task time inside whole-stage-codegen pipelines


def jobs_from_events(events: list[dict]) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(ev["Job ID"], float(ev["Submission Time"]), 0.0,
                    ev.get("Properties") or {}, list(ev.get("Stage IDs", [])))
            jobs[j.id] = j
            for sid in j.stages:
                stages.setdefault(sid, Stage(sid, j.id))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].t1 = float(ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get(info["Stage ID"])
            if st is not None:
                st.t0 = float(info.get("Submission Time") or 0)
                st.t1 = float(info.get("Completion Time") or 0)
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if st is None or not m:
                continue
            j = jobs[st.job]
            sw = m.get("Shuffle Write Metrics") or {}
            st.tasks += 1
            st.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
            # the SQL metric a whole-stage-codegen pipeline reports per task
            st.codegen_ms += sum(
                float(a["Update"])
                for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                if a.get("Name") == "duration" and "Update" in a
            )
            j.tasks += 1
            j.run_ms += m.get("Executor Run Time", 0)
            j.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            j.gc_ms += m.get("JVM GC Time", 0)
            j.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
            j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return jobs, stages


def attribute(jobs, tracer: Tracer, query_started: dict[str, float]):
    """job id -> span id, by streaming query id, else by job group.

    A micro-batch job carries ``sql.streaming.queryId``; that id is joined
    to the innermost span open when the listener saw the query start. The
    query id wins: a micro-batch job may carry some other thread's group.
    Returns the mapping and the ids of jobs neither rule placed.
    """
    query_span = {}
    for qid, t in query_started.items():
        sp = tracer.innermost_at(t)
        if sp is not None:
            query_span[qid] = sp.id
    out: dict[int, int] = {}
    missed: list[int] = []
    for j in jobs.values():
        qid = j.props.get(QUERY_ID_PROP)
        gid = j.props.get(GROUP_PROP) or ""
        if qid is not None and qid in query_span:
            out[j.id] = query_span[qid]
        elif gid.startswith(GROUP_PREFIX):
            out[j.id] = int(gid[len(GROUP_PREFIX):])
        else:
            missed.append(j.id)
    return out, missed


def layer_metrics(tracer: Tracer, jobs, job_span, span_ids: set[int]) -> dict:
    """Per-layer Spark metrics and self/driver-gap time of the spans in
    ``span_ids``; a layer's driver gap is its self time not covered by
    the union of its own jobs' intervals."""
    by_span: dict[int, list[Job]] = defaultdict(list)
    for jid, sid in job_span.items():
        by_span[sid].append(jobs[jid])
    out: dict[str, dict] = {}
    for sp in tracer.spans:
        if sp.id not in span_ids:
            continue
        agg = out.setdefault(
            sp.layer, {k: 0.0 for k in SPARK_METRICS} | {"self_ms": 0.0, "spans": 0}
        )
        mine = [j for j in by_span.get(sp.id, []) if j.t1 > 0]
        own = tracer.self_intervals(sp)
        intervals = [(j.t0, j.t1) for j in mine]
        agg["spans"] += 1
        agg["self_ms"] += sum(e - s for s, e in own)
        agg["driver_gap_ms"] += sum(driver_gap(iv, intervals) for iv in own)
        agg["jobs"] += len(mine)
        agg["tasks"] += sum(j.tasks for j in mine)
        agg["executor_run_ms"] += sum(j.run_ms for j in mine)
        agg["executor_cpu_ms"] += sum(j.cpu_ms for j in mine)
        agg["gc_ms"] += sum(j.gc_ms for j in mine)
        agg["shuffle_bytes"] += sum(j.shuffle_bytes for j in mine)
        agg["spill_bytes"] += sum(j.spill_bytes for j in mine)
    return out


def spans_within(tracer: Tracer, root: Span) -> set[int]:
    ids = {root.id}
    for sp in tracer.spans:  # parents are recorded before their children
        if sp.parent in ids:
            ids.add(sp.id)
    return ids
