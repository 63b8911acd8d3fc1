"""Per-layer tracing for the benchmark's traced run.

Two halves:

- ``Tracer`` wraps the public functions of the package's layer modules
  (module-attribute wrapping: every loaded package module attribute
  that IS one of those functions is replaced by a wrapper, so the
  program files stay untouched).  A span opens when control enters a
  layer from outside it; calls inside the same module stay in the
  caller's span.  Each span sets the Spark job group of its thread to
  its own id, so the jobs it submits carry their span.
- ``read_event_logs`` parses Spark's uncompressed, non-rolling JSON
  event logs, and ``attribute`` assigns every job to a span: by job
  group, or, for jobs with no group (actions submitted from pool
  threads), by submission time to the innermost span open on the
  tracing thread at that moment.
"""

from __future__ import annotations

import contextlib
import dataclasses
import importlib
import json
import os
import sys
import threading
import time
import types
from collections import defaultdict

PACKAGE = "retail_etl_pipeline_airflow_s3_athena_spark"

# The layers: package modules whose public functions get spans.
LAYERS = [
    "session",
    "plans.pipeline",
    "plans.retail_views",
    "plans.silver",
    "sources.writers",
    "sources.readers",
    "plans.gold",
    "functions.quality",
    "plans.analytics",
    "sources.catalog",
    "plans.goldstore",
    "operators.annindex",
    "functions.jobs",
]

# Spans that write files: their new data files are counted.
WRITER_SPANS = {
    "sources.writers.write_silver",
    "sources.writers.write_gold",
    "plans.goldstore.write_gold_partials",
    "plans.goldstore.write_spend_partials",
    "plans.goldstore.write_product_partials",
    "plans.goldstore.compact_gold_partials",
    "operators.annindex.write_ann_index",
}


@dataclasses.dataclass
class Span:
    id: str
    name: str
    layer: str
    phase: str
    thread: int
    start: float          # epoch seconds
    end: float = 0.0
    child_s: float = 0.0  # wall time covered by direct children
    files_written: int = 0
    files_before: set | None = None


def data_files(root: str) -> set[str]:
    """Parquet/CSV data files under ``root`` (no markers, no checksums)."""
    out = set()
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                out.add(os.path.join(d, n))
    return out


class Tracer:
    def __init__(self, files_root: str):
        self.files_root = files_root
        self.active = False
        self.phase = "untraced"
        self.spans: list[Span] = []
        self.main_thread = threading.get_ident()
        self._local = threading.local()
        self._patched: list[tuple[types.ModuleType, str, object]] = []
        self._seq = 0

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        targets: dict[int, tuple[object, str]] = {}
        for rel in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            for attr, fn in vars(mod).items():
                if (isinstance(fn, types.FunctionType) and not attr.startswith("_")
                        and fn.__module__ == mod.__name__):
                    targets[id(fn)] = (fn, f"{rel}.{attr}")
        wrappers = {k: self._wrap(fn, name) for k, (fn, name) in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE
                                   or mod_name.startswith(PACKAGE + ".")
                                   or mod_name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers and targets[id(val)][0] is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrappers[id(val)])

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        layer = name.rsplit(".", 1)[0]
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            if not tracer.active or (stack and stack[-1].layer == layer):
                return fn(*args, **kwargs)
            with tracer._span(name, layer):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        return wrapper

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, layer: str | None = None):
        """A span around benchmark code; a no-op while tracing is off."""
        if not self.active:
            return contextlib.nullcontext()
        return self._span(name, layer or name.rsplit(".", 1)[0])

    @contextlib.contextmanager
    def _span(self, name: str, layer: str):
        span = self._open(name, layer)
        try:
            yield span
        finally:
            self._close(span)

    def _set_group(self, span: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span is None:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        else:
            sc.setJobGroup(span.id, span.name)

    def _open(self, name: str, layer: str) -> Span:
        self._seq += 1
        span = Span(f"span-{self._seq}", name, layer, self.phase,
                    threading.get_ident(), time.time())
        if name in WRITER_SPANS:
            span.files_before = data_files(self.files_root)
        self._stack().append(span)
        self._set_group(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        if span.files_before is not None:
            span.files_written = len(data_files(self.files_root) - span.files_before)
            span.files_before = None
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1].child_s += span.end - span.start
        self._set_group(stack[-1] if stack else None)
        self.spans.append(span)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class Job:
    app: int
    id: int
    submit: float            # epoch seconds
    end: float = 0.0
    group: str | None = None
    sql_exec: int | None = None
    stages: list = dataclasses.field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    empty_tasks: int = 0


@dataclasses.dataclass
class EventLog:
    jobs: list[Job]
    sql_start: dict            # (app, execution id) -> epoch seconds
    total_cpu_s: float         # every task in the log


def read_event_logs(log_dir: str) -> EventLog:
    jobs: dict[tuple[int, int], Job] = {}
    stage_job: dict[tuple[int, int], Job] = {}
    sql_start: dict[tuple[int, int], float] = {}
    total_cpu = 0.0
    for app, fname in enumerate(sorted(os.listdir(log_dir))):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    job = Job(app, ev["Job ID"], ev["Submission Time"] / 1000,
                              group=props.get("spark.jobGroup.id"),
                              sql_exec=int(exec_id) if exec_id else None,
                              stages=ev.get("Stage IDs", []))
                    jobs[(app, job.id)] = job
                    for sid in job.stages:
                        stage_job.setdefault((app, sid), job)
                elif kind == "SparkListenerJobEnd":
                    jobs[(app, ev["Job ID"])].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    cpu = m.get("Executor CPU Time", 0) / 1e9
                    total_cpu += cpu
                    job = stage_job.get((app, ev["Stage ID"]))
                    if job is None:
                        continue
                    job.tasks += 1
                    job.cpu_s += cpu
                    job.gc_s += m.get("JVM GC Time", 0) / 1000
                    job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job.spill_b += m.get("Disk Bytes Spilled", 0)
                    job.output_b += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    read = (m.get("Input Metrics") or {}).get("Records Read", 0) + (
                        m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                    job.empty_tasks += read == 0
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_start[(app, ev["executionId"])] = ev["time"] / 1000
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit),
                    sql_start, total_cpu)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[Span], log: EventLog, main_thread: int) -> dict:
    """Assign every job to a span.  Returns {"by_span": {span id: [jobs]},
    "unattributed": [jobs with no group], "lost": [jobs in no span]}."""
    by_id = {s.id: s for s in spans}
    main = sorted((s for s in spans if s.thread == main_thread),
                  key=lambda s: s.start)
    by_span: dict[str, list[Job]] = defaultdict(list)
    unattributed, lost = [], []
    for job in log.jobs:
        if job.group in by_id:
            by_span[job.group].append(job)
            continue
        unattributed.append(job)
        # innermost main-thread span open at submission (1 ms clock slack)
        best = None
        for s in main:
            if s.start - 0.001 <= job.submit <= s.end + 0.001:
                if best is None or s.start >= best.start:
                    best = s
        if best is None:
            lost.append(job)
        else:
            by_span[best.id].append(job)
    return {"by_span": by_span, "unattributed": unattributed, "lost": lost}


def span_table(spans: list[Span], log: EventLog, attributed: dict,
               phase: str) -> dict[str, dict]:
    """Per span name, summed over the span instances of ``phase``:
    self wall time, driver time (self time not covered by the span's
    own jobs), jobs, tasks, executor CPU, output bytes, files written
    and, for SQL spans, time from span start to the first SQL
    execution start."""
    table: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.phase != phase:
            continue
        jobs = attributed["by_span"].get(s.id, [])
        self_s = (s.end - s.start) - s.child_s
        covered = _union_len([(max(j.submit, s.start), min(j.end or s.end, s.end))
                              for j in jobs if (j.end or s.end) > s.start])
        row = table[s.name]
        row["calls"] += 1
        row["wall_s"] += self_s
        row["driver_s"] += max(0.0, self_s - covered)
        row["jobs"] += len(jobs)
        row["tasks"] += sum(j.tasks for j in jobs)
        row["executor_cpu_s"] += sum(j.cpu_s for j in jobs)
        row["output_mb"] += sum(j.output_b for j in jobs) / 2**20
        row["files_written"] += s.files_written
        starts = [log.sql_start[(j.app, j.sql_exec)] for j in jobs
                  if (j.app, j.sql_exec) in log.sql_start]
        if starts and s.layer != "bench":
            row["plan_s"] += max(0.0, min(starts) - s.start)
    return table
