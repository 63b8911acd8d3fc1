"""The traced run's per-layer metrics: which spans are reported, and how
the span table, event-log totals and the overhead ratio become the
``--trace 1`` metrics.  Every per-layer value is per timed cycle unless
its name says otherwise (store sizes are the state after the cycles)."""

from __future__ import annotations

import contextlib
import os
import sys
import time

import tracing

CORE = ("wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s")
WRITES = CORE + ("output_mb", "files_written")

# span -> reported metrics.  Spans that never reach 1% of a workload's
# wall time are left out (the full table goes to stderr).
SPANS: dict[str, tuple[str, ...]] = {
    "plans.pipeline.run_pipeline": CORE,
    "plans.retail_views.sale_transactions": ("wall_s", "jobs"),
    "sources.writers.write_silver": WRITES,
    "sources.writers.write_gold": WRITES,
    "sources.readers.read_parquet_table": CORE,
    "functions.quality.run_data_quality_checks": CORE,
    "plans.analytics.execute_query": CORE + ("plan_s",),
    "sources.catalog.register_parquet_table": CORE,
    "plans.goldstore.write_gold_partials": WRITES,
    "plans.goldstore.write_spend_partials": WRITES,
    "plans.goldstore.write_product_partials": WRITES,
    "plans.goldstore.serve_gold_daily": CORE,
    "plans.goldstore.serve_gold_top_customers": CORE,
    "plans.goldstore.serve_gold_product_performance": CORE,
    "plans.goldstore.compact_gold_partials": WRITES,
    "operators.annindex.ann_query": CORE,
    "operators.annindex.write_ann_index": WRITES,
    "functions.jobs.run_jobs": CORE,
    "plans.analytics.ANALYTICS_SQL": CORE,
    "bench.timed": CORE,
}
WORKLOAD_TOTALS = ("gc_s", "shuffle_write_mb", "spill_mb", "empty_task_ratio")
EXTRA = ("plans.goldstore.store_files", "plans.goldstore.store_mb",
         "trace.unattributed_jobs", "trace.overhead_ratio")

UNITS = {"wall_s": "s", "driver_s": "s", "executor_cpu_s": "s", "plan_s": "s",
         "gc_s": "s", "jobs": "count", "tasks": "count", "output_mb": "MB",
         "files_written": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "empty_task_ratio": "ratio", "store_files": "count", "store_mb": "MB",
         "unattributed_jobs": "count", "overhead_ratio": "ratio"}


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = [(f"{s}.{m}", UNITS[m]) for s, ms in SPANS.items() for m in ms]
    out += [(m, UNITS[m]) for m in WORKLOAD_TOTALS]
    out += [(m, UNITS[m.rsplit(".", 1)[1]]) for m in EXTRA]
    return out


def start(files_root: str) -> tracing.Tracer:
    tracer = tracing.Tracer(files_root)
    tracer.install()
    tracer.active = True
    return tracer


class Phases:
    """``with phases("timed"):`` marks a benchmark phase; when tracing,
    it is also a span (``bench.timed``) that owns the jobs no layer
    span owns, so every job in the log lands in some span."""

    def __init__(self, tracer: tracing.Tracer | None):
        self.tracer = tracer
        self.seconds: dict[str, float] = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                yield
            else:
                self.tracer.phase = name
                with self.tracer.span(f"bench.{name}", "bench"):
                    yield
        finally:
            self.seconds[name] = round(time.perf_counter() - t0, 3)


def store_size(wl) -> tuple[int, float]:
    """Data files and MB in the workload's gold stores (0 without)."""
    files = set()
    for p in getattr(wl, "paths", {}).values():
        files |= tracing.data_files(p)
    return len(files), sum(os.path.getsize(f) for f in files) / 2**20


def report(tracer: tracing.Tracer, log_dir: str, cycles: int, overhead: float,
           store: tuple[int, float], wl) -> dict[str, tuple[float, str]]:
    tracer.uninstall()
    log = tracing.read_event_logs(log_dir)
    att = tracing.attribute(tracer.spans, log, tracer.main_thread)
    table = tracing.span_table(tracer.spans, log, att, "timed")

    # no job may be lost: per-span CPU over every phase sums to the log's
    # total (the workload counts a mismatch as a failed operation)
    every = {}
    for ph in {s.phase for s in tracer.spans}:
        every.update({(ph, k): v for k, v in
                      tracing.span_table(tracer.spans, log, att, ph).items()})
    span_cpu = sum(row["executor_cpu_s"] for row in every.values())
    if att["lost"] or abs(span_cpu - log.total_cpu_s) > 1e-6 * max(1.0, log.total_cpu_s):
        wl.fail("trace attribution",
                f"{len(att['lost'])} jobs in no span; span CPU {span_cpu:.6f} s "
                f"vs event log {log.total_cpu_s:.6f} s")

    print("perfbench trace (timed phase, per cycle):", file=sys.stderr)
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["wall_s"]):
        cells = " ".join(f"{k}={v / cycles:.4g}" for k, v in row.items())
        print(f"  {name}: {cells}", file=sys.stderr)

    ids = {s.id for s in tracer.spans if s.phase == "timed"}
    timed_jobs = [j for sid, jobs in att["by_span"].items() if sid in ids
                  for j in jobs]
    timed_ids = {id(j) for j in timed_jobs}
    n_tasks = sum(j.tasks for j in timed_jobs)
    values = {f"{span}.{m}": table.get(span, {}).get(m, 0.0) / cycles
              for span, ms in SPANS.items() for m in ms}
    values.update({
        "gc_s": sum(j.gc_s for j in timed_jobs) / cycles,
        "shuffle_write_mb": sum(j.shuffle_write_b for j in timed_jobs) / 2**20 / cycles,
        "spill_mb": sum(j.spill_b for j in timed_jobs) / 2**20 / cycles,
        "empty_task_ratio": (sum(j.empty_tasks for j in timed_jobs) / n_tasks
                             if n_tasks else 0.0),
        "plans.goldstore.store_files": store[0],
        "plans.goldstore.store_mb": store[1],
        "trace.unattributed_jobs": sum(
            1 for j in att["unattributed"] if id(j) in timed_ids) / cycles,
        "trace.overhead_ratio": overhead,
    })
    return {name: (values[name], unit) for name, unit in names()}
