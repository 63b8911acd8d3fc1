"""The repo benchmark: the Medallion pipeline with its Athena-style
queries, and the incremental gold store with the ANN index, timed end
to end (``--trace 0``) or per layer (``--trace 1``).

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5  # session set-ups per run; setup_s is their median


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the py4j gateway process)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (0 on
    hosts that do not report it): a run that lost much of it was
    measured on a busy machine."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def _start_session(session_mod, cores: int, tmp: str, trace: bool):
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{tmp}/spark-local",
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Djava.io.tmpdir={tmp}/jvm-tmp -Dderby.system.home={tmp}/derby",
        "spark.sql.catalogImplementation": "in-memory",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return session_mod.get_spark("perfbench", master=f"local[{cores}]",
                                 shuffle_partitions=cores, extra_conf=conf)


def _stop_gateway() -> None:
    """End the driver JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM is killed
            proc.kill()
            proc.wait()


def _remove_root(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))  # .perfbench_tmp, when empty
    except OSError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    try:
        import gen
        import layers
        import workloads
        from retail_etl_pipeline_airflow_s3_athena_spark import session
    except ImportError as e:
        print(f"perfbench: cannot import the package under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # one task slot per core but one: the remaining core runs the driver
    # thread (planning, scheduling, py4j), so the JVM's busy threads do
    # not outnumber the cores and timings do not measure the scheduler
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc - 1)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    # everything Spark, the JVM and Python write goes under tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/spark-local"
    os.environ["SPARK_WAREHOUSE_DIR"] = f"{tmp}/warehouse"
    os.environ["TMPDIR"] = f"{tmp}/py-tmp"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # Spark's Python workers
    for d in ("spark-local", "jvm-tmp", "derby", "events", "py-tmp", "work"):
        os.makedirs(f"{tmp}/{d}")
    tempfile.tempdir = f"{tmp}/py-tmp"
    steal0 = _steal_s()
    spark = None
    try:
        manifest = gen.generate(args.workload, args.seed, f"{tmp}/input")
        tracer = layers.start(f"{tmp}/work") if args.trace else None
        phase = layers.Phases(tracer)

        setup_s = []
        with phase("setup"):
            for _ in range(SETUPS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = _start_session(session, cores, tmp, bool(args.trace))
                spark.range(1000).selectExpr("sum(id)").collect()
                setup_s.append(time.perf_counter() - t0)

        span = tracer.span if tracer else lambda name: contextlib.nullcontext()
        wl = workloads.WORKLOADS[args.workload](
            lambda: spark, span, f"{tmp}/input", f"{tmp}/work", manifest,
            args.seed)
        with phase("prepare"):
            wl.prepare()
        with phase("timed"):
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < args.seconds:
                wl.cycle()
        timed_cycles = wl.cycles
        overhead = None
        if tracer is not None:
            store = layers.store_size(wl)
            # one more traced cycle, then an untraced one: the later
            # cycle is the warmer, so the ratio errs towards overhead
            with phase("overhead"):
                traced = wl.cycle()
                tracer.active = False
                overhead = traced / wl.cycle()
                tracer.active = True
        peak_rss = _peak_rss_mb(spark)
        with phase("check"):
            wl.check()
        spark.stop()
        spark = None

        info = {
            "workload": args.workload, "seed": args.seed,
            "master": f"local[{cores}]", "nproc": nproc,
            "timed_cycles": timed_cycles, "phase_s": phase.seconds,
            "steal_s": round(_steal_s() - steal0, 2),
            "setup_s": setup_s,
            "samples_s": dict(wl.samples),
            "input_rows": {k: manifest[k] for k in
                           ("lineitem_rows", "orders_rows", "embedding_rows")
                           if k in manifest},
        }
        metrics = (layers.report(tracer, f"{tmp}/events", timed_cycles,
                                 overhead, store, wl)
                   if tracer is not None else None)
        for p in wl.problems:
            print(f"perfbench: {p}", file=sys.stderr)
        if metrics is None:
            s = wl.samples
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "write_s": (statistics.median(s["write"]), "s"),
                "read_p50_ms": (1000 * statistics.median(s["read"]), "ms"),
                "read_p90_ms": (1000 * _percentile(s["read"], 0.9), "ms"),
                "maintain_s": (statistics.median(s["maintain"]), "s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
        print(json.dumps({"run": info}))
        print(json.dumps({
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        # each step runs even if an earlier one raises (LIFO order)
        with contextlib.ExitStack() as cleanup:
            cleanup.callback(_remove_root, tmp)
            cleanup.callback(_stop_gateway)
            if spark is not None:
                cleanup.callback(spark.stop)


if __name__ == "__main__":
    sys.exit(main())
