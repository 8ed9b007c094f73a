"""Benchmark of the user-behavior pipeline: stream ingest, refreshes of the
landed table, and a shuffle-heavy catalog query mix.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
staged under ``.bench_tmp/`` in the current directory, which the run removes
when it ends. ``--seconds`` sets the nominal length of the measured window;
the operation counts derive from it alone (``workloads.op_counts``), so the
same arguments always do the same work. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the run's context (host, Spark
settings, seed, operation counts). A correctness mismatch prints the result
with ``"correct": false`` and exits with code 1; any other failure exits
non-zero without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

WORKLOAD_NAMES = ("stream_ingest", "query_landed", "catalog_joins")
SETUP_REPEATS = 3
# backlog files the traced run drains at local[1]
SINGLE_THREAD_FILES = 32


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """The highest quantile up to 0.9 with at least ten samples beyond it,
    but never below the median."""
    return max(0.5, min(0.9, 1 - 10 / n))


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the library into
    ``run_dir``; returns the Spark confs that do the same for the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    import tempfile

    tempfile.tempdir = tmp
    return {
        # without -UsePerfData the JVM writes a perf-data file to the system
        # temp directory, outside the run directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(cpus, extra_conf):
    from user_behavior_spark_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from user_behavior_spark_pipeline_spark.materialize import (
        release_keyed,
        release_shared,
    )

    release_shared()
    release_keyed()
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus the gateway JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024


def _memory_mx(spark):
    return spark._jvm.java.lang.management.ManagementFactory


def _heap_pools(spark):
    pools = _memory_mx(spark).getMemoryPoolMXBeans()
    return [p for p in pools if p.getType().name() == "HEAP"]


def start_memory_window(spark) -> int:
    """Collect the JVM heap and reset the peak of every heap pool; returns
    the bytes the JVM has allocated so far."""
    spark._jvm.System.gc()
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()
    return jvm_allocated_bytes(spark)


def jvm_allocated_bytes(spark) -> int:
    """Heap bytes allocated by all JVM threads since launch (the driver and,
    in local mode, every task)."""
    return _memory_mx(spark).getThreadMXBean().getTotalThreadAllocatedBytes()


def heap_peak_mb(spark) -> float:
    """Summed peak use of the heap pools since :func:`start_memory_window`."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


def deadline_s(seconds: float) -> int:
    """Time after which a run gives up and exits without a result: 170 s up
    to a nominal window of 15 s, six seconds more for each second beyond
    (a traced run at --seconds 15 takes 75-95 s on a 4-vCPU host)."""
    return max(170, round(80 + 6 * seconds))


def context(spark, args, counts, cpus, res) -> dict:
    import pyspark

    sc = spark.sparkContext
    # a traced run of a single mix round has no untraced latency
    n_tail = len(tail_samples(res))
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "warmup_ops": counts.warmup,
        "steady_ops": counts.steady,
        "latency_samples": len(res.latencies),
        # a refresh's tail is drawn from the latencies of its queries
        "latency_tail_unit": "query" if res.tail_latencies else "operation",
        "latency_tail_samples": n_tail,
        "latency_tail_percentile": round(100 * tail_quantile(n_tail), 1) if n_tail else None,
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "cpu": platform.processor() or platform.machine(),
    }


def tail_samples(res) -> list[float]:
    return res.tail_latencies or res.latencies


def end_to_end(setup_times, res, alloc_mb) -> dict:
    lat, tail = res.latencies, tail_samples(res)
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_p90_s": (percentile(tail, tail_quantile(len(tail))), "s"),
        "throughput_per_s": (res.work / sum(lat), "1/s"),
        "heap_alloc_mb_per_op": (alloc_mb / res.attempted, "MB/op"),
    }


def check_clean(spark, tables_before: set[str]) -> None:
    """The run leaves no active stream and no extra catalog table."""
    active = spark.streams.active
    if active:
        raise RuntimeError(f"{len(active)} streams still active")
    extra = {t.name for t in spark.catalog.listTables()} - tables_before
    if extra:
        raise RuntimeError(f"catalog tables left behind: {sorted(extra)}")


def _deadline(signum, frame):
    raise TimeoutError("run exceeded its deadline")


def checked(wl) -> bool:
    """Run the workload's correctness gate; a mismatch is reported, not raised."""
    try:
        wl.check()
    except AssertionError:
        traceback.print_exc()
        return False
    return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".bench_tmp")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(deadline_s(args.seconds))
    try:
        confs = isolate(run_dir)
        return measure(args, run_dir, confs)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        signal.alarm(0)
        try:
            shutdown_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            if os.path.isdir(base) and not os.listdir(base):
                os.rmdir(base)


def measure(args, run_dir: str, confs: dict) -> int:
    import workloads
    from tracing import NO_TRACE, Tracer

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or cpu_count())
    counts = workloads.op_counts(args.workload, args.seconds)
    tracer = Tracer() if args.trace else NO_TRACE
    cls = workloads.WORKLOADS[args.workload]

    # set up SETUP_REPEATS times (session start + input staging) and keep the
    # last; setup_s is the median, so one slow JVM launch does not decide it
    setup_times, spark, wl = [], None, None
    for rep in range(1 if args.trace else SETUP_REPEATS):
        t0 = time.perf_counter()
        if spark is not None:
            wl.teardown()
            stop_spark(spark)
        spark = start_spark(cpus, confs)
        if rep == 0:
            tables_before = {t.name for t in spark.catalog.listTables()}
        rep_dir = os.path.join(run_dir, f"setup-{rep}")
        wl = cls(spark, rep_dir, args.seed, counts, tracer)
        wl.setup()
        setup_times.append(time.perf_counter() - t0)
        log(f"setup {rep}: {setup_times[-1]:.2f} s")
        if rep:
            shutil.rmtree(os.path.join(run_dir, f"setup-{rep - 1}"))
    # start the measured run, and its memory figures, from a collected heap
    allocated0 = start_memory_window(spark)

    t0 = time.perf_counter()
    res = wl.run()
    alloc_mb = (jvm_allocated_bytes(spark) - allocated0) / 2**20
    heap_mb = heap_peak_mb(spark)
    log(f"run: {time.perf_counter() - t0:.2f} s, {res.attempted} ops")
    correct = checked(wl)

    if args.trace:
        metrics, tours_correct = trace_layers(args, spark, wl, res, run_dir)
        correct = correct and tours_correct
        metrics["memory.heap_peak_mb"] = (heap_mb, "MB")
        metrics["memory.peak_rss_mb"] = (peak_rss_mb(spark), "MB")
    else:
        metrics = end_to_end(setup_times, res, alloc_mb)
    ctx = context(spark, args, counts, cpus, res)
    wl.teardown()
    check_clean(spark, tables_before)
    stop_spark(spark)
    if args.trace:
        metrics["streaming.single_thread_events_per_s"] = (
            single_thread_events_per_s(args.seed, run_dir, confs),
            "1/s",
        )
        os.makedirs(".bench_trace", exist_ok=True)
        tracer.dump(os.path.join(".bench_trace", f"{args.workload}-{args.seed}.jsonl"))

    print(json.dumps({"context": ctx}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if correct else 1


# short traced passes of the other workloads, so a traced run of any
# workload reports every layer; the query_landed pass alternates traced and
# untraced refreshes, which gives a stream run its tracing overhead
TOUR_COUNTS = {
    "stream_ingest": (2, 8),
    "query_landed": (4, 8),
    "catalog_joins": (8, 8),
}


def trace_layers(args, spark, wl, res, run_dir) -> tuple[dict, bool]:
    """Per-layer metrics: the measured workload's own layers, the tracing
    overhead, and one short traced pass of each other workload. Returns the
    metrics and whether the other workloads' outputs were correct."""
    import workloads

    layers = dict(res.layers)
    alternated = res
    correct = True
    for name, (warmup, steady) in TOUR_COUNTS.items():
        if name == args.workload:
            continue
        other = workloads.WORKLOADS[name](
            spark,
            os.path.join(run_dir, f"tour-{name}"),
            args.seed,
            workloads.OpCounts(warmup, steady),
            wl.tracer,
        )
        other.setup()
        other_res = other.run()
        layers.update(other_res.layers)
        correct = checked(other) and correct
        other.teardown()
        # a drain cannot alternate traced and untraced triggers, and its
        # spans wrap only the start and the wait, so the stream (and a mix
        # of a single round) takes the overhead from the refreshes
        if name == "query_landed" and not (
            alternated.traced_latencies and alternated.latencies
        ):
            alternated = other_res
    layers["trace.overhead_p50_s"] = (
        statistics.median(alternated.traced_latencies)
        - statistics.median(alternated.latencies),
        "s",
    )
    return layers, correct


def single_thread_events_per_s(seed: int, run_dir: str, confs: dict) -> float:
    """Drain a small backlog at local[1]: the single-thread baseline."""
    import workloads

    spark = start_spark(1, confs)
    try:
        root = os.path.join(run_dir, "single-thread")
        backlog, _ = workloads.stage_backlog(spark, root, seed, SINGLE_THREAD_FILES)
        d = workloads.drain(spark, backlog, root, "local1", workloads.FILES_PER_TRIGGER)
        return sum(workloads.landed_rows_per_batch(d.out_dir).values()) / d.wall_s
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
