"""sparkfeed benchmark: feed drain, feed trickle and query mix, end to end
and per layer.

    python3 perfbench/run.py --workload feed_drain --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout.  Inputs come from ``--seed``.
After set-up (session start, inputs, one warm-up pass) the workload runs
clocked units of work until it has a latency sample and ``--seconds``
have passed, and checks each unit's output off the clock.

Prints one ``{"env": ...}`` line describing the host and session, then as
the last line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The traced run times calls into each layer
from this directory's ``tracing.py`` and reads Spark's event log.

Workloads, run length and metric names and units come from
``BENCHMARK.json`` at the checkout root.

    python3 perfbench/run.py ... --toy       # toy sizes (smoke test)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy input sizes")
    return ap.parse_args(argv)


def _confine(work_dir: str, trace: bool) -> None:
    """Keep every file the run makes inside ``work_dir``: Python temp
    files, Spark scratch, the JVM's temp dir, the event log.  The event
    log is switched on only for a traced run, so untraced runs do not
    pay for writing it."""
    for sub in ("tmp", "spark-local", "events", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # executors' Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM, spark-submit's launcher included: temp files in the
    # work dir and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData"
    )
    confs = {"spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse")}
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work_dir, "events"),
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()]
        + ["pyspark-shell"]
    )


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _memory_pools(spark):
    """The driver JVM's memory pools, without eden: eden's peak is the
    size G1 chose for the young generation, which it adapts to its pause
    goal, not memory the program holds."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return [pool for pool in pools if "Eden" not in pool.getName()]


def _reset_peaks(spark, jvm: bool) -> None:
    """Restart peak tracking of the Python driver's RSS (``VmHWM``) and,
    with ``jvm`` (traced runs, which report them), collect the driver
    JVM's garbage and restart peak tracking of its memory pools.  Without
    the collection a pool's peak would start from however much garbage
    the old generation held when the window opened."""
    if jvm:
        spark.sparkContext._jvm.java.lang.System.gc()
        for pool in _memory_pools(spark):
            pool.resetPeakUsage()
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_mb(spark, jvm: bool) -> dict[str, float]:
    """Peak memory since ``_reset_peaks``: the Python driver's peak RSS
    and, with ``jvm``, the driver JVM's heap (survivor and old generation)
    and non-heap pools (metaspace, code cache), each the sum of its pools'
    peaks.

    Only the Python peak is an end-to-end metric.  Over five seeds of
    ``feed_drain`` every reading of the JVM's heap spread by a quarter to
    a half of its median (these pool peaks, the process's RSS high-water
    mark, the committed heap, the heap in use after a collection): G1
    decides when garbage goes, and Spark's cleaner frees checkpoints and
    shuffles asynchronously.  The JVM figures are per-layer metrics."""
    peaks = {"python": _vm_hwm_kb("self") / 1024.0}
    if jvm:
        peaks.update(jvm_heap=0.0, jvm_nonheap=0.0)
        for pool in _memory_pools(spark):
            kind = "jvm_heap" if pool.getType().toString() == "HEAP" else "jvm_nonheap"
            peaks[kind] += pool.getPeakUsage().getUsed() / 2**20
    return peaks


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when its
    stdin closes, which otherwise happens only as this process ends)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _env(spark, args, cores: int) -> dict:
    sc = spark.sparkContext
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "toy": args.toy,
        "nproc": cores,
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "loadavg_before": list(os.getloadavg()),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import gofeed_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work_dir, ignore_errors=True)
    _confine(work_dir, bool(args.trace))
    try:
        return _run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


# A run stops once it has a latency sample and ``--seconds`` have passed,
# or after this many units whatever it has.
MAX_UNITS = 4


def _run(args, work_dir: str) -> int:
    from feed import FeedDrain, FeedTrickle
    from querymix import FAMILIES
    from tracing import Tracer, event_log_metrics

    from gofeed_spark.session import get_spark

    workloads = {"feed_drain": FeedDrain, "feed_trickle": FeedTrickle}

    cores = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    session_s = time.perf_counter() - t_setup
    env = _env(spark, args, cores)
    tracer = Tracer()
    peak_mb: dict[str, float] = {}

    def keep_peak():
        # each figure's largest value over the clocked windows
        for name, mb in _peak_mb(spark, bool(args.trace)).items():
            peak_mb[name] = max(mb, peak_mb.get(name, 0.0))

    tracer.on_enter = lambda: _reset_peaks(spark, bool(args.trace))
    tracer.on_exit = keep_peak
    try:
        workload = workloads[args.workload](
            spark, os.path.join(work_dir, "data"), args.seed, args.toy
        )
        workload.setup()
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            tracer.install()
        unit_failed, errors = [], []
        t_measure = time.perf_counter()
        while not unit_failed or (
            len(unit_failed) < MAX_UNITS
            and (not workload.latencies or time.perf_counter() - t_measure < args.seconds)
        ):
            try:
                unit_errors = workload.unit(tracer)
            except Exception as exc:  # counted as failed; the store may be broken
                unit_failed.append(True)
                errors.append(f"unit {len(unit_failed)}: {exc!r}"[:300])
                break
            unit_failed.append(bool(unit_errors))
            errors.extend(unit_errors)
        else:
            final_errors = workload.finish()
            unit_failed[-1] |= bool(final_errors)
            errors.extend(final_errors)
        tracer.uninstall()
        t_units = time.perf_counter()
    finally:
        _stop(spark)
    env["phases_s"] = {  # where the run's wall time went
        "session": session_s,
        "setup": setup_s - session_s,
        "units": t_units - t_measure,
        "stop": time.perf_counter() - t_units,
        "clocked": tracer.wall_ms() / 1000.0,
    }
    attempted, failed = len(unit_failed), sum(unit_failed)
    env["loadavg_after"] = list(os.getloadavg())
    env["errors"] = errors[:10]
    env["latency_samples"] = len(workload.latencies)
    env["peak_mb"] = peak_mb

    end_to_end = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(workload.latencies),
        "items_per_s": workload.terminal_items / workload.feed_s,
        "write_bytes_per_item": workload.write_bytes / workload.terminal_items,
        "python_peak_rss_mb": peak_mb["python"],
    } if workload.latencies and workload.terminal_items else {}
    env["end_to_end"] = end_to_end

    if args.trace:
        layer = {"session.start_s": session_s}
        layer.update(tracer.streaming_metrics())
        spark_metrics, job_spans = event_log_metrics(
            os.path.join(work_dir, "events"), tracer.windows
        )
        layer.update(spark_metrics)
        wall_ms = tracer.wall_ms() or 1.0  # 0 only when the first unit raised
        layer.update({
            "processors.python_run_share": layer.pop("processors.python_run_ms") / wall_ms,
            "engine.plan_share": tracer.share("engine.plan"),
            "engine.writes_per_item": statistics.mean(workload.versions) if workload.versions else 0.0,
            "storage.read_ms": tracer.span_ms("storage.read"),
            "storage.write_ms": tracer.span_ms("storage.write"),
            "trace.span_coverage": tracer.coverage(job_spans),
            "jvm.heap_peak_mb": peak_mb.get("jvm_heap", 0.0),  # 0 only when no window closed
            "jvm.nonheap_peak_mb": peak_mb.get("jvm_nonheap", 0.0),
        })
        for name in ("txlog.commits", "txlog.conflicts", "dbstore.calls",
                     "delta.calls", "iceberg.calls"):
            layer[name] = tracer.counts.get(name, 0)
        for family, names in FAMILIES.items():
            for part in ("plan", "exec"):
                layer[f"queries.{family}.{part}_share"] = tracer.share(f"queries.{family}.{part}")
            for name in names:
                q = name.split("_")[0]
                layer[f"query.{q}.share"] = tracer.share(f"query.{q}")
        metrics = {
            m["name"]: {"value": float(layer[m["name"]]), "unit": m["unit"]}
            for m in SPEC["per_layer"]
        }
        env["trace_overhead"] = _overhead(args, end_to_end)
    else:
        units_by_name = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        metrics = {
            name: {"value": float(value), "unit": units_by_name[name]}
            for name, value in end_to_end.items()
        }
        _save_untraced(args, end_to_end)

    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


# The traced run reports its overhead against the last untraced run of the
# same workload in this checkout (traced minus untraced, per metric).
def _baseline_path(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench_last", f"{workload}.json")


def _save_untraced(args, end_to_end: dict) -> None:
    if args.toy or not end_to_end:
        return
    path = _baseline_path(args.workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(end_to_end, f)


def _overhead(args, traced: dict) -> dict | None:
    try:
        with open(_baseline_path(args.workload)) as f:
            untraced = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    return {
        k: {"traced": traced[k], "untraced": untraced[k], "delta": traced[k] - untraced[k]}
        for k in traced
        if k in untraced
    }


if __name__ == "__main__":
    sys.exit(main())
