"""Benchmark-side tracing: spans around calls into the program's layers,
streaming progress, and Spark's own event log.

Nothing here edits the program.  ``Tracer.install`` wraps public
functions of each layer (and PySpark's streaming start/await) for the
duration of a traced run; ``Tracer.uninstall`` puts the originals back.
Spans are kept in memory and only those inside a clocked window count.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time


class Tracer:
    """Spans ``(layer, start, end)`` plus streaming progress, recorded only
    while ``clocked`` is set (the measured units, not set-up or checks)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self.windows: list[tuple[float, float]] = []
        self.progress: list[list[dict]] = []  # one list per streaming round
        self.counts: dict[str, int] = {}
        self.cdc_rows: list[int] = []  # rows per non-empty micro-batch
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []
        self._clocked = False
        # called as each clocked window opens and closes, traced or not
        self.on_enter = self.on_exit = None

    # -- recording -----------------------------------------------------
    @contextlib.contextmanager
    def clocked(self):
        """One clocked window of a measured unit: spans and counts inside
        it are kept."""
        if self.on_enter is not None:
            self.on_enter()
        self._clocked = True
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((t0, time.time()))
            self._clocked = False
            if self.on_exit is not None:
                self.on_exit()

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time the enclosed block as one span of ``layer``."""
        t0 = time.time()
        try:
            yield
        finally:
            self._record(layer, t0, time.time())

    def _record(self, layer: str, t0: float, t1: float) -> None:
        if self._clocked:
            with self._lock:
                self.spans.append((layer, t0, t1))

    def _count(self, name: str) -> None:
        if self._clocked:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + 1

    def _wrap(self, owner, attr: str, layer: str, after=None, on_error=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                out = orig(*args, **kwargs)
            except Exception as exc:
                if on_error is not None:
                    on_error(exc)
                raise
            finally:
                tracer._record(layer, t0, time.time())
            if after is not None:
                after(args, out)
            return out

        self._originals.append((owner, attr, orig))
        setattr(owner, attr, traced)

    # -- layer wrappers --------------------------------------------------
    def install(self) -> None:
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        import gofeed_spark.sources.delta as delta
        import gofeed_spark.sources.iceberg as iceberg
        import gofeed_spark.streaming.feed_runner as feed_runner
        from gofeed_spark.feedstate.dbstore import DbApiStore
        from gofeed_spark.feedstate.txlog import CommitConflict, TxLog

        def keep_progress(args, _out):
            if self._clocked:
                rounds = [json.loads(p.json) for p in args[0].recentProgress]
                with self._lock:
                    self.progress.append(rounds)

        def count_conflict(exc):
            if isinstance(exc, CommitConflict):
                self._count("txlog.conflicts")

        def counter(name):
            return lambda args, out: self._count(name)

        self._wrap(feed_runner.FeedRunner, "run_available", "feed_runner")
        self._wrap_step(feed_runner.FeedRunner)
        self._wrap(DataStreamWriter, "start", "feed_runner.query_start")
        self._wrap(StreamingQuery, "awaitTermination", "feed_runner.round",
                   after=keep_progress)
        # FeedRunner calls feed_step through its own module's name
        self._wrap(feed_runner, "feed_step", "engine.plan")
        # storage.read / storage.write: whichever store the workload uses
        self._wrap(TxLog, "commit", "storage.write",
                   after=counter("txlog.commits"), on_error=count_conflict)
        for attr in ("latest", "read"):
            self._wrap(TxLog, attr, "storage.read")
        for attr in ("read_items", "read_partitions", "read_decision_counts",
                     "read_status_counts", "count_items", "max_updated_at"):
            self._wrap(DbApiStore, attr, "storage.read", after=counter("dbstore.calls"))
        for attr in ("upsert_items", "upsert_partitions", "seed"):
            self._wrap(DbApiStore, attr, "storage.write", after=counter("dbstore.calls"))
        # the queries reach the table formats through the module attributes
        for fmt, module in (("delta", delta), ("iceberg", iceberg)):
            for attr in dir(module):
                if attr.startswith(("read_", "write_", "merge_")) or attr in (
                    "optimize_delta", "rewrite_iceberg"
                ):
                    if not callable(getattr(module, attr)):
                        continue
                    layer = "storage.read" if attr.startswith("read_") else "storage.write"
                    self._wrap(module, attr, layer, after=counter(f"{fmt}.calls"))

    def _wrap_step(self, runner_cls) -> None:
        """Count the CDC rows each micro-batch hands to ``FeedRunner._step``
        (an extra count job per batch: traced runs only)."""
        orig = runner_cls._step
        tracer = self

        @functools.wraps(orig)
        def traced(runner, changed, batch_id):
            if tracer._clocked:
                rows = changed.count()
                with tracer._lock:
                    tracer.cdc_rows.append(rows)
            return orig(runner, changed, batch_id)

        self._originals.append((runner_cls, "_step", orig))
        runner_cls._step = traced

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    # -- reduction -------------------------------------------------------
    def wall_ms(self) -> float:
        """Clocked wall time."""
        return 1000.0 * sum(t1 - t0 for t0, t1 in self.windows)

    def span_ms(self, *layers: str) -> float:
        """Time covered by spans of ``layers`` (a union, so nested calls
        into one layer count once)."""
        return _union_ms([(t0, t1) for name, t0, t1 in self.spans if name in layers])

    def share(self, *layers: str) -> float:
        """``span_ms`` as a share of the clocked wall time."""
        wall = self.wall_ms()
        return self.span_ms(*layers) / wall if wall > 0 else 0.0

    def coverage(self, job_spans: list[tuple[float, float]]) -> float:
        """Share of clocked wall time covered by Spark jobs and the inner
        layer spans (everything but ``run_available``, its streaming rounds
        and the per-query spans): the part the per-layer metrics account
        for."""
        outer = ("feed_runner", "feed_runner.round")
        inner = [
            (t0, t1) for name, t0, t1 in self.spans
            if name not in outer and not name.startswith("query.")
        ]
        wall = self.wall_ms()
        return _union_ms(inner + job_spans) / wall if wall > 0 else 0.0

    def streaming_metrics(self) -> dict[str, float]:
        """Per-round streaming figures from ``recentProgress``; times as
        shares of the clocked wall time."""
        def dur(p, *keys):
            return sum(p.get("durationMs", {}).get(k, 0) for k in keys)

        rounds = len(self.progress)
        useful = sum(1 for rnd in self.progress if any(p.get("numInputRows", 0) > 0 for p in rnd))
        every = [p for rnd in self.progress for p in rnd]
        wall = self.wall_ms() or 1.0
        return {
            "feed_runner.rounds": rounds,
            "feed_runner.batches": len(self.cdc_rows),
            "feed_runner.useful_round_share": useful / rounds if rounds else 0.0,
            "feed_runner.query_start_share": self.share("feed_runner.query_start"),
            "feed_runner.trigger_share": sum(dur(p, "triggerExecution") for p in every) / wall,
            "feed_runner.add_batch_share": sum(dur(p, "addBatch") for p in every) / wall,
            "feed_runner.offset_commit_share": sum(dur(p, "walCommit", "commitOffsets") for p in every) / wall,
            "feed_cdc.poll_share": sum(dur(p, "latestOffset", "getBatch") for p in every) / wall,
            "feed_cdc.rows_per_batch": sum(self.cdc_rows) / len(self.cdc_rows) if self.cdc_rows else 0.0,
        }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length in ms of the union of ``(start, end)`` intervals in seconds."""
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
    return 1000.0 * total


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


# -- Spark event log --------------------------------------------------------

# stage accumulator name -> per-layer metric
_STAGE_ACCUMULATORS = {
    "internal.metrics.executorRunTime": "spark.executor_run_ms",
    "internal.metrics.jvmGCTime": "spark.gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "spark.shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "spark.shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "spark.shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spark.spill_bytes",
    "internal.metrics.diskBytesSpilled": "spark.spill_bytes",
    "time to run Python workers": "processors.python_run_ms",
    "data sent to Python workers": "processors.arrow_bytes_in",
    "data returned from Python workers": "processors.arrow_bytes_out",
}


def event_log_metrics(
    log_dir: str, windows: list[tuple[float, float]]
) -> tuple[dict[str, float], list[tuple[float, float]]]:
    """Sum Spark's own job/stage records whose submission falls inside one
    of the clocked ``windows`` (epoch seconds).  ``spark.driver_gap_ms`` is
    the clocked wall time that no job covered.  Also returns the job
    intervals, clipped to the windows."""
    apps = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not apps:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    # Spark 4 writes a directory of numbered ``events_<n>_<app>`` files
    files = [apps[-1]]
    if os.path.isdir(apps[-1]):
        files = sorted(
            glob.glob(os.path.join(apps[-1], "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    ms_windows = [(1000.0 * a, 1000.0 * b) for a, b in windows]

    def inside(ms: float) -> bool:
        return any(a <= ms <= b for a, b in ms_windows)

    out = {name: 0.0 for name in set(_STAGE_ACCUMULATORS.values())}
    out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
    job_start: dict[int, float] = {}
    job_spans: list[tuple[float, float]] = []
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if inside(ev["Submission Time"]):
                job_start[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            t0 = job_start.pop(ev["Job ID"], None)
            if t0 is not None:
                out["spark.jobs"] += 1
                job_spans.append((t0 / 1000.0, ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if not inside(info.get("Submission Time", 0)):
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                metric = _STAGE_ACCUMULATORS.get(acc.get("Name"))
                if metric is not None:
                    out[metric] += float(acc.get("Value", 0))
    # clip job intervals to the windows before taking the union
    clipped = [
        (max(s, a), min(e, b))
        for s, e in job_spans
        for a, b in windows
        if s < b and e > a
    ]
    wall_ms = 1000.0 * sum(b - a for a, b in windows)
    out["spark.driver_gap_ms"] = wall_ms - _union_ms(clipped)
    return out, clipped
