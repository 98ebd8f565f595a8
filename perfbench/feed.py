"""The two feed workloads: inputs from a seed, the clocked units of work,
and the output checks.

``feed_drain``: a txlog-backed ``FeedRunner`` seeded with a backlog in
which most items take one pass, a tenth carry a second gate (fan-in) and
1% always fail (dead-lettered on the first failure).  The unit is one
``run_available()`` that drains it, then one publish round of the query
mix (``querymix.py``) over a generated ``documents`` table.

``feed_trickle``: one SQLite-backed (dbapi) ``FeedRunner`` holding a
settled backlog of Complete items.  A closed loop with one producer: each
unit inserts one burst over new partitions, a third of its items on a
second gate, and calls ``run_available()``.  A burst's latency is the
clocked time from its insert until the end of the first drain after
which every burst item is terminal.

Both runners use the program's defaults apart from ``storage`` and
``max_retries``.

The second-gate defect.  In one drain an item on a second gate is
processed once and moves to gate 1.  The next round advances its
partition's gate, but that round's ready set was taken before the
decision, so no item row changes, the CDC poll then sees nothing new and
``run_available()`` returns.  The item is processed at gate 1 only in a
later drain, once new input arrives.  So a burst's second-gate items
finish in the drain of the next burst, and the trickle's latency counts
both drains; a run's last unit ends with its second-gate items still in
flight, and its check accepts exactly that state (``in_flight``).
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from gofeed_spark.feedstate.model import (
    AVAILABLE,
    COMPLETE,
    FAILED,
    ITEM_DDL,
    PARTITION_DDL,
)
from gofeed_spark.feedstate.processors import json_times_processor
from gofeed_spark.streaming.feed_runner import FeedRunner
from querymix import QueryMix

# A failing item is dead-lettered on its first failure: every retry adds
# a whole streaming round (~5 s on 4 cores), which the run-time budget lacks.
MAX_RETRIES = 0

# A second-gate item: processed once at gate 0, which moves it to gate 1,
# then once more after its partition's gate advances (fan-in).
FAN_IN = {"times": 2, "gate": 1}

# (status, version, gate) of a second-gate item after its first pass, and
# (status, gate) of its partition once the gate has advanced
IN_FLIGHT_ITEM = (AVAILABLE, 1, 1)
IN_FLIGHT_PART = (AVAILABLE, 1)

TERMINAL = (COMPLETE, FAILED)

ITEM_COLS = [c.split()[0] for c in ITEM_DDL.split(",")] + ["updated_at"]
PARTITION_COLS = [c.split()[0] for c in PARTITION_DDL.split(",")]


@dataclass
class Backlog:
    """Generated items and partitions plus the outcome each must reach."""

    items: list[tuple]  # ITEM_COLS order
    parts: list[tuple]  # (id, version, gate, status)
    expect_items: dict[str, tuple[int, int]]  # id -> (status, version)
    expect_parts: dict[str, int]  # id -> status
    expect_dead: set[str] = field(default_factory=set)
    second_gate: set[str] = field(default_factory=set)


def _body(rng: np.random.Generator) -> str:
    """40-160 random lowercase letters: a payload that does not compress
    to nothing."""
    return rng.integers(97, 123, size=int(rng.integers(40, 160)), dtype=np.uint8).tobytes().decode()


def make_backlog(
    rng: np.random.Generator,
    prefix: str,
    n_items: int,
    n_parts: int,
    fail_share: float,
    gate_share: float = 0.0,
    updated_at: int = 0,
) -> Backlog:
    """``n_items`` Available items over ``n_parts`` partitions.  Failing
    items land in the first 5% of the partitions; a partition holding one
    ends Failed, every other partition Complete.  ``gate_share`` of the
    items need a second gate; they sit in partitions without failing items
    (a Failed partition never advances its gate) and end Complete at
    version 2.  The rest take one pass."""
    n_fail = int(round(n_items * fail_share))
    n_gate = int(round(n_items * gate_share))
    n_fail_parts = max(1, int(round(n_parts * 0.05)))
    items, expect_items, dead, failed_parts, gated = [], {}, set(), set(), set()
    for i in range(n_items):
        iid = f"{prefix}i{i}"
        payload = {"body": _body(rng)}
        if i < n_fail:
            pid = f"{prefix}p{int(rng.integers(0, n_fail_parts))}"
            payload.update(times=1, fail=True)
            expect_items[iid] = (FAILED, MAX_RETRIES + 1)
            dead.add(iid)
            failed_parts.add(pid)
        elif i < n_fail + n_gate:
            pid = f"{prefix}p{int(rng.integers(n_fail_parts if n_fail else 0, n_parts))}"
            payload.update(FAN_IN)
            expect_items[iid] = (COMPLETE, 2)
            gated.add(iid)
        else:
            pid = f"{prefix}p{int(rng.integers(0, n_parts))}"
            payload.update(times=1)
            expect_items[iid] = (COMPLETE, 1)
        items.append(
            (iid, 0, 0, pid, 0, AVAILABLE, "", json.dumps(payload, sort_keys=True), updated_at)
        )
    parts = [(f"{prefix}p{j}", 0, 0, AVAILABLE) for j in range(n_parts)]
    expect_parts = {
        pid: FAILED if pid in failed_parts else COMPLETE for pid, *_ in parts
    }
    return Backlog(items, parts, expect_items, expect_parts, dead, gated)


def check_outcome(
    backlog: Backlog,
    items: dict[str, tuple[int, int, int]],
    parts: dict[str, tuple[int, int]],
    dead: list[str],
    in_flight: bool = False,
) -> list[str]:
    """Every generated item in its expected terminal status and version,
    every partition Complete or Failed as designed, and the dead letters
    exactly the designated failing items, each once.  ``items`` maps id to
    (status, version, gate), ``parts`` id to (status, gate).

    With ``in_flight`` a second-gate item may instead wait after its first
    pass (Available, version 1, gate 1), and its partition must then be
    Available at gate 1.  Returns the errors."""
    errors, waiting = [], set()
    partition_of = {row[0]: row[3] for row in backlog.items}
    for iid, want in backlog.expect_items.items():
        got = items.get(iid)
        if got is not None and got[:2] == want:
            continue
        if in_flight and iid in backlog.second_gate and got == IN_FLIGHT_ITEM:
            waiting.add(partition_of[iid])
            continue
        errors.append(f"item {iid}: (status, version, gate) {got} != {want}")
    for pid, want in backlog.expect_parts.items():
        got = parts.get(pid)
        if pid in waiting:
            if got != IN_FLIGHT_PART:
                errors.append(f"partition {pid}: (status, gate) {got} != {IN_FLIGHT_PART}, "
                              "holding items in flight")
        elif got is None or got[0] != want:
            errors.append(f"partition {pid}: (status, gate) {got}, status != {want}")
    if sorted(dead) != sorted(backlog.expect_dead):
        extra = sorted(set(dead) - backlog.expect_dead)[:3]
        missing = sorted(backlog.expect_dead - set(dead))[:3]
        errors.append(
            f"dead letters: {len(dead)} rows for {len(backlog.expect_dead)} "
            f"failing items (extra {extra}, missing {missing})"
        )
    return errors[:10]


def versions(backlog: Backlog, items: dict[str, tuple[int, int, int]]) -> list[int]:
    """Each generated item's final ``version``: its number of writes."""
    return [items[i][1] for i in backlog.expect_items if i in items]


def warm_up(runner: FeedRunner) -> None:
    """One streaming round of ``runner``: the round that processes the
    ready items, which runs the drain's code (query start, CDC poll, the
    feed step, the store commit) at a fraction of a full drain's cost.
    ``run_available`` raises when its last allowed round still committed
    work, as it does here."""
    try:
        runner.run_available(timeout_s=100, max_rounds=1)
    except RuntimeError as exc:
        if "did not quiesce" not in str(exc):
            raise


class FeedWorkload:
    """What ``run.py`` reads from a workload once its units have run."""

    def __init__(self):
        self.units = 0
        self.latencies: list[float] = []  # seconds, one per sample
        self.terminal_items = 0  # items that became terminal in clocked time
        self.feed_s = 0.0  # clocked time spent inserting and draining
        self.write_bytes = 0.0  # bytes the clocked units wrote
        self.versions: list[int] = []  # versions of the checked items

    def finish(self) -> list[str]:
        """Checks that can only run once the last unit has run."""
        return []


# -- feed_drain -------------------------------------------------------------


class FeedDrain(FeedWorkload):
    """Full: 2*10^4 items over 200 partitions, 10% on a second gate, 1%
    failing; the publish round over 2*10^3 documents."""

    def __init__(self, spark, work_dir: str, seed: int, toy: bool):
        super().__init__()
        self.spark = spark
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)
        self.n_items, self.n_parts = (300, 6) if toy else (20_000, 200)
        self.warm_items, self.warm_parts = (100, 4) if toy else (300, 6)
        self.publish = QueryMix(spark, work_dir, seed, toy)

    def _runner(self, name: str) -> FeedRunner:
        return FeedRunner(
            self.spark,
            os.path.join(self.work_dir, name),
            json_times_processor,
            max_retries=MAX_RETRIES,
            storage="txlog",
        )

    def _seeded(self, name: str, n_items: int, n_parts: int):
        backlog = make_backlog(
            self.rng, f"{name}_", n_items, n_parts, fail_share=0.01, gate_share=0.1
        )
        runner = self._runner(name)
        items = self.spark.createDataFrame(
            pd.DataFrame(backlog.items, columns=ITEM_COLS), f"{ITEM_DDL}, updated_at long"
        )
        parts = self.spark.createDataFrame(
            pd.DataFrame(backlog.parts, columns=PARTITION_COLS), PARTITION_DDL
        )
        runner.log.commit({runner.t_items: items, runner.t_parts: parts})
        return runner, backlog

    def setup(self) -> None:
        """Warm-up: one round over a 300-item backlog of the same shape in
        a runner of its own (a whole warm-up drain made set-up about 13 s
        longer without a shorter measured unit); then the publish round's
        table."""
        runner, _ = self._seeded("warm", self.warm_items, self.warm_parts)
        warm_up(runner)
        shutil.rmtree(runner.base, ignore_errors=True)
        self.publish.setup()

    def unit(self, tracer) -> list[str]:
        """Drain a fresh backlog, then publish.  The unit is the run's
        last, so its second-gate items are checked as in flight."""
        name = f"d{self.units}"
        self.units += 1
        runner, backlog = self._seeded(name, self.n_items, self.n_parts)
        _, last_stage = self.publish.output_bytes()
        with tracer.clocked():
            t0 = time.perf_counter()
            runner.run_available(timeout_s=100)
            drain_s = time.perf_counter() - t0
            results = self.publish.round(tracer)
            unit_s = time.perf_counter() - t0
        written, _ = self.publish.output_bytes(last_stage)
        items = {
            r["id"]: (r["status"], r["version"], r["gate"])
            for r in runner.items().select("id", "status", "version", "gate").collect()
        }
        parts = {
            r["id"]: (r["status"], r["gate"])
            for r in runner.partitions().select("id", "status", "gate").collect()
        }
        dead_df = runner.dead_letters()
        dead = [] if dead_df is None else [r["id"] for r in dead_df.select("id").collect()]
        self.latencies.append(unit_s)
        self.feed_s += drain_s
        self.terminal_items += sum(
            items[i][0] in TERMINAL for i in backlog.expect_items if i in items
        )
        self.write_bytes += float(runner.total_write_bytes) + written
        self.versions += versions(backlog, items)
        errors = check_outcome(backlog, items, parts, dead, in_flight=True)
        shutil.rmtree(runner.base, ignore_errors=True)
        return errors + self.publish.check(results)


# -- feed_trickle -----------------------------------------------------------


@dataclass
class Burst:
    prefix: str
    backlog: Backlog
    clocked_s: float = 0.0  # clocked time since its insert
    drains: int = 0


class FeedTrickle(FeedWorkload):
    """Full: 10^4 settled Complete items; bursts of 200 items over 10 new
    partitions, a third of them on a second gate."""

    def __init__(self, spark, work_dir: str, seed: int, toy: bool):
        super().__init__()
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.n_settled, self.settled_parts = (200, 4) if toy else (10_000, 100)
        self.burst_items, self.burst_parts = (50, 5) if toy else (200, 10)
        self.pending: list[Burst] = []
        self.runner = FeedRunner(
            spark,
            os.path.join(work_dir, "trickle"),
            json_times_processor,
            max_retries=MAX_RETRIES,
            storage="dbapi",
        )

    def _query(self, sql: str, *args):
        con = sqlite3.connect(self.runner.db_path)
        try:
            return con.execute(sql, args).fetchall()
        finally:
            con.close()

    def _db_bytes(self) -> int:
        """Bytes the database's pages hold (page size minus unused space,
        from SQLite's ``dbstat`` table): on-disk growth without the
        page-size steps of the file size."""
        return self._query("SELECT SUM(pgsize - unused) FROM dbstat")[0][0]

    def _terminal(self) -> int:
        return self._query(
            "SELECT COUNT(*) FROM items WHERE status IN (?, ?)", *TERMINAL
        )[0][0]

    def _burst(self, prefix: str, gate_share: float) -> Backlog:
        # the producer stamps rows past the store's high-water mark, as
        # an out-of-band writer does, so the CDC poll picks them up
        ts = self.runner.db.max_updated_at() + 1000
        return make_backlog(
            self.rng, prefix, self.burst_items, self.burst_parts,
            fail_share=0.0, gate_share=gate_share, updated_at=ts,
        )

    def setup(self) -> None:
        """Settled backlog (all Complete), then one round over a one-pass
        warm-up burst.  The first clocked burst's drain closes the warm-up
        burst's partitions; that adds no streaming round."""
        settled = make_backlog(
            self.rng, "s_", self.n_settled, self.settled_parts, fail_share=0.0
        )
        items = [r[:5] + (COMPLETE,) + r[6:] for r in settled.items]
        parts = [r[:3] + (COMPLETE,) for r in settled.parts]
        self.runner.db.seed(items, parts)
        warm = self._burst("w_", gate_share=0.0)
        self.runner.db.seed(warm.items, warm.parts)
        warm_up(self.runner)

    def _check(self, burst: Burst, in_flight: bool = False) -> list[str]:
        pattern = burst.prefix + "*"
        items = {
            i: (s, v, g)
            for i, s, v, g in self._query(
                "SELECT id, status, version, gate FROM items WHERE id GLOB ?", pattern
            )
        }
        parts = {
            i: (s, g)
            for i, s, g in self._query(
                "SELECT id, status, gate FROM partitions WHERE id GLOB ?", pattern
            )
        }
        dead_df = self.runner.dead_letters()
        dead = [] if dead_df is None else [
            r["id"] for r in dead_df.select("id").collect() if r["id"].startswith(burst.prefix)
        ]
        errors = check_outcome(burst.backlog, items, parts, dead, in_flight)
        if not errors and not in_flight:
            self.versions += versions(burst.backlog, items)
        return errors

    def unit(self, tracer) -> list[str]:
        """Insert a burst and drain.  Then every pending burst either is
        finished, which gives its latency, or must wait for one more
        drain: a burst still unfinished after the drain following its own
        fails its check."""
        burst = Burst(f"b{self.units}_", self._burst(f"b{self.units}_", gate_share=1 / 3))
        self.units += 1
        size0, done0 = self._db_bytes(), self._terminal()
        with tracer.clocked():
            t0 = time.perf_counter()
            self.runner.db.seed(burst.backlog.items, burst.backlog.parts)
            self.runner.run_available(timeout_s=100)
            drain_s = time.perf_counter() - t0
        self.feed_s += drain_s
        self.write_bytes += self._db_bytes() - size0
        self.terminal_items += self._terminal() - done0
        self.pending.append(burst)
        errors = []
        for b in list(self.pending):
            b.clocked_s += drain_s
            b.drains += 1
            b_errors = self._check(b)
            if not b_errors:
                self.latencies.append(b.clocked_s)
            elif b.drains < 2:
                continue
            else:
                errors += b_errors
            self.pending.remove(b)
        return errors

    def finish(self) -> list[str]:
        """The last burst may still have second-gate items in flight."""
        errors = []
        for b in self.pending:
            errors += self._check(b, in_flight=True)
        return errors
