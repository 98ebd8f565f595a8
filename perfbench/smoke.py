"""Toy-size smoke test of the benchmark.

    python3 perfbench/smoke.py            # checks + both workloads, traced and not
    python3 perfbench/smoke.py --quick    # output checks and missing-program exit only

1. The output checks accept the designed outcome and reject deliberately
   wrong ones: for the feeds a wrong status, a wrong version, an item left
   at its second gate, a lost or doubled dead letter, a wrong partition
   status, and in-flight states other than a second-gate item waiting at
   gate 1 in its partition at gate 1; for the queries a changed value, a
   lost row and an empty result.
2. Each workload, run at toy size with ``--trace 0`` and ``--trace 1``,
   prints a last line with exactly ``correct``, ``attempted``, ``failed``
   and ``metrics``, naming every metric of ``BENCHMARK.json`` with its unit.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
   benchmark exits non-zero without printing a result.

Exits 0 when everything holds; prints each failure otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def check_rejects_wrong_results() -> list[str]:
    from feed import IN_FLIGHT_ITEM, IN_FLIGHT_PART, check_outcome, make_backlog

    from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE, FAILED

    b = make_backlog(np.random.default_rng(7), "t_", 300, 6, fail_share=0.01, gate_share=0.1)
    items = {i: want + (1 if i in b.second_gate else 0,) for i, want in b.expect_items.items()}
    parts = {p: (want, 0) for p, want in b.expect_parts.items()}
    dead = sorted(b.expect_dead)
    problems = []
    if check_outcome(b, items, parts, dead):
        problems.append("check rejects the designed outcome")
    one_pass = next(i for i, v in b.expect_items.items() if v == (COMPLETE, 1))
    fan_in = next(iter(sorted(b.second_gate)))
    fan_in_part = next(r[3] for r in b.items if r[0] == fan_in)
    # the last unit's second-gate items after their first pass
    waiting = {**items, **{i: IN_FLIGHT_ITEM for i in b.second_gate}}
    waiting_parts = {
        **parts, **{r[3]: IN_FLIGHT_PART for r in b.items if r[0] in b.second_gate}
    }
    if check_outcome(b, waiting, waiting_parts, dead, in_flight=True):
        problems.append("in-flight check rejects second-gate items waiting at gate 1")
    if check_outcome(b, items, parts, dead, in_flight=True):
        problems.append("in-flight check rejects the finished outcome")
    wrong = {
        "item left at its second gate": ({**items, fan_in: IN_FLIGHT_ITEM}, parts, dead, False),
        "item left Available": ({**items, one_pass: (AVAILABLE, 1, 0)}, parts, dead, False),
        "item processed twice": ({**items, one_pass: (COMPLETE, 2, 0)}, parts, dead, False),
        "item missing": ({k: v for k, v in items.items() if k != one_pass}, parts, dead, False),
        "dead letter lost": (items, parts, dead[1:], False),
        "dead letter doubled": (items, parts, dead + dead[:1], False),
        "healthy item dead-lettered": (items, parts, dead + [one_pass], False),
        "partition wrong": (items, {**parts, next(iter(parts)): (FAILED + 1, 0)}, dead, False),
        "in flight: one-pass item waiting": (
            {**waiting, one_pass: IN_FLIGHT_ITEM}, waiting_parts, dead, True),
        "in flight: second-gate item never processed": (
            {**waiting, fan_in: (AVAILABLE, 0, 0)}, waiting_parts, dead, True),
        "in flight: its partition closed": (
            waiting, {**waiting_parts, fan_in_part: (COMPLETE, 1)}, dead, True),
        "in flight: its partition at gate 0": (
            waiting, {**waiting_parts, fan_in_part: (AVAILABLE, 0)}, dead, True),
    }
    for what, (i, p, d, flight) in wrong.items():
        if not check_outcome(b, i, p, d, in_flight=flight):
            problems.append(f"check accepts a wrong result: {what}")
    return problems + _query_check_problems()


def _query_check_problems() -> list[str]:
    from querymix import check_result

    cols = ["source", "n"]
    rows = [("src0", 3), ("src1", 5)]
    problems = []
    if check_result("q", cols, rows[::-1], (cols, rows)):
        problems.append("query check rejects the oracle's rows in another order")
    wrong = {
        "changed value": [("src0", 3), ("src1", 6)],
        "lost row": rows[:1],
        "empty result": [],
    }
    for what, got in wrong.items():
        if not check_result("q", cols, got, (cols, rows)):
            problems.append(f"query check accepts a wrong result: {what}")
    return problems


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_workload(workload: str, trace: int) -> list[str]:
    proc = _run(ROOT, workload, trace)
    tag = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}: {proc.stderr[-500:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{tag}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"{tag}: correct={result.get('correct')} failed={result.get('failed')}")
    kind = "end_to_end" if trace == 0 else "per_layer"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        problems.append(f"{tag}: metrics differ: missing {sorted(set(want) - set(got))}, "
                        f"extra {sorted(set(got) - set(want))}")
    for name, m in result.get("metrics", {}).items():
        if not isinstance(m.get("value"), (int, float)):
            problems.append(f"{tag}: {name} value {m.get('value')!r}")
    return problems


def check_refuses_without_program() -> list[str]:
    bare = tempfile.mkdtemp(prefix="perfbench_bare_", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, SPEC["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"correct"' in proc.stdout:
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    problems = check_rejects_wrong_results() + check_refuses_without_program()
    if "--quick" not in sys.argv:
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                problems += check_workload(w["name"], trace)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
