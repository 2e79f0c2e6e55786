"""Tiny-size self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload end to end at a seconds-long size, untraced and
traced, and checks that the printed metric names and units match
BENCHMARK.json. Then injects a fault per workload (a moniker removed
before the bookkeeper can poll it; a perturbed query result) and checks
that the run reports it as a failed operation. Exits non-zero on the
first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, inject: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    if inject:
        cmd += ["--inject", inject]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[2:])}: exit {out.returncode}\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{workload}: result keys {sorted(result)}")
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    faults = {"ingest": "drop-moniker", "query_mix": "perturb-result"}
    for w in [wl["name"] for wl in bench["workloads"]]:
        for trace in (0, 1):
            res = run(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected[trace]:
                raise AssertionError(f"{w} trace={trace}: metric names/units differ from "
                                     f"BENCHMARK.json: {sorted(set(got) ^ set(expected[trace]))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise AssertionError(f"{w} trace={trace}: clean run not correct: {res}")
            print(f"ok  {w} trace={trace}: {res['attempted']} ops", flush=True)
        res = run(w, 0, faults[w])
        if res["correct"] or res["failed"] < 1:
            raise AssertionError(f"{w}: injected {faults[w]} was not reported: {res}")
        print(f"ok  {w} {faults[w]}: {res['failed']} of {res['attempted']} ops failed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
