"""Self-test of the benchmark: every workload, untraced and traced, at tiny size.

    python3 perfbench/selftest.py

Passes when each run exits 0 and its last line names every metric that
``BENCHMARK.json`` lists for that mode (``end_to_end`` untraced, ``per_layer``
traced) with the unit given there, and no operation failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"attempted {result['attempted']}, failed {result['failed']}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    for name, unit in wanted.items():
        if name not in got:
            problems.append(f"missing {name}")
        elif got[name]["unit"] != unit:
            problems.append(f"{name} in {got[name]['unit']}, expected {unit}")
    problems += [f"unlisted {name}" for name in sorted(set(got) - set(wanted))]
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
