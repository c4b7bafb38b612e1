"""Tiny-size self-test of the benchmark.

Run from the repository root::

    python3 perfbench/selftest.py

Runs every workload in ``BENCHMARK.json`` for one second, so one round of
queries, untraced and traced. It checks that each run prints every declared
end-to-end (untraced) or per-layer (traced) metric with its declared unit,
and that no operation failed, i.e. the error rate is 0.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(command: list[str], workload: str, trace: int) -> dict:
    argv = [*command, "--workload", workload, "--seed", "1", "--seconds", "1"]
    argv += ["--trace", str(trace)]
    p = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            result = run(spec["command"], workload, trace)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {name: m["unit"] for name, m in result["metrics"].items()}
            where = f"{workload} trace={trace}"
            if got != want:
                problems.append(f"{where}: metrics {got} != declared {want}")
            for name, m in result["metrics"].items():
                v = m["value"]
                if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
                    problems.append(f"{where}: {name} is not a finite number: {v!r}")
            if result["attempted"] < 1 or result["failed"] != 0 or not result["correct"]:
                problems.append(f"{where}: attempted={result['attempted']} failed={result['failed']}")
            print(f"{where}: {result['attempted']} operations, {len(got)} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
