#!/usr/bin/env python3
"""Self-test of the benchmark: every workload once with ``--trace 0`` and
once with ``--trace 1`` on small inputs (``--smoke``), each in its own
process.

    python3 perfbench/selftest.py

Asserts that each run prints, as its last stdout line, a result whose
metrics are exactly those BENCHMARK.json lists (each with its unit), that
every pass passed its output checks, and that the traced pass's spans
cover at least 95 % of its wall. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("link", "corpus")
SEED = 1


def run_one(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, trace: int, result: dict, spec: dict) -> None:
    where = f"{workload} trace={trace}"
    listed = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    got = result["metrics"]
    if set(got) != set(want):
        raise SystemExit(f"{where}: metric names differ from BENCHMARK.json: "
                         f"{sorted(set(got) ^ set(want))}")
    for name, m in got.items():
        if m["unit"] != want[name] or not isinstance(m["value"], float):
            raise SystemExit(f"{where}: bad metric {name}: {m}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{where}: output checks failed: {result}")
    if trace:
        coverage = got[f"{workload}.span_coverage"]["value"]
        if coverage < 0.95:
            raise SystemExit(f"{where}: span coverage {coverage:.3f} < 0.95")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload in WORKLOADS:
        for trace in (0, 1):
            result = run_one(workload, trace)
            check(workload, trace, result, spec)
            for name, m in result["metrics"].items():
                if trace and m["value"] == 0.0:
                    continue  # a layer this workload does not run
                print(f"{workload:7s} {name:34s} {m['value']:14.4f} {m['unit']}")
            print(f"{workload:7s} trace={trace} ok: attempted "
                  f"{result['attempted']}, failed {result['failed']}",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
