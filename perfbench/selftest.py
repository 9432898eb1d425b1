"""Smoke self-test of the benchmark on a small base fixture.

    python3 perfbench/selftest.py --base <dir with the sf0.001 parquet tables>

For every workload it runs ``run.py`` twice, untraced and traced, each with
the cold and warm-up passes plus the fewest timed passes.  It asserts that both runs are
correct, that every end-to-end and per-layer metric is present with its
unit, and that every query has a per-query record with every layer figure.
It prints the tracing overhead: traced ``pass_s`` minus untraced ``pass_s``.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from run import END_TO_END, PER_LAYER, RUN_LEVEL, TRACE_METRICS
from workloads import WORKLOADS

RUN = Path(__file__).resolve().parent / "run.py"


def run_once(workload: str, trace: int, base: Path) -> tuple[dict, dict]:
    cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", "1", "--seconds", "0",
           "--trace", str(trace), "--base", str(base)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-3])["per_query"], json.loads(lines[-1])


def check(workload: str, trace: int, base: Path) -> dict:
    per_query, result = run_once(workload, trace, base)
    units = TRACE_METRICS if trace else END_TO_END
    label = f"{workload} trace={trace}"
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{label}: not correct: {result}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != units:
        raise SystemExit(f"{label}: metrics {sorted(got)} != {sorted(units)}")
    if set(per_query) != set(WORKLOADS[workload]):
        raise SystemExit(f"{label}: per-query records for {sorted(per_query)}")
    if trace and any(set(rec) != set(PER_LAYER) - set(RUN_LEVEL) for rec in per_query.values()):
        raise SystemExit(f"{label}: per-query layer records are incomplete")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", type=Path, required=True, help="base fixture directory")
    args = p.parse_args()
    for name in WORKLOADS:
        plain = check(name, 0, args.base)
        traced = check(name, 1, args.base)
        overhead = traced["trace.pass_s"] - plain["pass_s"]
        print(f"{name}: ok; pass_s {plain['pass_s']:.3f} s, traced {traced['trace.pass_s']:.3f} s, "
              f"tracing overhead {overhead:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
