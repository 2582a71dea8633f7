"""Smoke test of the benchmark itself: every workload, untraced and traced,
in tiny mode (bundled sf0.001 tables, two timed passes). Run from the
repository root; takes a few minutes:

    python3 perfbench/smoke.py

Checks that each run prints every metric BENCHMARK.json declares, with its
unit, that no op failed and every output verified, and that the traced runs
together left spans for every layer the benchmark wraps.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

LAYERS = {
    "session", "op", "qcatalog", "sources", "exec", "plans.publish",
    "registry", "quality.checks",
}


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", "0", "--seconds", "0", "--trace", str(trace), "--tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    layers_seen: set[str] = set()
    for workload in WORKLOADS:
        for trace in (0, 1):
            res = run(workload, trace)
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            tag = f"{workload} trace={trace}"
            if got != want[trace]:
                problems.append(f"{tag}: metrics {got} != declared {want[trace]}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            print(f"ran {tag}", flush=True)
        spans = ROOT / ".perfbench_work" / "trace" / f"{workload}-seed0.jsonl"
        with open(spans) as f:
            layers_seen |= {json.loads(line)["layer"] for line in f}
    if missing := LAYERS - layers_seen:
        problems.append(f"no spans for layers {sorted(missing)}")
    for p in problems:
        print(p)
    print("smoke: " + ("FAIL" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
