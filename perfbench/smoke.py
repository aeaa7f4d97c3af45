"""Self-check of the benchmark at a tiny input size.

    python3 perfbench/smoke.py

Runs every workload once untraced and crawl_batch once traced, each in
its own process as the benchmark command line would, and checks that
the last stdout line has exactly the result keys, that every output was
correct, and that the metric names and units are the ones
BENCHMARK.json declares. Takes a few minutes (one JVM per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = [
    ("crawl_batch", 0),
    ("crawl_heavy", 0),
    ("crawl_incremental", 0),
    ("text_ops", 0),
    ("crawl_batch", 1),
]


def declared() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in b["end_to_end"]},
        {m["name"]: m["unit"] for m in b["per_layer"]},
    )


def check(workload: str, trace: int, e2e: dict, per_layer: dict) -> list[str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.05",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    bad = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"result keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
        bad.append(f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
    want = per_layer if trace else e2e
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        bad.append(f"metrics/units differ from BENCHMARK.json: {set(got) ^ set(want)}")
    return bad


def main() -> int:
    e2e, per_layer = declared()
    failures = 0
    for workload, trace in RUNS:
        bad = check(workload, trace, e2e, per_layer)
        print(f"{workload} trace={trace}: {'ok' if not bad else bad}", flush=True)
        failures += bool(bad)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
