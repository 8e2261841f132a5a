"""Repeat-run checker: run every workload on several seeds and report,
per end-to-end metric, the median and the quartile spread as a share of
the median against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 10 [--workloads assess ingest] [--out runs.json]

With ``--compare runs.json`` it also reports whether this set's medians
are worse than the stored set's by more than each bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import check_bounds, check_drift  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not result["correct"]:
        errors = json.loads(lines[-2])["report"]["errors"]
        raise RuntimeError(f"{workload} seed {seed} incorrect: {errors}")
    report = json.loads(lines[-2])["report"]
    print(workload, seed, f"wall {wall:.1f} s, ops", [round(t, 2) for t in report["op_times_s"]],
          file=sys.stderr)
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out")
    p.add_argument("--compare")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    runs: dict[str, list[dict]] = {}
    for name in names:
        runs[name] = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            runs[name].append(run_once(spec, name, seed))
            print(name, seed, json.dumps(runs[name][-1]), file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)
    report = {n: check_bounds(r, spec["end_to_end"]) for n, r in runs.items()}
    if args.compare:
        with open(args.compare) as f:
            before = json.load(f)
        for n in runs:
            if n in before:
                report[n + ":drift"] = check_drift(before[n], runs[n], spec["end_to_end"])
    print(json.dumps(report, indent=1))
    ok = all(m["ok"] for r in report.values() for m in r.values())
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
