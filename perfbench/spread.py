"""Run the benchmark once per seed on each workload and print every
metric by name and unit, the failure rate, and for each metric its
median and spread: the distance between the first and third quartiles
as a share of the median (Python's ``statistics.quantiles``).

    python3 perfbench/spread.py                      # every workload, seed 1
    python3 perfbench/spread.py --workload llm_curation --seeds 1-10

Run from the repository root; ``--seconds`` defaults to BENCHMARK.json's
``run_seconds``. Exits non-zero if a run fails or an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_seeds(bench: dict, workload: str, seed_list: list[int], seconds: int,
              trace: int) -> bool:
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    attempted = failed = 0
    for seed in seed_list:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}",
                  file=sys.stderr)
            return False
        out = json.loads(lines[-1])
        attempted += out["attempted"]
        failed += out["failed"]
        print(f"{workload} seed {seed}: wall {wall:.1f} s, correct={out['correct']}, "
              f"{out['failed']}/{out['attempted']} failed", flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    print(f"{workload}: error_rate {failed / attempted:.4g} ({failed}/{attempted} ops)")
    for k, vs in values.items():
        med = statistics.median(vs)
        line = f"  {k} [{units[k]}]: median {med:.6g}"
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            line += f", spread {(q3 - q1) / med:.4f}"
            if bounds.get(k):
                line += f" (bound {bounds[k]}, a third {bounds[k] / 3:.4f})"
        print(line, flush=True)
    return failed == 0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", help="a workload name or 'all'")
    ap.add_argument("--seeds", default="1", help="N or N-M")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    names = ([w["name"] for w in bench["workloads"]] if args.workload == "all"
             else [args.workload])
    ok = True
    for name in names:
        ok = run_seeds(bench, name, seeds(args.seeds), args.seconds, args.trace) and ok
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
