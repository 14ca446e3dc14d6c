"""Steadiness of the graft benchmark, measured in fresh processes.

    python3 graftbench/steady.py --workload service_small_pages --runs 10 [--first-seed 1]

Runs `run.py` once per seed, each time in a new process, with the run
length from BENCHMARK.json. For every end-to-end metric it prints the
median, the quartiles (Python's `statistics.quantiles(n=4)`) and the spread
(q3 - q1) / median against the metric's bound, then splits the runs into two
halves and checks that their medians agree within the bound and that both
halves fail the same share of operations. Exits 1 when a check fails.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run_once(workload, seed, seconds):
    t = time.time()
    proc = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(proc.stdout)
        raise SystemExit(f"steady: run with seed {seed} ended with {proc.returncode}")
    return json.loads(lines[-1]), time.time() - t


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def worse(metric, a, b):
    """Share by which median b is worse than median a."""
    if metric["better"] == "lower":
        return (b - a) / a
    return (a - b) / a


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    results, walls = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        r, wall = run_once(args.workload, seed, spec["run_seconds"])
        results.append(r)
        walls.append(wall)
        shown = ", ".join(f"{k} {v['value']:.5g}" for k, v in r["metrics"].items())
        print(f"seed {seed} ({wall:.0f} s): correct {r['correct']}, "
              f"failed {r['failed']}/{r['attempted']}, {shown}", flush=True)

    ok = all(r["correct"] for r in results)
    half = len(results) // 2
    print(f"\n{args.workload}: {len(results)} runs, halves of {half}, "
          f"{statistics.mean(walls):.0f} s per run")
    print(f"{'metric':22} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6} "
          f"{'halves':>8}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3, sp = spread(vals)
        shift = worse(m, statistics.median(vals[:half]), statistics.median(vals[half:]))
        spread_ok = sp <= m["bound"]
        shift_ok = shift <= m["bound"]
        ok = ok and spread_ok and shift_ok
        note = "" if sp <= m["bound"] / 3 else "  (spread above a third of the bound)"
        print(f"{m['name']:22} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.4f} {m['bound']:6.3f} "
              f"{shift:+8.4f}{'' if spread_ok and shift_ok else '  FAIL'}{note}")
    shares = {r["failed"] / r["attempted"] for r in results}
    share_ok = len(shares) == 1
    ok = ok and share_ok
    print(f"failed share: {sorted(shares)}{'' if share_ok else '  FAIL: differs between runs'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
