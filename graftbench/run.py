"""graft benchmark: one workload, one fresh JVM, one result line.

    python3 graftbench/run.py --workload lake_roundtrip --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark harness (graftbench/build.py),
generates the workload's inputs from --seed, runs the workload in a JVM for
--seconds, checks every output apart from the program, prints a readable
report and, as the last line, one JSON object: `correct`, `attempted`,
`failed` and the end-to-end metrics (--trace 0) or the per-layer metrics
of the traced run (--trace 1), as BENCHMARK.json names them.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

START = time.time()

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import analytics  # noqa: E402
import build  # noqa: E402
import lake  # noqa: E402

WORKLOADS = ("lake_roundtrip", "service_small_pages", "service_large_pages",
             "analytics_sample")
# inputs made in Python, and the checks made there; the service pages are
# generated, and checked, inside the JVM
INPUTS = {"lake_roundtrip": lake, "analytics_sample": analytics}
RUN_LIMIT_S = 175


def jvm_command(classes, work, out, args):
    """The program's own `javaOptions` from build.sbt, plus two options that
    keep every file the JVM writes inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir()
    opts = build.java_options() + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    cp = os.pathsep.join([str(classes), os.path.join(build.spark_jars(), "*")])
    return ["java"] + opts + ["-cp", cp, "graftbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--work", str(work), "--out", str(out)]


def cpu_ticks():
    """(steal, total) CPU ticks of the whole machine, or None without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def run_jvm(cmd, work):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - START)))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write(log_path.read_text()[-6000:])
        raise SystemExit(f"run: workload JVM ended with {code}")


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    phases = {}
    classes = build.build()
    phases["build"] = time.time() - START
    # set-up counts from here: input generation, JVM start, session or
    # server, warm-up, up to the first timed operation
    setup_t0 = time.time()
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    inputs = INPUTS.get(args.workload)
    try:
        if inputs:
            inputs.generate(str(work), args.seed)
        phases["inputs"] = time.time() - setup_t0
        out = work / "result.json"
        ticks0 = cpu_ticks()
        run_jvm(jvm_command(classes, work, out, args), work)
        ticks1 = cpu_ticks()
        phases["jvm"] = time.time() - START - sum(phases.values())
        res = json.loads(out.read_text())
        if res["setup_done_ms"] > 0:
            res["metrics"]["setup_s"] = {"value": res["setup_done_ms"] / 1000 - setup_t0,
                                         "unit": "s", "samples": 1}
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if inputs:
            checks += inputs.check(str(work))
            phases["checks"] = time.time() - START - sum(phases.values())
        self_ms = {}
        if (work / "spans.jsonl").exists():
            spans_dir = BENCH / ".work" / "spans"
            spans_dir.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", spans_dir / f"{args.workload}-seed{args.seed}.jsonl")
            for line in (work / "spans.jsonl").read_text().splitlines():
                span = json.loads(line)
                self_ms.setdefault(span["name"], []).append(span["self_ns"] / 1e6)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}")
    for name, ok, detail in checks:
        print(f"  check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for kind, c in res["ops"].items():
        print(f"  ops   {kind}: attempted {c['attempted']}, failed {c['failed']}")
    for name, m in got.items():
        print(f"  metric {name} = {m['value']:.6g} {m['unit']} (samples {m['samples']})")
    for k, v in res["info"].items():
        print(f"  info  {k}: {v}")
    for name, xs in self_ms.items():
        print(f"  span  {name}: {len(xs)} spans, median self time {statistics.median(xs):.4g} ms")
    print("  phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # time the hypervisor gave this machine's CPUs to others: runs with
        # high steal are slow for reasons outside the program
        steal = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        print(f"  host  steal {steal:.1f}% of CPU time during the JVM")

    metrics = {}
    for m in wanted:
        # a layer this workload does not pass through did no work: 0
        value = got[m["name"]]["value"] if m["name"] in got else 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    missing_e2e = [m["name"] for m in wanted if m["name"] not in got] if not args.trace else []
    for name in missing_e2e:
        print(f"  check FAIL metric {name} was not measured")
    correct = all(ok for _, ok, _ in checks) and not missing_e2e
    attempted = sum(c["attempted"] for c in res["ops"].values())
    failed = sum(c["failed"] for c in res["ops"].values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
