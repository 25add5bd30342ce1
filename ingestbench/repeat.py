"""Repeat the benchmark over several seeds and summarise each metric.

    python3 ingestbench/repeat.py --workload W --seeds 1-10 --seconds S [--trace 0|1] [--out F]

Run from the repository root.  Prints, per metric, the median, the
quartiles (`statistics.quantiles(values, n=4)`) and the quartile distance as
a share of the median; with --out, writes the same summary plus every run's
result as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()

    runs = []
    for seed in a.seeds:
        t0 = time.perf_counter()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        launch = next((json.loads(ln[7:]) for ln in lines if ln.startswith("launch ")), None)
        result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
        runs.append(dict(seed=seed, exit=r.returncode, run_s=round(time.perf_counter() - t0, 1),
                         launch=launch, result=result))
        print("seed %d exit %d %.1fs %s" % (seed, r.returncode, runs[-1]["run_s"],
              {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}),
              flush=True)

    summary = {}
    ok = [r["result"] for r in runs if r["result"]]
    for name in sorted(ok[0]["metrics"]) if ok else []:
        xs = [r["metrics"][name]["value"] for r in ok]
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        med = statistics.median(xs)
        summary[name] = dict(unit=ok[0]["metrics"][name]["unit"], median=med, q1=q[0], q3=q[2],
                             spread=(q[2] - q[0]) / med if med else None, n=len(xs))
        print("%-42s median %12.5g  q1 %12.5g  q3 %12.5g  spread %.4f" % (
            name, med, q[0], q[2], summary[name]["spread"] or 0.0))
    failed = sum(r["failed"] for r in ok)
    attempted = sum(r["attempted"] for r in ok)
    print("runs %d (exit 0: %d), operations failed %d of %d" % (len(runs), len(ok), failed, attempted))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(dict(workload=a.workload, seconds=a.seconds, trace=a.trace,
                           summary=summary, runs=runs), f, indent=1)


if __name__ == "__main__":
    main()
