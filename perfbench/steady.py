"""Steadiness check of the benchmark.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--first-seed 1]
                                [--traced]

Runs each workload once per seed (seeds first-seed .. first-seed+runs-1)
through run.py, exactly as the benchmark is invoked, and reports for each
end-to-end metric the median and the spread: the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share of
the median, against the metric's bound in BENCHMARK.json. A spread above a
third of the bound is flagged. With --traced each seed also gets a traced
run, and the tracing overhead (traced minus untraced freshness and read
medians) is reported. Also prints the machine and Spark settings the runs
used. Exits 1 if any run fails or any spread reaches its bound.
"""
import argparse
import functools
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

print = functools.partial(print, flush=True)
ROOT = Path(__file__).resolve().parent.parent


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    done = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    summary = [l for l in done.stderr.splitlines() if "[perfbench]" in l]
    summary.append(f"run took {time.monotonic() - t0:.0f} s")
    if done.returncode != 0:
        sys.stderr.write(done.stderr[-3000:])
        return None, summary
    return json.loads(done.stdout.strip().splitlines()[-1]), summary


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    print(f"nproc={os.cpu_count()} local[{min(4, os.cpu_count())}] "
          f"run_seconds={spec['run_seconds']} graft-repos: pageSize=100 "
          f"pageDelayMs=0 requestBudget=100000")
    bad = False
    for w in args.workloads.split(","):
        values = {m["name"]: [] for m in spec["end_to_end"]}
        traced = {"trace.freshness_p50_s": [], "trace.read_p50_ms": []}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res, summary = run(w, seed, spec["run_seconds"], 0)
            print(f"  {w} seed={seed} " + " ".join(summary))
            if res is None or not res["correct"] or res["failed"]:
                print(f"  {w} seed={seed}: FAILED {res and res['failed']}")
                bad = True
                continue
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            if args.traced:
                tres, _ = run(w, seed, spec["run_seconds"], 1)
                if tres is None or not tres["correct"]:
                    print(f"  {w} seed={seed}: traced run FAILED")
                    bad = True
                    continue
                for k in traced:
                    traced[k].append(tres["metrics"][k]["value"])
        print(f"{w}:")
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 4:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ""
            if spread >= m["bound"]:
                flag = "  OVER BOUND"
                bad = True
            elif spread >= m["bound"] / 3:
                flag = "  above a third of the bound"
            print(f"  {m['name']:18s} median {statistics.median(v):12.4f} "
                  f"{m['unit']:6s} spread {spread:7.4f} "
                  f"bound {m['bound']:.2f}{flag}")
        if args.traced and traced["trace.read_p50_ms"]:
            for k, e2e in (("trace.freshness_p50_s", "freshness_p50_s"),
                           ("trace.read_p50_ms", "read_p50_ms")):
                t = statistics.median(traced[k])
                u = statistics.median(values[e2e])
                print(f"  tracing overhead on {e2e}: {t - u:+.4f} "
                      f"({(t - u) / u:+.1%})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
