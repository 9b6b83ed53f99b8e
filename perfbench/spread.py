#!/usr/bin/env python3
"""Run the benchmark once per seed on each workload and record the spread.

  python3 perfbench/spread.py --out perfbench/results/runs_set_a.json \\
      --seeds 101-110 [--workloads corpus_build,...] [--seconds 10]

Each run is `run.py --trace 0` in a fresh process, one after another.
The output holds, per workload, every run's result line, digests and
phase times, and per end-to-end metric the median and the quartile
spread (IQR / median, quartiles as statistics.quantiles(values, n=4)).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 0,
                                                 "failed": 0, "metrics": {}}
    art = os.path.join(HERE, ".work", "artifacts",
                       f"{workload}-seed{seed}-trace0.json")
    with open(art) as f:
        a = json.load(f)
    res.update({"seed": seed, "rc": p.returncode, "run_wall_s": wall,
                "phases": a["phases"], "source_sha256": a["source_sha256"],
                "bench_sha256": a["bench_sha256"]})
    return res


def summarise(runs):
    metrics = {}
    for name in runs[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        metrics[name] = {"median": med, "q1": q1, "q3": q3,
                         "iqr_over_median": (q3 - q1) / med}
    walls = [r["run_wall_s"] for r in runs]
    return {"runs": len(runs), "seeds": [r["seed"] for r in runs],
            "all_correct": all(r["correct"] and r["rc"] == 0 for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "source_sha256": sorted({r["source_sha256"] for r in runs}),
            "bench_sha256": sorted({r["bench_sha256"] for r in runs}),
            "run_wall_s_mean": statistics.mean(walls), "run_wall_s_max": max(walls),
            "metrics": metrics, "runs_detail": runs}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,5,9")
    ap.add_argument("--workloads",
                    default="collection_build,corpus_build,ingest_serving")
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    out = {}
    for wl in a.workloads.split(","):
        runs = [one(wl, s, seconds) for s in seeds_of(a.seeds)]
        out[wl] = summarise(runs)
        for name, m in out[wl]["metrics"].items():
            print(f"{wl:17s} {name:12s} median {m['median']:10.4f} "
                  f"iqr/median {m['iqr_over_median']:.3f}", flush=True)
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
