#!/usr/bin/env python3
"""Steadiness record: run each workload once per seed (untraced) and report,
per end-to-end metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median), the statistic the
benchmark's regression bounds are judged against.

    python3 perfbench/steady.py --workloads curate,session --seeds 1-10 \\
        --out perfbench/STEADINESS.json
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="curate,session")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {}
    for wl in a.workloads.split(","):
        values, failed, walls = {}, 0, []
        for seed in seeds(a.seeds):
            t0 = time.time()
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{wl} seed {seed} failed:\n{p.stderr[-3000:]}")
            walls.append(time.time() - t0)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            failed += res["failed"]
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(wl, seed, f"{walls[-1]:.0f}s",
                  {k: round(m["value"], 4) for k, m in res["metrics"].items()}, flush=True)
        rows = {}
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            rows[k] = {"median": med, "q1": q1, "q3": q3,
                       "spread": (q3 - q1) / med, "bound": bounds.get(k), "runs": len(xs)}
            print(f"  {wl} {k}: median {med:.4f} spread {(q3 - q1) / med:.4f} "
                  f"(bound {bounds.get(k)})", flush=True)
        record[wl] = {"seeds": a.seeds, "failed_steps": failed, "metrics": rows,
                      "run_wall_s": {"median": statistics.median(walls), "max": max(walls)}}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
