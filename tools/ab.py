#!/usr/bin/env python3
"""Paired A/B benchmark runner: the parent and the change, run in turns on
the same seeds, with a verdict per end-to-end metric.

    python3 tools/ab.py --base HEAD^ --change HEAD --workloads session \\
        --seeds 801-810 [--json runs.json] [--tmp DIR]

Each side is a fresh checkout of its committed files (`git archive` into a
temporary directory, removed on exit), never the working checkout, so
untracked files and stale build outputs cannot leak into either side.
Each checkout builds once (perfbench's own build step) before any run.
Then, per workload and seed, one pair: both sides run the benchmark
command from BENCHMARK.json once, untraced, for its `run_seconds`; the
side that runs first alternates from pair to pair. Before every run a
fixed single-thread CPU calibration is timed, so a loaded machine shows
as a slower calibration rather than as a regression.

Every run is printed as it finishes. Then, per workload and metric: each
side's median and quartiles, the per-pair ratios (change / base), the
change's wins, and two verdicts:
  - gain: the change wins at least 9 of every 10 pairs (ties count for
    neither) and the medians differ, in the better direction, by more
    than the distance between the parent's quartiles;
  - bound: worse than the parent's median by more than BENCHMARK.json's
    bound, within it, or unresolved when the parent's own spread is wider
    than the bound (unless every change run beats every parent run).
The runner reads BENCHMARK.json and perfbench/ and writes to neither.
"""

import argparse
import hashlib
import io
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def calibrate(rounds=200_000):
    """Seconds for a fixed single-thread CPU loop (sha256 chain)."""
    t0 = time.perf_counter()
    h = b"calibration"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(base, change, better, bound):
    """Compare paired samples of one metric (base[i] and change[i] come
    from pair i). `better` is "lower" or "higher"; `bound` the share by
    which the change's median may be worse than the parent's, or None."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    losses = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    iqr = bq3 - bq1
    gap = sign * (bmed - cmed)  # > 0: the change is better
    n = len(base)
    gain = n > 0 and wins * 10 >= 9 * n and gap > iqr
    if bound is None:
        status = "no bound"
    elif n and all(sign * (b - c) > 0 for b in base for c in change):
        status = "better"
    elif bmed and iqr / abs(bmed) > bound:
        status = "unresolved"
    elif -gap > bound * abs(bmed):
        status = "worse"
    else:
        status = "within bound"
    ratios = [c / b if b else math.nan for b, c in zip(base, change)]
    return {"wins": wins, "losses": losses, "ties": n - wins - losses,
            "base_median": bmed, "change_median": cmed, "base_iqr": iqr,
            "gap": gap, "ratios": ratios, "gain": gain, "bound": status}


def checkout(rev, dest):
    """The committed files of `rev` under `dest`."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    tar = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                         check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")
    return sha


def build(tree):
    """Run perfbench's build step in `tree` so no timed run pays for it."""
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            "run.build()")
    p = subprocess.run([sys.executable, "-c", code], cwd=tree,
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"build failed in {tree}:\n{p.stderr[-3000:]}")


def run_once(tree, bench, workload, seed):
    calib = calibrate()
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    wall = time.time() - t0
    res = None
    if p.returncode == 0 and p.stdout.strip():
        try:
            res = json.loads(p.stdout.strip().splitlines()[-1])
        except json.JSONDecodeError:
            res = None
    if res is None:
        return {"ok": False, "calib_s": calib, "wall_s": wall,
                "error": (p.stderr or p.stdout)[-2000:]}
    return {"ok": True, "calib_s": calib, "wall_s": wall, "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: m["value"] for k, m in res["metrics"].items()}}


def fmt(x):
    return "n/a" if x is None else f"{x:.4g}"


def report(workload, runs, bench):
    """Print the per-metric table of one workload; return its verdicts."""
    specs = {m["name"]: m for m in bench["end_to_end"]}
    pairs = [(b, c) for b, c in runs if b["ok"] and c["ok"]]
    print(f"\n== {workload}: {len(pairs)}/{len(runs)} complete pairs ==")
    for side, idx in (("base", 0), ("change", 1)):
        att = sum(r[idx].get("attempted", 0) for r in runs)
        fail = sum(r[idx].get("failed", 0) for r in runs)
        bad = sum(1 for r in runs if not r[idx]["ok"] or not r[idx]["correct"])
        print(f"  {side:<6} steps failed {fail}/{att}, runs not correct {bad}/{len(runs)}")
    out = {}
    for name, spec in specs.items():
        ps = [(b["metrics"][name], c["metrics"][name]) for b, c in pairs
              if name in b["metrics"] and name in c["metrics"]]
        if not ps:
            continue
        base, change = [p[0] for p in ps], [p[1] for p in ps]
        v = verdict(base, change, spec["better"], spec.get("bound"))
        bq1, _, bq3 = quartiles(base)
        cq1, _, cq3 = quartiles(change)
        print(f"  {name} ({spec['unit']}, {spec['better']} is better, bound "
              f"{spec.get('bound')}):")
        print(f"    base   median {fmt(v['base_median'])}  q1 {fmt(bq1)}  q3 {fmt(bq3)}")
        print(f"    change median {fmt(v['change_median'])}  q1 {fmt(cq1)}  q3 {fmt(cq3)}")
        print("    ratios " + " ".join(f"{r:.3f}" for r in v["ratios"]))
        print(f"    wins {v['wins']}/{len(ps)} (losses {v['losses']}, ties {v['ties']}); "
              f"median gap {fmt(v['gap'])} vs parent IQR {fmt(v['base_iqr'])}; "
              f"gain {'YES' if v['gain'] else 'no'}; bound: {v['bound']}")
        out[name] = v
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD^")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workloads", default="curate,session")
    ap.add_argument("--seeds", default="801-810", help="one pair per seed, e.g. 801-810")
    ap.add_argument("--json", help="write every run and verdict here")
    ap.add_argument("--tmp", help="parent directory for the two checkouts")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.mkdtemp(prefix="ab-", dir=a.tmp)
    # a terminated runner still removes its checkouts
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        trees = {}
        for side, rev in (("base", a.base), ("change", a.change)):
            trees[side] = os.path.join(tmp, side)
            sha = checkout(rev, trees[side])
            print(f"{side}: {rev} = {sha[:12]}", flush=True)
            build(trees[side])
        record = {"base": a.base, "change": a.change, "workloads": {}}
        for wl in a.workloads.split(","):
            runs = []
            for i, seed in enumerate(seeds(a.seeds)):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                got = {}
                for side in order:
                    r = run_once(trees[side], bench, wl, seed)
                    got[side] = r
                    shown = (" ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items()))
                             + f" correct={r['correct']} failed={r['failed']}/{r['attempted']}"
                             if r["ok"] else "ERROR " + r["error"].strip().splitlines()[-1])
                    print(f"{wl} seed {seed} {side:<6} calib {r['calib_s']:.3f}s "
                          f"wall {r['wall_s']:.0f}s {shown}", flush=True)
                runs.append((got["base"], got["change"]))
            record["workloads"][wl] = {"seeds": a.seeds, "runs": runs,
                                       "verdicts": report(wl, runs, bench)}
        if a.json:
            with open(a.json, "w") as f:
                json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
