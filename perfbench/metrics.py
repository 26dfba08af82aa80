"""Turn one run's record and check verdicts into the benchmark's metrics.

End-to-end metrics (untraced run) are the same five names on every
workload; each maps onto the workload's own terms (see README.md):
  setup_s      JVM start until the session is up and extensions and inputs
               are registered
  bulk_s       the batch phase: curate's dedup pipeline (docs_per_s =
               docs / bulk_s), session's first, cold round of steps
  round_p50_ms median closed-loop round: one curate wave, or the eleven
               interactive session steps (one of each kind, so every run
               times the same mix; a median over single steps of mixed
               kinds would jump between kinds)
  shuffle_mb   shuffle written by the batch phase (repeats for a fixed plan)
  peak_exec_mb the most execution memory (shuffle, sort, aggregation and
               join buffers) one stage's four largest tasks hold at their
               peaks, over every stage of the run's units
Per-layer metrics (traced run) roll the span tree up by phase and module.
"""

import statistics

E2E = [("setup_s", "s"), ("bulk_s", "s"), ("round_p50_ms", "ms"),
       ("shuffle_mb", "MB"), ("peak_exec_mb", "MB")]
KERNELS = ["graft_dot", "graft_cut", "graft_shingle_hashes",
           "graft_lsh_buckets", "graft_jaro_winkler"]
MODULES = ["core", "ops"]
# the workload-specific names under which each workload's numbers are read
OP_NAMES = {"curate": "wave", "session": "step"}
TAIL = 0.9


def percentile(xs, p):
    """Nearest-rank percentile, reported only with >= 10 samples beyond it."""
    xs = sorted(xs)
    if not xs or len(xs) * (1 - p) < 10:
        return None
    return xs[min(len(xs) - 1, int(round(p * len(xs) + 0.5)) - 1)]


def rollup(spans, root):
    """Aggregate the span subtree under `root` (the root's own work too)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    tree, todo = [], [spans[root]]
    while todo:
        s = todo.pop()
        tree.append(s)
        todo.extend(kids.get(s["id"], []))
    r = spans[root]
    busy = sum(s["busy_s"] for s in tree)
    return {
        "wall_s": r["wall_s"], "self_s": r["self_s"],
        "driver_s": max(r["wall_s"] - busy, 0.0),
        "jobs": sum(s["jobs"] for s in tree),
        "stages": sum(s["stages"] for s in tree),
        "task_s": sum(s["task_s"] for s in tree),
        "shuffle_mb": sum(s["shuffle_mb"] for s in tree),
        "spill_mb": sum(s["spill_mb"] for s in tree),
        "skew": max(s["skew"] for s in tree),
        "tree": tree,
    }


def per_span_name(spans):
    """Spans summed per `<module>.<Object>.<function>` name."""
    out = {}
    for s in spans:
        if s["name"].startswith(("unit.", "check")) or not s["traced"]:
            continue
        a = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "driver_s": 0.0,
                                       "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0,
                                       "spill_mb": 0.0, "skew": 1.0})
        a["calls"] += 1
        for k in ("wall_s", "jobs", "task_s", "shuffle_mb", "spill_mb"):
            a[k] += s[k]
        a["driver_s"] += max(s["wall_s"] - s["busy_s"], 0.0)
        a["skew"] = max(a["skew"], s["skew"])
    return out


def per_object(names):
    """Session's many short steps summed per module object."""
    out = {}
    for name, a in names.items():
        obj = ".".join(name.split(".")[:2])
        o = out.setdefault(obj, {"calls": 0, "wall_s": 0.0, "driver_s": 0.0, "jobs": 0})
        for k in o:
            o[k] += a[k]
    return out


def report(record, truth, verdicts, traced):
    wl = record["workload"]
    steps, v = record["steps"], verdicts["steps"]
    units = record["units"]

    def unit_ok(u):
        return not u["threw"] and all(v[i][0] for i in u["steps"])

    batch = next(u for u in units if u["phase"] == "batch")
    ops = [u for u in units if u["phase"] == "op"]
    ok_ops = [u for u in ops if unit_ok(u)]
    # the kernel table's two spellings must agree row for row
    kern = record["extra"].get("kernels", {})
    bad_kernels = [k for k, kv in kern.items() if kv["rows_differ"]]
    attempted = len(steps) + len(kern)
    failed = sum(1 for ok, _ in v.values() if not ok) + len(bad_kernels)
    correct = failed == 0 and unit_ok(batch) and bool(ok_ops)

    e2e = {"setup_s": record["setup_s"]}
    if correct:
        e2e["peak_exec_mb"] = max(u["peak_exec_mb"] for u in units)
    if unit_ok(batch):
        e2e["bulk_s"] = batch["wall_s"]
        e2e["shuffle_mb"] = batch["shuffle_mb"]
    timed = [u["wall_s"] * 1e3 for u in ok_ops if not (traced and u["traced"])]
    rounds = {}
    for u in ops:
        rounds.setdefault(u["round"], []).append(u)
    whole = [sum(u["wall_s"] for u in r) * 1e3 for r in rounds.values()
             if all(unit_ok(u) for u in r) and len(r) == record["round"]]
    if whole and not traced:
        e2e["round_p50_ms"] = statistics.median(whole)

    op = OP_NAMES[wl]
    summary = [f"perfbench {wl}: {attempted} steps attempted, {failed} failed "
               f"(fail_rate {failed / max(attempted, 1):.4f}), "
               f"{len(ok_ops)}/{len(ops)} {op}s ok"]
    for i, (ok, why) in sorted(v.items()):
        if not ok:
            summary.append(f"  FAILED step {i} {steps[i]['name']}: {why}")
    for k in bad_kernels:
        summary.append(f"  FAILED kernel {k}: {kern[k]['rows_differ']} rows differ")
    for name, unit in E2E:
        if name in e2e:
            summary.append(f"  {name:<12} {e2e[name]:.4f} {unit}")
    # the workload's own names for the same numbers, with sample counts
    tail = percentile(timed, TAIL)
    p50 = statistics.median(timed) if timed else None
    if wl == "curate":
        named = [("docs_per_s", "docs/s",
                  truth["docs"] / e2e["bulk_s"] if "bulk_s" in e2e else None, 1),
                 ("wave_p50_s", "s", p50 / 1e3 if timed else None, len(timed))]
    else:
        named = [("step_p50_ms", "ms", p50, len(timed)),
                 ("step_p90_ms", "ms", tail, len(timed))]
    named.append(("peak_rss_mb", "MB", record["peak_rss_mb"], 1))
    named.append(("wall_s", "s", batch["wall_s"] + sum(u["wall_s"] for u in units
                                                       if u["phase"] != "batch"),
                  len(units)))
    for name, unit, val, n in named:
        shown = f"{val:.4f} {unit}" if val is not None else "n/a (too few samples)"
        summary.append(f"  {name:<12} {shown} (n={n})")
    for k, q in sorted(verdicts["quality"].items()):
        summary.append(f"  {k} {q:.4f}")

    result = {"summary": summary, "layers": {}}
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E if k in e2e}
    if traced:
        layers, lines = per_layer(record, units, verdicts, unit_ok)
        result["layers"] = layers
        summary.extend(lines)
        metrics = {k: {"value": val, "unit": u} for k, (val, u) in layers.items()
                   if val is not None}
    result["final"] = {"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics}
    return result


def per_layer(record, units, verdicts, unit_ok):
    spans = record["spans"]
    batch = next(u for u in units if u["phase"] == "batch")
    b = rollup(spans, batch["span"])
    out = {f"bulk.{k}": (b[k], u) for k, u in [
        ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"), ("jobs", "count"),
        ("stages", "count"), ("task_s", "s"), ("shuffle_mb", "MB"),
        ("spill_mb", "MB"), ("skew", "ratio")]}
    traced_ops = [rollup(spans, u["span"]) for u in units
                  if u["phase"] == "op" and u["traced"] and unit_ok(u)]

    def med(k, scale=1.0):
        return statistics.median(o[k] * scale for o in traced_ops) if traced_ops else None

    out.update({
        "op.wall_ms": (med("wall_s", 1e3), "ms"), "op.self_ms": (med("self_s", 1e3), "ms"),
        "op.driver_ms": (med("driver_s", 1e3), "ms"), "op.jobs": (med("jobs"), "count"),
        "op.stages": (med("stages"), "count"), "op.task_ms": (med("task_s", 1e3), "ms"),
        "op.shuffle_mb": (med("shuffle_mb"), "MB")})
    for m in MODULES:
        mine = [s for s in b["tree"] if s["name"].startswith(m + ".")]
        out[f"{m}.wall_s"] = (sum(s["wall_s"] for s in mine), "s")
        out[f"{m}.driver_s"] = (sum(max(s["wall_s"] - s["busy_s"], 0.0) for s in mine), "s")
        out[f"{m}.jobs"] = (sum(s["jobs"] for s in mine), "count")
        out[f"{m}.task_s"] = (sum(s["task_s"] for s in mine), "s")
        out[f"{m}.shuffle_mb"] = (sum(s["shuffle_mb"] for s in mine), "MB")
    kern = record["extra"].get("kernels", {})
    for k in KERNELS:
        if k in kern:
            out[f"functions.{k}.ns_per_row"] = (kern[k]["ns_per_row"], "ns/row")
            out[f"functions.{k}.alt_ns_per_row"] = (kern[k]["alt_ns_per_row"], "ns/row")
    q = verdicts["quality"]
    out["quality.recall"] = (min(q.values()) if q else None, "ratio")
    # tracing overhead: per operation kind, traced minus untraced median,
    # leaving out the loop's first (cold, untraced) operation
    by_kind = {}
    for u in [u for u in units if u["phase"] == "op"][1:]:
        if unit_ok(u):
            by_kind.setdefault(u["kind"], {True: [], False: []})[u["traced"]].append(
                u["wall_s"] * 1e3)
    diffs = [statistics.median(d[True]) - statistics.median(d[False])
             for d in by_kind.values() if d[True] and d[False]]
    out["trace.overhead_ms"] = (statistics.median(diffs) if diffs else None, "ms")

    lines = ["  per-layer (traced run):"]
    for k, (val, u) in out.items():
        if val is not None:
            lines.append(f"    {k:<40} {val:.4f} {u}")
    names = per_span_name(spans)
    lines.append("  spans by <module>.<Object>.<function>: calls wall_s driver_s jobs "
                 "task_s shuffle_mb spill_mb skew")
    for name, a in sorted(names.items()):
        lines.append(f"    {name:<48} {a['calls']:>4} {a['wall_s']:8.3f} {a['driver_s']:8.3f} "
                     f"{a['jobs']:5d} {a['task_s']:8.3f} {a['shuffle_mb']:8.3f} "
                     f"{a['spill_mb']:7.3f} {a['skew']:6.2f}")
    if record["workload"] == "session":
        lines.append("  session steps per object: calls wall_s driver_s jobs")
        for obj, a in sorted(per_object(names).items()):
            lines.append(f"    {obj:<24} {a['calls']:>4} {a['wall_s']:8.3f} "
                         f"{a['driver_s']:8.3f} {a['jobs']:5d}")
    for k, kv in sorted(kern.items()):
        lines.append(f"  kernel {k}: {kv['ns_per_row']:.1f} ns/row compiled over "
                     f"{kv['rows']} rows, {kv['alt_ns_per_row']:.1f} ns/row alternative over "
                     f"{kv['alt_rows']} rows, rows differing {kv['rows_differ']}")
    return out, lines
