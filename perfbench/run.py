#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one cold JVM.

    python3 perfbench/run.py --workload curate|session --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine from the
checkout's own sources together with the benchmark drivers (sbt, offline);
later runs reuse the build while the sources are unchanged. The inputs for
(workload, seed) are generated once. The JVM runs the workload at
local[4]; this script then checks every step's output against the planted
ground truth or an independent recomputation (check.py), prints a
human-readable summary and, as the last line, one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("curate", "session")
HEAP = "3g"
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if f.endswith((".scala", ".sbt", ".properties")))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + drivers when the sources changed; return the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=840)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines()
             if ln.startswith("/") and ".bench_build" in ln and ".jar" in ln]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    cp = lines[-1]
    train(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jvm_args(work):
    return ([f"-Xmx{HEAP}"]
            + [a for o in JDK17_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + [f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false"])


def train(cp):
    """Record the classes a Spark session loads into a class-data-sharing
    archive (part of the build, not measured): every run then starts from
    it instead of searching ~250 jars class by class. Without an archive
    the runs still work, only slower to start."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    with open(os.path.join(BUILD, "train.log"), "w") as lf:
        subprocess.run(["java", f"-XX:ArchiveClassesAtExit={ARCHIVE}"] + jvm_args(work)
                       + ["-cp", cp, "perfbench.Main", "--train", "--work", work],
                       stdout=lf, stderr=subprocess.STDOUT, timeout=300)
    shutil.rmtree(work, ignore_errors=True)


def inputs(workload, seed):
    """Generated inputs for (workload, seed); other seeds' inputs of the
    same workload are removed so the checkout does not grow run by run."""
    root = os.path.join(BUILD, "data")
    os.makedirs(root, exist_ok=True)
    name = f"{workload}-{seed}"
    for d in os.listdir(root):
        if d.startswith(workload + "-") and d != name:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    out = os.path.join(root, name)
    return out, gen.generate(workload, seed, out)


def launch(cp, workload, seed, seconds, trace, data):
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "record.json")
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = (["java"] + cds + jvm_args(work)
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--data", data, "--work", work,
              "--out", out, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"engine run failed (exit {p.returncode}):\n{tail}")
    with open(out) as f:
        record = json.load(f)
    return work, record


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}: run from a checkout root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    cp = build()
    data, truth = inputs(a.workload, a.seed)
    work, record = launch(cp, a.workload, a.seed, a.seconds, a.trace, data)
    # the last run's raw record stays for inspection; the rest is scratch
    shutil.move(os.path.join(work, "record.json"),
                os.path.join(BUILD, f"record-{a.workload}-{a.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)
    verdicts = check.check(record, truth, data)
    result = metrics.report(record, truth, verdicts, traced=bool(a.trace))
    trace_file = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
    if a.trace:
        with open(trace_file, "w") as f:
            json.dump({"spans": record["spans"], "layers": result["layers"],
                       "kernels": record["extra"].get("kernels", {})}, f)
    for line in result["summary"]:
        print(line)
    if a.trace:
        print(f"spans written to {os.path.relpath(trace_file, ROOT)}")
    print(json.dumps(result["final"]))


if __name__ == "__main__":
    main()
