#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Runs one seeded, closed-loop workload against graft's public API, checks
every result, and prints one JSON object as the last line of stdout:

    python3 perfbench/run.py --workload graph_read --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics; --trace 1 runs the same
workload traced and reports the per-layer metrics (spans and a per-layer
table are written beside the run record). Run it from the repository
root. The first run compiles the program and the benchmark with sbt into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the build
while the sources are unchanged. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ["graph_read", "graph_write", "curate_stream"]
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"), recursive=True)
                  + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])


def build(build_dir):
    """Compile program + benchmark with sbt unless the sources are
    unchanged, and pack the classes into one jar. Returns the jar."""
    out = os.path.join(build_dir, "perfbench")
    classes = os.path.join(out, "scala-2.13", "classes")
    jar = os.path.join(out, "perfbench.jar")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "sources.sha256")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    os.makedirs(out, exist_ok=True)
    for stale in (stamp, jar, jar + ".jsa"):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             f"-Dperfbench.target={out}", "compile"],
                            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0 or not os.path.isdir(classes):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (log: {log})", 3)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for root, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, classes))
    archive(jar, out)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar


def java_cmd(jar, work, *extra):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
            + ["-Xmx3g", *extra, f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
               "-cp", os.pathsep.join([jar] + sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))])


def archive(jar, out):
    """JVM and SparkSession start are untimed but take about 16 s cold. A
    class-data-sharing archive of the classes a session start and the
    synthetic warm-up load cuts that to about 7 s in every run. It is
    written once per build, by a run that measures nothing. A failure
    here only costs time, so it is reported and the build goes on."""
    work = os.path.join(out, "archive-work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(out, "archive.log"), "w") as lf:
        try:
            rc = subprocess.run(java_cmd(jar, work, f"-XX:ArchiveClassesAtExit={jar}.jsa.tmp")
                                + ["perfbench.ArchiveRun", work], cwd=ROOT, stdout=lf,
                                stderr=subprocess.STDOUT, timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if rc == 0 and os.path.exists(jar + ".jsa.tmp"):
        os.replace(jar + ".jsa.tmp", jar + ".jsa")
    else:
        print(f"perfbench: class-data archive not written (code {rc}); runs start slower", file=sys.stderr)


def run_jvm(jar, a, run_dir):
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    raw_path = os.path.join(run_dir, "raw.json")
    cds = [f"-XX:SharedArchiveFile={jar}.jsa"] if os.path.exists(jar + ".jsa") else []
    cmd = (java_cmd(jar, work, *cds)
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--sf", a.sf,
              "--work", work, "--out", raw_path])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {RUN_TIMEOUT_S}s (log: {log})", 4)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"benchmark JVM failed with code {rc} (log: {log})", 5)
    with open(raw_path) as fh:
        return json.load(fh)


def report(raw, run_dir, layer):
    """spans and a per-layer table of a traced run, beside its record"""
    with open(os.path.join(run_dir, "spans.jsonl"), "w") as fh:
        for sp in raw["spans"]:
            fh.write(json.dumps(sp) + "\n")
    units = {n: u for n, u, _ in metrics.PER_LAYER}
    lines = [f"per-layer report: {raw['workload']} seed {raw['seed']}, "
             f"{sum(o['traced'] for o in raw['ops'])} traced ops, {len(raw['spans'])} spans"]
    lines += [f"  {k:28s} {v:14.3f} {units[k]}" for k, v in layer.items()]
    text = "\n".join(lines) + "\n"
    with open(os.path.join(run_dir, "layers.txt"), "w") as fh:
        fh.write(text)
    sys.stderr.write(text)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
                    help="directory of the sf0.1 parquet tables (TESTDATA.md)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found; run from a full checkout")
    if not os.path.isdir(a.sf):
        die(f"input tables not found at {a.sf}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build and run the benchmark")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jar = build(build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    raw = run_jvm(jar, a, run_dir)

    measured = [o for o in raw["ops"] if o["measured"]]
    failed = [o for o in measured if not o["ok"]]
    for o in [o for o in raw["ops"] if not o["ok"]]:
        print(f"perfbench: op {o['id']} ({o['kind']} {o['cls']}) failed: {o['err']}\n  {o['text']}",
              file=sys.stderr)
    if a.trace:
        values = metrics.per_layer(raw)
        report(raw, run_dir, values)
        units = {n: u for n, u, _ in metrics.PER_LAYER}
    else:
        values = metrics.end_to_end(raw)
        units = {n: u for n, u, _ in metrics.END_TO_END}
    correct = (not failed and all(o["ok"] for o in raw["ops"])
               and raw["checks"].get("checked", 0) > 0)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, len(measured)),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
