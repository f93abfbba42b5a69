#!/usr/bin/env python3
"""Permission-aware top-k benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload point-sf0.1 --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source with sbt when either changed
(the classpath is cached under perfbench/.build), then runs one workload
in one JVM on Spark local[n], n = min(4, cores). The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}.
Everything a run writes stays inside the checkout: datasets under
perfbench/.data (generated once, fingerprinted), a per-run directory under
perfbench/.runs (the JVM's temp dir and graft's sidecar dir, deleted at
exit) and the run report with its spans under perfbench/.out.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("point-sf0.1", "churn-sf0.1")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the repository root."""
    roots = [("src/main", None), ("project", (".sbt", ".properties")),
             ("perfbench/src", None), ("perfbench/project", (".sbt", ".properties"))]
    out = ["build.sbt", "perfbench/build.sbt"]
    for top, exts in roots:
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)
                    if exts is None or f.endswith(exts)]
    return out


def stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, rebuilding when a source changed."""
    want = stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return open(cp_file).read()
    log("building graft and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    lines = p.stdout.decode(errors="replace").strip().splitlines()
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if p.returncode != 0 or not lines:
        sys.exit(f"sbt build failed (exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1]


def remove_stale(runs):
    """Deletes run directories whose process is gone (a killed run's)."""
    for name in os.listdir(runs) if os.path.isdir(runs) else []:
        pid = name.rsplit("-", 1)[-1]
        try:
            os.kill(int(pid), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in ("build.sbt", "src/main/scala/graft") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"graft sources not found next to the benchmark: {', '.join(missing)}")

    cp = classpath()
    runs = os.path.join(BENCH, ".runs")
    remove_stale(runs)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "sidecars"))
    cpus = min(4, os.cpu_count() or 1)
    data = os.path.join(BENCH, ".data")
    java = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dgraft.sidecar.dir={run_dir}/sidecars",
               f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Main"])
    cmd = java + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--data", data, "--run-dir", run_dir,
                  "--out", os.path.join(BENCH, ".out"), "--cpus", str(cpus)]
    try:
        if not os.path.isdir(os.path.join(data, "base")):
            subprocess.run(java + ["--generate", data, str(cpus)], cwd=run_dir,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr, check=True,
                           timeout=RUN_TIMEOUT_S)
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"benchmark JVM failed (exit {p.returncode})")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))


if __name__ == "__main__":
    main()
