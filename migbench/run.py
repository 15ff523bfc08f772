#!/usr/bin/env python3
"""Migration benchmark runner.

Usage, from the repository root:

    python3 migbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the product and the harness (an sbt build under migbench/ that
depends on the repository root) into .bench_build/ when the sources
changed, runs one JVM for the workload, and prints the result JSON as the
last stdout line. Host diagnostics (nproc, steal %, JDK/Spark/Derby
versions) go to stderr and to .bench_build/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("convert_schema", "migrate_sync")
ROOT = os.getcwd()
HERE = os.path.join(ROOT, "migbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx3g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def die(msg):
    print(f"migbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "migbench/build.sbt",
              "migbench/project/build.properties"]
    for top in ("src/main", "migbench/src/main"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            inputs += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    for rel in inputs:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(stamp):
    """Builds when the sources changed; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if "migbench/target" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in proc.stdout.splitlines() if "error" in l)[-4000:] + "\n")
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for rel in ("build.sbt", "src/main/scala/graft", "migbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"run from the repository root: {rel} not found")

    stamp = source_stamp()
    cp = classpath(stamp)
    work = os.path.join(BUILD, "run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    # per-build state: output digests of earlier runs, traces
    state = os.path.join(BUILD, "state", stamp[:16])
    for d in (work, os.path.join(work, "tmp"), state):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={work}/tmp",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              f"-Dderby.system.home={work}/derby",
              f"-Dderby.stream.error.file={work}/derby.log",
              "-cp", cp, "migbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--state", state])
    t0, s0 = cpu_ticks()
    started = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True, stdin=subprocess.DEVNULL)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        sys.stderr.write(err[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    t1, s1 = cpu_ticks()
    shutil.rmtree(work, ignore_errors=True)
    versions = {}
    for line in err.splitlines():
        if line.startswith("MIGBENCH_VERSIONS "):
            versions = json.loads(line.split(" ", 1)[1])
        else:
            print(line, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-2000:])
        die(f"workload run failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    diag = dict(versions, nproc=os.cpu_count(),
                steal_pct=round((s1 - s0) * 100.0 / max(1, t1 - t0), 3),
                run_s=round(time.time() - started, 3))
    print("migbench diagnostics " + json.dumps(diag, sort_keys=True), file=sys.stderr)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"args": vars(args), "diagnostics": diag, "result": result}, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
