#!/usr/bin/env python3
"""Run graft's benchmark.

    python3 graftbench/run.py --workload read_mix --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds the library
and the benchmark with sbt (offline) and caches the classpath under
.bench_build/graftbench; a later run rebuilds only when a source or build
file changed. Each workload runs in its own JVM on Spark local[nproc].
`--workload all` runs every workload in turn and ends with one combined
result line whose metric names are prefixed with the workload.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ["read_mix", "write_mix", "corpus_pipeline"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, for the rebuild check."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(top):
            out += [os.path.join(top, f) for f in sorted(os.listdir(top))
                    if f.endswith((".sbt", ".properties", ".scala"))]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build():
    """Compiles with sbt if needed; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "classpath-" + digest)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    print("[graftbench] building with sbt", file=sys.stderr, flush=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("[graftbench] build failed")
    os.makedirs(WORK, exist_ok=True)
    for f in os.listdir(WORK):
        if f.startswith("classpath-"):
            os.remove(os.path.join(WORK, f))
    with open(stamp, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def run_one(cp, workload, seed, seconds, trace):
    """Runs one workload; echoes its output; returns (exit code, last line)."""
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            if line.strip():
                last = line.strip()
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return code, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        print("[graftbench] no graft sources next to the benchmark; run from a graft checkout",
              file=sys.stderr)
        return 2
    cp = build()
    if args.workload != "all":
        code, _ = run_one(cp, args.workload, args.seed, args.seconds, args.trace)
        return code
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, last = run_one(cp, w, args.seed, args.seconds, args.trace)
        worst = worst or code
        try:
            res = json.loads(last[last.index("{"):])
        except ValueError:
            return code or 1
        total["correct"] = total["correct"] and res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][w + "." + k] = v
    print(json.dumps(total))
    return worst


if __name__ == "__main__":
    sys.exit(main())
