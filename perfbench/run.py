#!/usr/bin/env python3
"""Build the graft engine plus the benchmark harness, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload tender --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Everything else (build and
Spark logs) goes to standard error. See perfbench/README.md.

The build runs sbt once per source state: a hash of every source file is
kept next to the classpath under .bench_build/, and later runs launch the
JVM directly.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("tender", "corpus")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 172
RECORD_TIMEOUT_S = 1800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"sbt build failed with code {proc.returncode}")
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cps:
        sys.stderr.write(proc.stdout)
        raise SystemExit("sbt printed no classpath")
    cp = cps[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="corpus only: rewrite corpus_digests.json from this commit")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
            "run from a full checkout")
        return 3
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME is not set")
        return 3

    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(work, "cp.args")
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + cp + "\n")
    log4j = os.path.join(HERE, "log4j2.properties")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:CompileThresholdScaling=0.3",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={log4j}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"@{argfile}",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()), "--work", work,
        "--digests", os.path.join(HERE, "corpus_digests.json"),
    ]
    if args.record_digests:
        cmd.append("--record-digests")
    limit = RECORD_TIMEOUT_S if args.record_digests else RUN_TIMEOUT_S
    env = dict(os.environ)
    # Spark's scratch space stays inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        proc = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=limit, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit} s and was stopped")
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = proc.stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not out or not out[-1].startswith("{"):
        sys.stderr.write(proc.stdout)
        log(f"benchmark JVM failed with code {proc.returncode}")
        return proc.returncode or 5
    for line in out[:-1]:
        print(line, file=sys.stderr)
    print(out[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
