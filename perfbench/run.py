#!/usr/bin/env python3
"""Incremental-refresh benchmark of the query-cache library.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard_refresh --seed 1 \
        --seconds 10 --trace 0

Builds the library with its own sbt build and this benchmark package
(perfbench/build.sbt) against it, once per source state, under
.bench_build/. Then runs one JVM that generates the seeded tables, sets the
workload up, drives it for --seconds and checks sampled answers against
vanilla Spark. The last line of stdout is the result JSON: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dashboard_refresh", "durable_ingest", "adhoc_explore")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in the library's
# build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the two builds read."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(cwd, *commands, env=None):
    """Run sbt offline in batch mode; return its stdout (echoed to stderr)."""
    opts = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    full_env = dict(os.environ, COURSIER_MODE="offline", **(env or {}))
    p = subprocess.run(["sbt", *opts, *commands], cwd=cwd, env=full_env,
                       stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       timeout=800)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        raise SystemExit(f"sbt {' '.join(commands)} failed in {cwd}")
    return p.stdout


def build():
    """Compile the library and the benchmark; return the run classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "program.classpath")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        with open(cp_file) as fh:
            program_cp = fh.read().strip()
    else:
        log("building the library")
        out = sbt(ROOT, "compile", "export Runtime/fullClasspath")
        program_cp = out.strip().splitlines()[-1].strip()
        if os.pathsep not in program_cp:
            raise SystemExit("could not read the library classpath from sbt")
        log("building the benchmark")
        sbt(BENCH, "compile", "copyResources", env={"PERFBENCH_PROGRAM_CP": program_cp})
        with open(cp_file, "w") as fh:
            fh.write(program_cp)
        with open(stamp, "w") as fh:
            fh.write(digest)
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    return os.pathsep.join([classes, program_cp])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("the library's sources (build.sbt, src/main/scala) are not in the "
            "current directory; run from the repository root")
        return 2
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    work = os.path.join(BUILD, "work", a.workload)
    result = os.path.join(BUILD, f"result-{a.workload}.json")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    if os.path.exists(result):
        os.remove(result)
    # A fixed-size heap and the throughput collector: on a 4-vCPU host
    # they halved the run-to-run spread of the latencies against the
    # default G1 (six interleaved pairs of dashboard_refresh runs).
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--result", result,
            "--spans", os.path.join(BUILD, "traces",
                                    f"{a.workload}-seed{a.seed}.jsonl")]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(p.stdout)
    if p.returncode != 0 or not os.path.exists(result):
        log(f"run failed (exit {p.returncode})")
        return 1
    with open(result) as fh:
        line = fh.read().strip()
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
