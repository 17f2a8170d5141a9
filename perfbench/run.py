#!/usr/bin/env python3
"""Layered benchmark of the graft Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from `src/main/scala` and the benchmark from
`perfbench/src` with the Scala compiler that ships in the Spark jars (no
sbt), caches the build under `.bench_build/`, then runs one workload in one
driver JVM at local[nproc] with a 7 g heap. The JVM prints the metrics; its
last stdout line is the result object. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("flagship_grouped", "flagship_regroup", "operator_suite", "pipeline_buckets")
HEAP = "7g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.001"


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if (jars / "scala-compiler-2.13.17.jar").is_file():
            return jars
    fail(f"no Spark 4 / Scala 2.13.17 jars in {[str(c) for c in candidates]}: set SPARK_HOME")


def sources(*dirs):
    files = []
    for d in dirs:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def java_opts(tmp):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed young generation keeps peak RSS a measure of retained memory
    # instead of G1's adaptive eden sizing (which spread it by ~25% run to run)
    return [f"-Xmx{HEAP}", "-Xmn1g", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]


def clean_env(work):
    # the measured process sees no engine knobs: every SPARK_GRAFT_* is dropped
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    return env


def build(jars):
    """Compile engine + benchmark once per source hash; returns the build dir."""
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail("src/main/scala not found: run from a checkout of the engine")
    engine_files = sources(engine)
    bench_files = sources(BENCH / "src")
    digest = hashlib.sha256()
    for p in engine_files + bench_files + [BENCH / "log4j2.properties", Path(__file__)]:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    out = BUILD / "perfbench" / digest.hexdigest()[:16]
    if (out / "ok").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    t0 = time.time()
    scalac = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
              "-usejavacp", "-nowarn"]
    for jar, files, extra in (
        ("main.jar", engine_files, []),
        ("bench.jar", bench_files, ["-classpath", str(out / "main.jar")]),
    ):
        argfile = out / f"{jar}.args"
        argfile.write_text("\n".join(str(f) for f in files if f.suffix in (".scala", ".java")))
        r = subprocess.run(scalac + extra + ["-d", str(out / jar), f"@{argfile}"],
                           stdout=sys.stderr)
        if r.returncode != 0:
            fail(f"compiling {jar} failed", 3)
    # class-data-sharing archive of a session that ran every workload on tiny
    # inputs: cuts JVM + Spark start from ~10 s to ~3 s on a 4-core host and
    # the first pass's class loading (built the same way for every commit)
    work = out / "cds"
    (work / "tmp").mkdir(parents=True)
    log = open(out / "cds.log", "w")
    r = subprocess.run(
        ["java", *java_opts(work / "tmp"), f"-XX:ArchiveClassesAtExit={out / 'app.jsa'}",
         "-cp", classpath(out, jars), "perfbench.Main", "--cds", "--work", str(work),
         "--cores", str(cores()), "--data", str(DATA)],
        stdout=log, stderr=log, env=clean_env(work))
    if r.returncode != 0:
        fail(f"class-data-sharing warm-up failed, see {log.name}", 3)
    shutil.rmtree(work, ignore_errors=True)
    (out / "ok").write_text(f"{time.time() - t0:.1f}\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s -> {out}", file=sys.stderr)
    return out


def classpath(out, jars):
    return f"{out / 'bench.jar'}:{out / 'main.jar'}:{jars}/*"


def cores():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="instead of measuring, rewrite the workload's expected outputs under "
                         "perfbench/expected/ (suite digests, or the corpus totals)")
    ap.add_argument("--profile-data", metavar="DIR",
                    help="profiling only: run every SparkEntry query over the tables in DIR, "
                         "unchecked, with no time limit (operator_suite)")
    args = ap.parse_args()
    unbounded = args.record or args.profile_data

    jars = spark_jars()
    out = build(jars)
    work = BUILD / "run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *java_opts(work / "tmp"), f"-XX:SharedArchiveFile={out / 'app.jsa'}",
           "-cp", classpath(out, jars), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores()), "--work", str(work),
           "--data", args.profile_data or str(DATA),
           "--digests", str(BENCH / "expected" / "suite_digests.json"),
           "--totals", str(BENCH / "expected" / "flagship_totals.json"),
           "--traces", str(BUILD / "traces")] + (["--record"] if args.record else []) + \
        (["--all-queries"] if args.profile_data else [])
    proc = subprocess.Popen(cmd, env=clean_env(work), start_new_session=True)
    try:
        code = proc.wait(timeout=None if unbounded else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 1
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 130
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
