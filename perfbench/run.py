#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line of stdout.

    python3 perfbench/run.py --workload tpcds_sql --seed 1 --seconds 16 --trace 0

Builds the engine (src/main/scala) and the harness (perfbench/scala) with
the Scala compiler shipped in the Spark jars, into .bench_build/ of the
checkout, then runs the harness in one JVM. The result line is one JSON
object: correct, attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("tpcds_sql", "df_operators", "stream_jobs", "stream_sustained")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, or the jars next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark installation found (set SPARK_HOME)")
    return Path(home) / "jars"


def fixture_dir():
    """$PERFBENCH_DATA, or the sf0.1 directory TESTDATA.md lists."""
    if os.environ.get("PERFBENCH_DATA"):
        return Path(os.environ["PERFBENCH_DATA"])
    listing = ROOT / "TESTDATA.md"
    found = re.search(r"`([^`]*sf0\.1)/?`", listing.read_text()) if listing.exists() else None
    if not found:
        die("no sf0.1 fixture directory in TESTDATA.md (set PERFBENCH_DATA)")
    return Path(found.group(1))


def scala_jar(jars, name):
    found = sorted(jars.glob(f"{name}-2.13.*.jar"))
    if not found:
        die(f"no {name} jar in {jars}")
    return str(found[-1])


def scalac(jars, sources, classpath, out):
    out.mkdir(parents=True, exist_ok=True)
    compiler = os.pathsep.join(scala_jar(jars, n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    args_file = out.parent / f"{out.name}.args"
    args_file.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", str(out), f"@{args_file}"]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        die(f"compiling {out.name} failed")


def build(jars):
    """Compile engine and harness unless the sources are unchanged since the last build."""
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((BENCH / "scala").rglob("*.scala"))
    if not engine:
        die(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    digest = hashlib.sha256()
    for f in engine + harness:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "classes.sha256"
    classes = [BUILD / "classes" / "engine", BUILD / "classes" / "harness"]
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    stamp.unlink(missing_ok=True)
    spark_cp = str(jars / "*")
    scalac(jars, engine, spark_cp, classes[0])
    scalac(jars, harness, os.pathsep.join([str(classes[0]), spark_cp]), classes[1])
    stamp.write_text(digest.hexdigest())
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness's own test of failure accounting instead of a workload")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    data = fixture_dir()
    if not (data / "events.parquet").exists():
        die(f"fixture directory {data} not found (set PERFBENCH_DATA)")
    jars = spark_jars()
    classes = build(jars)
    work = BUILD / "work"
    trace_out = BUILD / "trace" / f"{args.workload}_seed{args.seed}.jsonl"
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Xms3g", "-Xmx3g", "-Xmn512m", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", os.pathsep.join([*map(str, classes), str(jars / "*")]),
           "perfbench.Main", "--mode", "selftest" if args.selftest else "bench",
           "--workload", args.workload or "",
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--data", str(data), "--work", str(work),
           "--expected", str(BENCH / "expected.tsv"), "--trace-out", str(trace_out) if args.trace else ""]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # few malloc arenas: the JVM's native memory, and so its peak RSS, then
    # depends less on which threads happened to allocate first
    env = {**os.environ, "MALLOC_ARENA_MAX": "2"}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"the harness did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        die(f"the harness exited with code {proc.returncode}")
    if args.selftest:
        print(out, end="")
        return
    results = [l[len("PERFBENCH_RESULT "):] for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not results:
        die("the harness printed no result")
    result = json.loads(results[-1])
    if args.trace:
        print(f"perfbench: trace written to {trace_out}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
