#!/usr/bin/env python3
"""Entrypoint benchmark of the paper2table Spark library.

Run from the repository root:

    python3 perfbench/run.py --workload extract|merge_stats|curate \
        --seed N --seconds S --trace 0|1 [--record]

Builds the library plus the benchmark (sbt, in perfbench/) when the
sources changed since the last build, then runs one JVM for one workload.
The last stdout line is the result JSON; the report goes to stderr.
`--record` stores the output digest for this workload and seed in
perfbench/digests.tsv. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xmn1g",
    "-XX:+UseG1GC",
    "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData",
    "-Dfile.encoding=UTF-8",
    "-Dspark.ui.enabled=false",
] + [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src" / "main", HERE / "build.sbt", HERE / "project"]
    files = []
    for r in roots:
        if r.is_file():
            files.append(r)
        elif r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first if sources changed."""
    cp_file = HERE / "target" / "runtime.classpath"
    stamp_file = HERE / "target" / "source.stamp"
    stamp = source_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    print("[perfbench] building library and benchmark with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not cp_file.is_file():
        fail("build failed", 3)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}, \
        {w["name"] for w in spec["workloads"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"library sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json not found at the repository root")
    names, workloads = expected_metrics(args.trace == 1)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; choose one of {sorted(workloads)}")

    classpath = build()
    out_root = ROOT / ".bench_build"
    work = out_root / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work),
           "--digests", str(HERE / "digests.tsv"), "--spans", str(out_root / "spans")]
    if args.record:
        cmd.append("--record")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with code {proc.returncode}", 5)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("benchmark JVM printed no result line", 6)
    if set(result["metrics"]) != names:
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ names)}", 7)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
