#!/usr/bin/env python3
"""Benchmark of the graft engine's BDG2 pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload bdg2_bulk --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30 --trace 0

The first run builds the engine and the harness (sbt, offline) into
perfbench/target and records the classpath under .bench_build/; later
runs rebuild only when a source file changed. Each run starts one JVM,
prints every metric by name with its unit, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (the span list is written under .bench_build/traces/).
The exit code is non-zero when any output check failed or the run did
not finish.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["bdg2_bulk", "bdg2_incremental"]
JVM_SECONDS = 170
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


def sources():
    """Every file the build reads, in a stable order."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (HERE / "src" / "main", ROOT / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when sources changed."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if out.returncode != 0:
        raise SystemExit(f"build failed with code {out.returncode}")
    BUILD.mkdir(parents=True, exist_ok=True)
    shutil.copy(HERE / "target" / "runtime-classpath.txt", cp_file)
    stamp_file.write_text(want)
    log(f"built in {time.time() - t0:.0f} s")
    return cp_file.read_text().strip()


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def run_one(workload, seed, seconds, trace, cp):
    """Runs one workload in its own JVM; returns (result, other lines)."""
    work = ROOT / ".bench_build" / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = ROOT / ".bench_build" / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    cmd = [java(), "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    cmd += ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work)]
    if trace:
        cmd += ["--trace-out", str(traces / f"{workload}-seed{seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{workload} did not finish in {JVM_SECONDS} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload} printed no result")
    return result, lines[:-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("engine sources not found next to perfbench/")
    cp = classpath()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        result, lines = run_one(w, a.seed, a.seconds, a.trace, cp)
        results[w] = result
        for line in lines:
            print(f"{w} {line}" if a.workload == "all" else line)
    if a.workload == "all":
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    else:
        final = results[a.workload]
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
