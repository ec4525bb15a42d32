#!/usr/bin/env python3
"""Benchmark runner for the metadata-ingestion pipeline.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Builds the harness (perfbench/build.sbt compiles the program's sources with
the harness, and a short training run records a class-data-sharing archive
that later runs start from) once per source tree, runs one workload in one
JVM, checks the program's outputs (against the generator's manifest, or
for curate_llm against curate_expected.json), and prints metrics. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics; with
--trace 1 the run is traced and the metrics are the per-layer metrics, the
traced run's own end-to-end values (trace.e2e.*) and the time tracing
itself took (trace.overhead.*).

Exits non-zero without a result when the program's sources are missing,
the build fails or the run fails.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = HERE / "target"
WORK_DIR = HERE / "work"
WORKLOADS = ("ingest", "curate_llm")
# Class-data-sharing archive of the classes a run loads, recorded at build
# time by a training run; runs that map it skip most class loading.
ARCHIVE = BUILD_DIR / "perfbench.jsa"
# The JVM must end this many seconds after it starts, so that a run ends
# within 180 s.
JVM_TIMEOUT_S = 165
# Parallel collector, fixed 512 MB young generation, fixed heap, metaspace
# sized for Spark's classes: the only full collections are the ones the
# harness asks for in set-up (Ctx.settle), so none lands in a timed part.
# The old generation's pages become resident only as data is promoted into
# them, so peak_rss_mb follows what the program promotes and retains, not
# the 3 GB ceiling.
JVM_HEAP = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn512m", "-Xms3g",
            "-Xmx3g", "-XX:MetaspaceSize=256m"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the harness build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the harness when the sources changed; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT} (need build.sbt and src/main/scala)")
    stamp = source_stamp()
    stamp_file = BUILD_DIR / "perfbench.stamp"
    cp_file = BUILD_DIR / "classpath.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0 or not cp_file.is_file():
        sys.stderr.write(r.stdout[-4000:])
        fail("harness build failed")
    classpath = cp_file.read_text().strip()
    ARCHIVE.unlink(missing_ok=True)
    run_jvm(classpath, "ingest", 0, 1, 0, train=True)
    if not ARCHIVE.is_file():
        fail("training run wrote no class-data-sharing archive")
    stamp_file.write_text(stamp)
    print(f"perfbench: built harness in {time.time() - t:.1f} s", file=sys.stderr)
    return classpath


def run_jvm(classpath, workload, seed, seconds, trace, train=False):
    """One workload run in one JVM; returns (result dict, launch epoch ms).

    A training run (one call of each kind) records the class-data-sharing
    archive instead of mapping it."""
    work = WORK_DIR / f"{workload}-{seed}-{trace}-{os.getpid()}{'-train' if train else ''}"
    shutil.rmtree(work, ignore_errors=True)
    local = work / "spark-local"
    local.mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cds = f"-XX:{'ArchiveClassesAtExit' if train else 'SharedArchiveFile'}={ARCHIVE}"
    cmd = [java] + JVM_HEAP + [cds, f"-Djava.io.tmpdir={local}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(work), "--out", str(work / "result.json"),
            "--train", "1" if train else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    launch_ms = time.time() * 1000
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} run exceeded {JVM_TIMEOUT_S} s; log in {work / 'jvm.log'}")
    if rc != 0 or not (work / "result.json").is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"{workload} run failed (exit {rc}); log in {work / 'jvm.log'}")
    result = json.loads((work / "result.json").read_text())
    if train:
        shutil.rmtree(work, ignore_errors=True)
    result["work_dir"] = str(work)
    return result, launch_ms


def measure(classpath, workload, seed, seconds, trace):
    """Runs once; returns (end-to-end metrics, check, per-layer metrics, work dir)."""
    result, launch_ms = run_jvm(classpath, workload, seed, seconds, trace)
    e2e, check, layers, notes = metrics.evaluate(result, launch_ms, HERE)
    for line in notes:
        print(line)
    return e2e, check, layers, Path(result["work_dir"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    classpath = build()
    e2e, check, layers, work = measure(classpath, a.workload, a.seed, a.seconds, a.trace)
    shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        # The traced run's own end-to-end values; minus the untraced runs'
        # values for the same seed, they give the tracing overhead.
        layers.update({f"trace.e2e.{name}": m["value"] for name, m in e2e.items()})
        out = {name: {"value": v, "unit": u} for name, (v, u) in
               metrics.per_layer_metrics(layers).items()}
    else:
        out = e2e
    print(json.dumps({"correct": check["failed"] == 0, "attempted": check["attempted"],
                      "failed": check["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
