#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload tensor_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine's sources and
the benchmark's own with sbt (perfbench/build.sbt) and packs the classes
into perfbench/target/perfbench.jar; later runs reuse the build while no
source changes. Every run is a fresh JVM. The first run of each workload
after a build also writes a class-data-sharing archive of the classes it
loaded (perfbench/target/<workload>.jsa); later runs of that workload map
it instead of parsing and verifying those classes again. Everything else a
run writes stays under .bench_build/ in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "perfbench.jar")
WORKLOADS = ("tensor_batch", "volume_shuffle", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "6g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def pack_jar():
    """Packs the compiled classes into one jar: the JVM archives classes for
    class-data sharing only from jars, not from directories."""
    classes = os.path.join(TARGET, "scala-2.13", "classes")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(JAR + ".tmp", JAR)


def build():
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(JAR) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                           env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    pack_jar()
    # archives of the previous build name classes that may have changed
    for f in glob.glob(os.path.join(TARGET, "*.jsa*")):
        os.remove(f)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    jars = os.path.join(spark_home(), "jars")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    final = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    build()

    work = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(ROOT, ".bench_build", "out"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    archive = os.path.join(TARGET, f"{args.workload}.jsa")
    dumping = not os.path.exists(archive)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=32m", "-XX:ReservedCodeCacheSize=512m",
        # JVM log lines go to stderr: the last stdout line is the result
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        f"-XX:ArchiveClassesAtExit={archive}.tmp" if dumping else f"-XX:SharedArchiveFile={archive}",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([JAR, os.path.join(jars, "*")]),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", work, "--out-dir", os.path.join(ROOT, ".bench_build", "out"),
        "--fixtures", os.path.join(HERE, "fixtures", "sf0.001"),
        "--expected", os.path.join(HERE, "expected", "query_hashes.json"),
        "--final-metrics", ",".join(final),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    if dumping and os.path.exists(archive + ".tmp"):
        if proc.returncode == 0:
            os.replace(archive + ".tmp", archive)
        else:
            os.remove(archive + ".tmp")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
