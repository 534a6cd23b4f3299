#!/usr/bin/env python3
"""Run one graftbench workload from the root of a graft checkout.

    python3 graftbench/run.py --workload fixpoint_small --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
packs the classes into one jar and records a JVM class-data archive of every
workload's classes (a short tour on small inputs), so each run starts without
re-parsing Spark's classes. Then starts one JVM for the run with a pinned
environment: local[nproc],
shuffle partitions = nproc, Spark UI off, driver heap sized to the machine.
Prints the run's result JSON as the last line of standard output and writes
a fuller report, with host CPU steal during the run, under graftbench/out/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = "graftbench"
WORKLOADS = ["fixpoint_small", "update_large", "dedup_similarity"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, BENCH, "src", "main")]
    files = [os.path.join(root, BENCH, "build.sbt"), os.path.join(root, BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(cp, work, cpus, main_args, extra=()):
    heap = f"{heap_gib()}g"
    # a fixed heap and young generation: no resizing decisions, so peak
    # resident memory follows what the run retains
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *extra]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Main", "--cpus", str(cpus), "--work", work] + main_args)


def build(root, cpus):
    """Compile with sbt unless the build matches the sources; returns the classpath."""
    bench = os.path.join(root, BENCH)
    target = os.path.join(bench, "target")
    stamp_file = os.path.join(target, "graftbench.stamp")
    cp_file = os.path.join(target, "graftbench.classpath")
    archive = os.path.join(target, "graftbench.jsa")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and os.path.exists(archive):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("no Spark distribution: set SPARK_HOME")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=home)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = "-Dsbt.offline=true"
        if os.path.exists(repos):
            extra += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        opts = f"{opts} {extra} -Xmx2g".strip()
    # sbt's own state (launcher boot, server, zinc) stays inside the checkout
    env["SBT_OPTS"] = f"{opts} -Dsbt.global.base={os.path.join(target, 'sbt-global')}"
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=bench, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    # one jar instead of the classes directory: the class-data archive
    # accepts only jars on the class path
    classes = os.path.join(target, "scala-2.13", "classes")
    jar = os.path.join(target, "graftbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(classes):
            for n in names:
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, classes))
    cp = os.pathsep.join(jar if e == classes else e for e in cps[-1].split(os.pathsep))
    work = os.path.join(bench, "work", f"tour-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if os.path.exists(archive):
        os.remove(archive)
    log = os.path.join(target, "tour.log")
    try:
        with open(log, "w") as fh:
            tour = subprocess.run(java_cmd(cp, work, cpus, ["--tour", "1"], [f"-XX:ArchiveClassesAtExit={archive}"]),
                                  stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"class-data archive tour exceeded {BUILD_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # every run starts from the archive, so a build without one is a failed
    # build: runs without it would pay ≈9 s more JVM start in setup_s
    if tour.returncode != 0 or not os.path.exists(archive):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"class-data archive tour failed (exit code {tour.returncode}), see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def cpu_times():
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is inside user)
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def heap_gib():
    """A quarter of the machine's memory, between 2 and 6 GiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(2, min(6, kib // (4 * 1024 * 1024)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cpus = len(os.sched_getaffinity(0))
    cp = build(root, cpus)

    out_dir = os.path.join(root, BENCH, "out")
    work = os.path.join(root, BENCH, "work", f"run-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    report = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    archive = os.path.join(root, BENCH, "target", "graftbench.jsa")
    if not os.path.exists(archive):
        fail(f"class-data archive {archive} is missing")
    extra = [f"-XX:SharedArchiveFile={archive}"]
    total0, steal0 = cpu_times()
    t0 = time.time()
    cmd = java_cmd(cp, work, cpus, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                                    "--trace", str(a.trace), "--report", report, "--start", str(int(t0 * 1000))],
                   extra)
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    total1, steal1 = cpu_times()
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"run failed with exit code {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    result = lines[-1]
    steal = (steal1 - steal0) / max(1, total1 - total0)
    # host CPU steal is a diagnostic of the run's conditions, not a metric
    with open(report) as fh:
        detail = fh.read().strip()
    with open(report, "w") as fh:
        fh.write(detail[:-1] + f', "host_steal_share": {steal:.4f}, "wall_s": {time.time() - t0:.2f}, '
                 f'"cpus": {cpus}, "heap_gib": {heap_gib()}, "class_archive": "{os.path.relpath(archive, root)}"}}\n')
    print(f"graftbench: {a.workload} seed {a.seed}: host steal {steal:.2%}", file=sys.stderr)
    print(result)


if __name__ == "__main__":
    main()
