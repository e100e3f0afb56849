#!/usr/bin/env python3
"""Run one benchmark workload and print its JSON result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark (sbt, build file perfbench/build.sbt)
and later runs reuse the build while the sources are unchanged. Build
products, generated inputs and Spark scratch files stay under
.bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(WORK, "perfbench.jar")
WORKLOADS = ("integration_large", "text_curation")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile unless the classes were built from identical sources."""
    want = stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "compile"], cwd=HERE, stdout=out,
                             stderr=subprocess.STDOUT, timeout=850)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit("perfbench: build failed (log: %s)" % log)
    # one jar, so class-data sharing can archive every class
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(CLASSES):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, CLASSES))
    jsa = os.path.join(WORK, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    with open(stamp_file, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no program sources under %s/src/main/scala" % ROOT)
    if "SPARK_HOME" not in os.environ:
        sys.exit("perfbench: SPARK_HOME must name the Spark installation")
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    local_dir = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (WORK, local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    build()

    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = local_dir
    env.pop("SPARK_LOCAL_DIRS", None)
    env["PERFBENCH_NPROC"] = str(len(os.sched_getaffinity(0)))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # class-data sharing: the first run after a build dumps the loaded
    # classes, later runs map them instead of loading them from jars
    jsa = os.path.join(WORK, "classes.jsa")
    cmd += [("-XX:SharedArchiveFile=" if os.path.exists(jsa)
             else "-XX:ArchiveClassesAtExit=") + jsa, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    jars = sorted(os.path.join(spark_jars, j) for j in os.listdir(spark_jars)
                  if j.endswith(".jar"))
    cmd += ["-cp", os.pathsep.join([JAR] + jars),
            "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--root", ROOT]
    proc = subprocess.Popen(cmd, cwd=WORK, env=env)
    try:
        rc = proc.wait(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded 170 s")
    sys.exit(rc)


if __name__ == "__main__":
    main()
