#!/usr/bin/env python3
"""Benchmark of the graft engine's tutor paths: chat and curate.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of the repository. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in Spark's jars, into .bench_build/; later runs reuse the build
while no source changes. The benchmark then runs in one JVM, prints one
`metric <name> <value> <unit>` line per metric, and as its last line one
JSON object with the keys correct, attempted, failed and metrics.

It reads and writes only inside the repository: scratch data goes to
.bench_build/run-<pid>/ and is removed on exit. It needs `java` (17+) on
PATH and Spark's jars in $SPARK_HOME/jars (or next to the spark-submit on
PATH).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars/ beside the first spark-submit on PATH that has one."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.abspath(d)), "jars")
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    return ""


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile engine + benchmark once per source digest; return the class dir."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        die("engine or benchmark sources not found; run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    os.rename(tmp, classes)
    return classes


def java_cmd(classes, scratch, main, args):
    return (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"), main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["chat", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the timed sinks and that planted faults are counted")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    classes = build()
    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    if a.selftest:
        cmd = java_cmd(classes, scratch, "graftbench.SelfTest", ["--scratch", scratch])
    else:
        cmd = java_cmd(classes, scratch, "graftbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--scratch", scratch]
                       + (["--spans", os.path.join(BUILD, f"trace-{a.workload}-seed{a.seed}.jsonl")]
                          if a.trace else []))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(scratch, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or (not a.selftest and not lines[-1].startswith("{")):
        sys.stdout.write(out if proc.returncode == 0 else "\n".join(l for l in lines if not l.startswith("{")) + "\n")
        die(f"benchmark JVM failed (exit {proc.returncode})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
