#!/usr/bin/env python3
"""Pipeline benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call compiles the library
(src/main/scala) together with the benchmark (perfbench/src/main/scala)
into .bench_build/perfbench; later calls reuse that build while the
sources are unchanged. Each run gets a fresh directory under
.bench_build/runs that is deleted when the run ends. The last line of
stdout is the result object; the line before it carries the run's
details (input properties, tail percentile and sample count, failures).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_home():
    """SPARK_HOME, else the first spark-submit on PATH whose installation
    has a jars directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME or put Spark's spark-submit on PATH")


SPARK_JARS = os.path.join(spark_home(), "jars")
WORKLOADS = ("month_ingest", "rescrape_stream", "curation")
# A fixed driver heap: neither the build's default nor SPARK_DRIVER_MEM.
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: source directory {os.path.relpath(r, ROOT)} is missing")
        out += sorted(glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))
    return out


def build():
    """Compile once per source state; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(BUILD, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
               "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", os.path.join(SPARK_JARS, "*"),
               "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_") or k == "SPARK_HOME"}
    env.update(TZ="UTC", SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env, cwd=run_dir,
                           timeout=170)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in r.stdout.decode("utf-8", "replace").splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-5:]) + "\n" if lines else "")
        raise SystemExit(f"perfbench: run failed with exit code {r.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("perfbench: malformed result line")
    print("\n".join(lines[-2:]))


if __name__ == "__main__":
    main()
