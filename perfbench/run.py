#!/usr/bin/env python3
"""Build and run the benchmark for one workload.

    python3 perfbench/run.py --workload select --seed 1 --seconds 12 --trace 0

Run from the repository root. The first call builds the engine and the
benchmark with sbt (perfbench/build.sbt depends on the root build) and
records the runtime classpath; later calls reuse it while no source file
changed. The JVM runs perfbench.Main with the repository root as its working
directory; everything it writes goes under target/perfbench/. The last line
of standard output is the result object; the line before it is the full
report.
"""
import argparse
import hashlib
import os
import subprocess
import sys
from pathlib import Path

HOME = Path(__file__).resolve().parent
ROOT = HOME.parent
BUILD = HOME / "target"
CLASSPATH = BUILD / "classpath.txt"
STAMP = BUILD / "build.stamp"
OUT = ROOT / "target" / "perfbench"

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# engine's build.sbt (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
               + str(Path.home() / ".sbt" / "repositories")
               + " -Dsbt.offline=true -Xmx3g")


def sources():
    """Every file whose change requires a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HOME / "build.sbt", HOME / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HOME / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    want = stamp()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == want:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OFFLINE)
    # sbt's output goes to stderr so stdout stays the benchmark's own
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HOME, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not CLASSPATH.exists():
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    STAMP.write_text(want)


def java_cmd(main_args):
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and generation sizes keep peak RSS from following the
    # collector's adaptive sizing from run to run
    return (["java", *opens, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", CLASSPATH.read_text().strip(), "perfbench.Main", *main_args])


def run_jvm(main_args, timeout):
    """Runs perfbench.Main, passing its stdout through; returns its exit code."""
    p = subprocess.Popen(java_cmd(main_args), cwd=ROOT)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"perfbench: run exceeded {timeout}s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: the engine's sources are not next to perfbench/; run from a full checkout")
    build()
    sys.stdout.flush()
    code = run_jvm(["run", "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--home", str(HOME), "--out", str(OUT)], RUN_TIMEOUT_S)
    sys.exit(code)


if __name__ == "__main__":
    main()
