"""Build the benchmark: compile the program's sources together with the
benchmark's own into one class directory, with the Scala compiler that
ships among Spark's jars. Rebuilds only when a source file changed.

    python3 perfbench/build.py        # prints the class directory
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"


def spark_jars():
    """Spark's jar directory, which must hold a Scala compiler:
    $SPARK_HOME/jars, else the first `spark-submit` on PATH whose
    installation has one."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark installation with a Scala compiler; "
             "set SPARK_HOME")


def sources():
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        sys.exit("perfbench: the program's sources (src/main/scala) are "
                 "missing; run from the root of a full checkout")
    files = sorted(prog.rglob("*.scala")) + \
        sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    return files


def build():
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = BUILD / "stamp"
        if stamp_file.exists() and stamp_file.read_text() == stamp \
                and CLASSES.is_dir():
            return CLASSES
        # compile aside, then swap, so a failed build leaves no half
        # class directory behind
        fresh = BUILD / "classes.new"
        shutil.rmtree(fresh, ignore_errors=True)
        fresh.mkdir(parents=True)
        cp = f"{jars}/*"
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", str(fresh),
               "-classpath", cp] + [str(f) for f in files]
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit("perfbench: compile failed")
        shutil.rmtree(CLASSES, ignore_errors=True)
        fresh.rename(CLASSES)
        stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
