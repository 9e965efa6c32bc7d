"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload etl|ingest \
        --seed N --seconds S --trace 0|1

Builds the program with the benchmark (perfbench/build.py) when needed,
runs one JVM on local[N] with N = min(4, cores), prints a table of the
metrics and, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With `--trace 1` the
metrics are the per-layer ones. Everything it writes stays under
.bench_build/ in the checkout; artifacts go to
.bench_build/perfbench/artifacts/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("etl", "ingest")
# the JVM's limit; a build, when one is needed, comes before it
LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    base = build.BUILD
    work = base / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    out = base / "artifacts"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = max(1, min(4, os.cpu_count() or 1))
    resources = build.ROOT / "src" / "main" / "resources"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
           "-XX:+UseParallelGC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{resources}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--out", str(out), "--cores", str(cores)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=str(work), start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.exit("perfbench: run printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
