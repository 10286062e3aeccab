"""Run one benchmark workload of the extraction engine.

    python3 perfbench/run.py --workload extract_small --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
then runs one JVM driver on local[nproc] with its heap sized from
/proc/meminfo. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics; the full record of the
run is written to .bench_build/perfbench/work/result-*.json. Exits
non-zero, without a result line, when the build or any output check
fails. Run from the root of the repository.
"""
import argparse
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("extract_small", "extract_large", "curate")
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the list in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """An eighth of physical memory, between 1 and 8 GiB: enough for every
    workload, and cheap to pre-touch at start."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(8192, kb // 8 // 1024))


def java_cmd(classes, args, cores):
    work = os.path.join(build.OUT, "work")
    # A fixed, pre-touched heap: peak RSS then reads the same for the same
    # code instead of following the collector's heap-growth decisions.
    heap = f"{heap_mb()}m"
    # No hsperfdata file: the JVM writes nothing outside the checkout.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", f"-XX:ActiveProcessorCount={cores}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return cmd + ["-cp", cp, "perfbench.PerfBench"] + args + ["--cores", str(cores), "--work", work]


def run_java(cmd, log_path):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return 124, ""
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    work = os.path.join(build.OUT, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    log = os.path.join(work, f"jvm-{a.workload}.log")
    rc, out = run_java(java_cmd(classes, args, nproc()), log)
    lines = [line for line in out.splitlines() if line.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: {a.workload} failed (exit {rc}); JVM log: {os.path.relpath(log)}")
    print(lines[-1])


if __name__ == "__main__":
    main()
