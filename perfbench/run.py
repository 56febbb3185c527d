"""Ingest benchmark: one seeded workload, timed end to end, optionally
traced per layer.

    python3 perfbench/run.py --workload catalog_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), then runs one JVM (no sbt) under local[N], N <= 4. The last
line of stdout is the result object:

    {"correct": true, "attempted": ..., "failed": 0, "metrics": {...}}

With --trace 1 the metrics are the per-layer ones, and every span with
its Spark counters is written to perfbench/work/traces/. --digest 1
only generates the inputs and prints their digest. The exit code is
non-zero when an output check fails or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ["raster_ingest", "catalog_ingest", "stream_ingest"]
# a fixed heap and a fixed young generation, so the resident set follows
# what the run retains rather than how far the collector grew the heap
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn768m"]
TIMEOUT_S = 170

# what spark-submit adds for Spark on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--digest", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(BENCH, "work", "run-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    trace_out = os.path.join(BENCH, "work", "traces", "%s-seed%d.json" % (a.workload, a.seed))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [build.java()] + HEAP + ["-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Duser.timezone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "conf", "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--digest", str(a.digest),
            "--work", work, "--trace-out", trace_out,
            "--start-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write("perfbench: run exceeded %d s\n" % TIMEOUT_S)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if a.digest:
        print("\n".join(lines[-1:]))
        return proc.returncode
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write("perfbench: no result line (exit %d)\n" % proc.returncode)
        return proc.returncode or 4
    print(json.dumps(result))
    return 0 if proc.returncode == 0 and result["correct"] else (proc.returncode or 1)


if __name__ == "__main__":
    sys.exit(main())
