"""graft trend & curation benchmark.

    python3 perfbench/run.py --workload trend_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source (see build.py), then runs one
workload in a fresh JVM with a pinned envelope: local[nproc], shuffle
partitions = nproc, UTC, and an explicit heap sized from the machine's memory.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""

import argparse
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["trend_batch", "trend_stream"]  # as Workloads.Names
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gib():
    """A quarter of physical memory, clamped to [1, 4] GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(1, min(4, int(line.split()[1]) // (4 * 1024 * 1024)))
    except OSError:
        pass
    return 2


def git_sha(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        classes, jars = build.build(root)
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(root, build.BUILD_DIR)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    heap = heap_gib()
    # a fixed young generation: G1's adaptive sizing otherwise keeps making
    # Trend.run faster for a minute of repeated runs, past any warm-up
    jvm = ["java", "-XX:-UsePerfData", "-Xms%dg" % heap, "-Xmx%dg" % heap, "-Xmn%dm" % (heap * 1024 // 3),
           "-Xss4m", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp]
    for o in ADD_OPENS:
        jvm += ["--add-opens", o + "=ALL-UNNAMED"]
    jvm += ["-cp", os.pathsep.join([classes] + jars)]
    if a.selftest:
        cmd = jvm + ["perfbench.SelfTest", "--work", work]
    else:
        cmd = jvm + ["perfbench.Main",
                     "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--cores", str(cores), "--heap-gib", str(heap),
                     "--work", work, "--git-sha", git_sha(root),
                     "--source-sha256", build.source_digest(root)]
    proc = subprocess.Popen(cmd, cwd=root)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    except KeyboardInterrupt:
        proc.kill()
        proc.wait()
        raise


if __name__ == "__main__":
    sys.exit(main())
