"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark (see
build.py) on first use, then runs one workload in a fresh JVM with Spark at
local[<cores>], where <cores> is the number of CPUs this process may use and
the heap is capped the way the repository's tier-1 test command caps it
(half of MemTotal, clamped to 2..8 GiB). The last stdout line is the result
JSON printed by perfbench.Main. Every file the run writes stays under
perfbench/.build, perfbench/.work and perfbench/.spans.

Extra option --size: "bench" (default) is the measured size; "toy"
shrinks every input for the smoke test.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_archives", "crawl_epochs", "dedup_near")
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "toy"), default="bench")
    a = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import build
    classes = build.build()

    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spans = os.path.join(HERE, ".spans")
    os.makedirs(spans, exist_ok=True)

    jvm = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", "-Djava.awt.headless=true",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    ]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + jvm + ["-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--size", a.size,
           "--cores", str(cores()), "--root", ROOT, "--work", work, "--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=work,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("run: workload timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run: workload failed with code {proc.returncode}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
