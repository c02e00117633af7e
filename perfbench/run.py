#!/usr/bin/env python3
"""Rule-pipeline benchmark. Builds the program from source (once per
checkout), runs one workload in a fresh JVM and prints its result object as
the last line of standard output.

    python3 perfbench/run.py --workload stream_service --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload selftest

Workloads: ingest_json_1rule, stream_service (see README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
WORKLOADS = ("ingest_json_1rule", "stream_service", "selftest")


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    built_before = (build.OUT / "classes.stamp").is_file()
    classes = build.build()
    # the first run in a checkout pays for the build
    deadline = t_start + (170 if built_before else 890)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'conf' / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", str(work),
              "--conf", str(build.ROOT / "perfbench" / "conf")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("run: timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"run: benchmark exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
