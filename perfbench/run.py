#!/usr/bin/env python3
"""Run one benchmark run and print its result as the last stdout line.

    python3 perfbench/run.py --workload graph_build|route_mix \\
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the
program and the benchmark from source (see build.py). The run's
scratch data lives under .bench_build/perfbench/work and is removed
when the run ends. See perfbench/README.md for the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("graph_build", "route_mix")
RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = [build.java(), *build.jvm_flags(work),
           f"-XX:SharedArchiveFile={build.ARCHIVE}",
           "-cp", classpath, "perfbench.PerfBench",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"perfbench: benchmark exited with code {proc.returncode}", file=sys.stderr)
        return 1
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    names = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    try:
        result = json.loads(lines[-1])
        ok = (set(result) == {"correct", "attempted", "failed", "metrics"}
              and set(result["metrics"]) == names)
    except (ValueError, TypeError):
        ok = False
    if not ok:
        sys.stderr.write(out)
        print("perfbench: last line is not a result object with the metrics "
              "BENCHMARK.json names", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: {time.time() - t0:.1f} s wall", file=sys.stderr)
    sys.exit(code)
