"""Benchmark launcher: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the repository root.

It prepares the environment the engine needs without touching its
session code, runs one benchmark run (``perfbench/driver.py``) in a child
process group, and prints the run's result as the last line of standard
output. Everything the run writes stays under ``.perfbench/`` in the
current directory: a scratch root per run, deleted at the end, and a
detail record per run in ``.perfbench/results/``.

- ``PYTHONPATH`` names the repository root, so Spark's Python workers
  can import ``rippledb_spark`` inside UDFs.
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVMs' temporary directory
  point into the run's scratch root.
- ``SPARK_DRIVER_MEMORY`` is a quarter of the host's memory, at most
  2 GiB: the session's own default of 16g assumes a far larger host, and
  the workloads' data is a few hundred MB.

Exits non-zero without printing a result when the engine is not found,
when the run fails, or when it does not end within the time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

DEFAULT_SF = 0.01
TIME_LIMIT_S = 170


def driver_memory() -> str:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(512, min(2048, total_kb // 1024 // 4))}m"


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate every process left in the run's group, whose leader is
    ``proc``, and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            proc.poll()  # reap the leader, or the group never reads empty
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated tables (the smoke test uses 0.001)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rippledb_spark", "__init__.py")):
        print("rippledb_spark not found: run from the repository root", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(root, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(scratch, "local"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    result_path = os.path.join(scratch, "result.json")

    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_DRIVER_MEMORY=driver_memory(),
        # every JVM of the run, Spark's launcher too, keeps its files here
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        SPARK_GRAFT_CPUS=str(cores),
    )
    cmd = [
        sys.executable, os.path.join(here, "driver.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf", str(args.sf), "--cores", str(cores), "--scratch", scratch,
        "--result", result_path,
        "--spans", os.path.join(results, stem + "-spans.json"),
    ]
    # The child's standard output goes to our standard error, so the
    # result is the only line on ours.
    proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr, start_new_session=True)
    # Being terminated still stops the run's whole process group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        code = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
        code = -1
    except SystemExit:
        code = -1
    finally:
        stop_group(proc)
        proc.wait()
    try:
        if code != 0 or not os.path.exists(result_path):
            print(f"run failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            record = json.load(f)
        with open(os.path.join(results, stem + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps(record["detail"], default=str), file=sys.stderr)
        print(json.dumps(record["result"]))
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
