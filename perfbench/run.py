"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_resident --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Workloads: `serve_resident` and
`batch_plans` (see BENCHMARK.json and perfbench/README.md). The last line
of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; `--trace 1` reports the per-layer
metrics instead of the end-to-end ones.

Each run gets a fresh scratch directory under perfbench/.work/ that holds
its generated tables, its index root, Spark's local dirs and every temp
file, and is removed afterwards. The workload itself runs in a child
process so that the environment (PYTHONPATH for Spark's Python workers,
the core count, the JVM heap, the temp dirs) is in place before
Spark starts, and so that every process the run starts can be found and
stopped at the end.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_resident", "batch_plans")
CHILD_TIMEOUT_S = 150
JVM_HEAP = "4g"


def _tagged_pids(tag: str) -> list[int]:
    """Processes whose environment carries this run's tag."""
    needle = f"PERFBENCH_RUN={tag}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            pass
    return pids


def _stop_all(tag: str) -> None:
    """Stop every process this run started and wait until each has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _tagged_pids(tag)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + wait_s
        while _tagged_pids(tag) and time.time() < deadline:
            time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadith_vector_search_spark",
                                       "api.py")):
        print("perfbench: run from the repository root (engine package "
              "hadith_vector_search_spark/ not found)", file=sys.stderr)
        return 2

    tag = uuid.uuid4().hex
    work = os.path.join(HERE, ".work", f"{args.workload}-{tag[:8]}")
    for sub in ("tmp", "local", "indexes"):
        os.makedirs(os.path.join(work, sub))
    cpus = len(os.sched_getaffinity(0))
    # the JVM's temp files go to the run directory; -XX:-UsePerfData stops
    # it writing its perf-data file under /tmp
    java_opts = shlex.quote(
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    env = dict(
        os.environ,
        PERFBENCH_RUN=tag,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        SPARK_GRAFT_INDEX_ROOT=os.path.join(work, "indexes"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))} "
            f"--driver-java-options {java_opts} pyspark-shell"),
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--t0", repr(t0)]
    code = 3
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=work,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s",
                  file=sys.stderr)
            code = 3
    finally:
        _stop_all(tag)
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
