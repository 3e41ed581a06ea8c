"""Benchmark entry point.

    python3 perfbench/run.py --workload typing_batch --seed 1 --seconds 20 --trace 0

Runs one benchmark run in a fresh Python process (and so a fresh Spark
JVM) with the session pinned from here, waits until every process that
run started has exited, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}.  Host telemetry
and the run's detail go to stderr.  Exits non-zero without a result if
the run fails, leaves a process behind, or cannot import the program.
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

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 150  # + EXIT_GRACE_S and the kill wait stays under 180 s
EXIT_GRACE_S = 10
DRIVER_MEMORY = "1g"
# runs with more CPU steal than this ran 1.3-1.7x slower on a shared host
STEAL_CONTENDED = 0.05


def pinned_env(run_dir: str) -> dict:
    """The session settings, chosen here rather than by the program's
    defaults (local[32] and a 16g driver)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # fewer glibc malloc arenas: steadier resident memory in the JVM
        "MALLOC_ARENA_MAX": "2",
        # one BLAS/OpenMP thread per Python worker
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        # the Arrow kernels run in Python workers that import the program
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keep every file the run writes inside the checkout
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}" '
            "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"),
    })
    env.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    return env


def session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the worker and all it started)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def reap(sid: int, grace: float) -> list[int]:
    """Wait up to ``grace`` seconds for session ``sid`` to empty; kill and
    return whatever outlived it."""
    deadline = time.monotonic() + grace
    while time.monotonic() < deadline:
        if not session_pids(sid):
            return []
        time.sleep(0.1)
    left = session_pids(sid)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_pids(sid) and time.monotonic() < deadline + 10:
        time.sleep(0.1)
    return left


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "bigsdb_spark")):
        print("perfbench: the program (bigsdb_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(a, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, run_dir: str) -> int:
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), a.workload, str(a.seed),
           str(a.seconds), str(a.trace), run_dir]
    # a new session: the JVM and the Python workers land in it too, so
    # every process this run starts can be found and waited for
    proc = subprocess.Popen(cmd, cwd=ROOT, env=pinned_env(run_dir), start_new_session=True,
                            stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    leftover = reap(proc.pid, EXIT_GRACE_S)
    if code != 0:
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}",
              file=sys.stderr)
        return 1
    if leftover:
        print(f"perfbench: processes outlived the run and were killed: {leftover}",
              file=sys.stderr)
        return 1
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    print(json.dumps({"detail": res["detail"], "problems": res["problems"]}),
          file=sys.stderr)
    steal = res["detail"]["steal_share"]
    print(f"perfbench: CPU steal {steal:.1%} during the run"
          + (f"; above {STEAL_CONTENDED:.0%}, its times are inflated by contention"
             if steal > STEAL_CONTENDED else ""), file=sys.stderr)
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
