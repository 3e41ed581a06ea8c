"""One benchmark run inside a fresh Python process (started by run.py).

Usage: worker.py <workload> <seed> <seconds> <trace 0|1> <run dir>

The generated tables are written under <run dir>/data and the result to
<run dir>/result.json.

Generates the inputs, starts Spark, loads and warms up, runs whole rounds
of operations for at least <seconds>, reads peak memory, checks every
output, stops Spark and writes the result.  Nothing is printed to stdout.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import spans as tracing
import workloads

def host_info() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = int(v.split()[0]) // 1024
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem["MemTotal"],
            "mem_available_mb": mem["MemAvailable"], "loadavg": load,
            "cpu_ticks_total": sum(cpu), "cpu_ticks_steal": cpu[7],
            "time": time.time()}


def steal_share(start: dict, end: dict) -> float:
    """Share of the host's CPU time stolen by other tenants between two
    host_info() readings."""
    total = end["cpu_ticks_total"] - start["cpu_ticks_total"]
    return (end["cpu_ticks_steal"] - start["cpu_ticks_steal"]) / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> tuple[float, dict]:
    """Sum of VmHWM (peak resident set) over this process and every
    descendant: the Spark JVM and the Python workers it forked.  Also
    returns the per-process figures (MB) by command name."""
    kids = _children()
    todo, total, per = [os.getpid()], 0, {}
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            kb = int(status["VmHWM"].split()[0])
            total += kb
            per[f"{pid}:{status['Name'].strip()}"] = kb // 1024
    return total / 1024, per


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    host_start = host_info()
    t = time.perf_counter()
    wl = workloads.WORKLOADS[workload](seed, os.path.join(run_dir, "data"))
    wl.tables.write()
    gen_s = time.perf_counter() - t

    t0 = time.perf_counter()
    from bigsdb_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tr = tracing.Tracer(spark, trace)
        wl.load(spark, tr)
        load_s = time.perf_counter() - t0 - session_s
        ops = wl.ops()
        results = []  # (key, output)
        # untimed warm-up: one operation of every kind, or the whole round
        # where the workload asks for it
        seen = set()
        for op in ops:
            if wl.warm_whole_round or op.kind not in seen:
                seen.add(op.kind)
                results.append(_call(op, tr, None))
        setup_s = time.perf_counter() - t0

        lat, items, attempted, floors = [], 0, 0, []
        rounds = 0
        start = time.perf_counter()
        while True:
            for op in ops:
                ts = time.perf_counter()
                results.append(_call(op, tr, attempted))
                lat.append(time.perf_counter() - ts)
                attempted += 1
                items += op.items
                if trace:
                    tf = time.perf_counter()
                    spark.range(1).count()
                    floors.append((time.perf_counter() - tf) * 1e3)
            rounds += 1
            if time.perf_counter() - start >= seconds:
                break
        elapsed = time.perf_counter() - start
        rss, rss_per_process = peak_rss_mb()
        jvm = spark.sparkContext._jvm
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        heap_mb = (rt.totalMemory() - rt.freeMemory()) / 1e6

        problems = _check(wl, results)
        host_end = host_info()
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (items / elapsed, "1/s"),
            "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "peak_rss_mb": (rss, "MB"),
        }
        end_to_end = metrics
        if trace:
            metrics = _layer_metrics(tr, attempted, floors, heap_mb)
            out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{workload}-{seed}.json"), "w") as f:
                json.dump({"workload": workload, "seed": seed, "spans": tr.spans,
                           "self_s": tracing.self_times(tr.spans),
                           "counts": tr.counts}, f)
        return {
            "correct": not problems,
            "attempted": attempted,
            "failed": 0,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "problems": problems[:20],
            "detail": {"rounds": rounds, "elapsed_s": elapsed, "gen_s": gen_s,
                       "session_s": session_s, "load_s": load_s,
                       "latencies_ms": [x * 1e3 for x in lat],
                       "peak_rss_mb_per_process": rss_per_process,
                       "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
                       "host_start": host_start, "host_end": host_end,
                       "steal_share": steal_share(host_start, host_end)},
        }
    finally:
        spark.stop()


def _call(op, tr, op_id):
    """Run one operation; any exception stops the run."""
    with tr.op(op.kind, -1 if op_id is None else op_id):
        return op.key, op.fn()


def _check(wl, results) -> list[str]:
    refs, problems = {}, []
    for key, out in results:
        if key not in refs:
            refs[key] = wl.reference(key)
        problems += wl.check(key, out, refs[key])
    return problems


def _layer_metrics(tr, n_ops: int, floors: list[float], heap_mb: float) -> dict:
    spans = [s for s in tr.spans if s["op"] is not None and s["op"] >= 0]
    per = tracing.spark_per_op(spans, n_ops)
    counts = [c for c in tr.counts if c["op"] >= 0]

    def mean_count(name):
        return sum(c.get(name, 0) for c in counts) / max(len(counts), 1)

    m = {
        "session.job_floor_ms": (statistics.median(floors), "ms"),
        "session.jobs_per_op": (per["jobs"], "count"),
        "session.stages_per_op": (per["stages"], "count"),
        "session.tasks_per_op": (per["tasks"], "count"),
        "session.task_busy_s_per_op": (per["busy_ms"] / 1e3, "s"),
        "session.shuffle_write_mb_per_op": (per["shuffle_write_b"] / 1e6, "MB"),
        "session.spill_mb_per_op": (per["spill_b"] / 1e6, "MB"),
        "session.gc_ms_per_op": (per["gc_ms"], "ms"),
        "session.heap_used_mb_end": (heap_mb, "MB"),
        "profiles.assignments": (mean_count("profiles.assignments"), "count"),
        "clustering.edges": (mean_count("clustering.edges"), "count"),
    }
    for name in LAYER_SPANS:
        m[f"{name}_ms"] = (tracing.per_op_ms(spans, name), "ms")
    return m


LAYER_SPANS = (
    "profiles.build_profiles", "profiles.assign_exact", "profiles.assign_multi_mlst",
    "profiles.assign_multi_cg", "profiles.pair_distances", "profiles.single_isolate_st",
    "clustering.single_linkage", "views.make_view", "plans.construct", "plans.execute",
    "rest.search", "rest.isolates_list", "rest.field_breakdown", "rest.profiles_list",
    "rest.scheme_designations", "breakdown.crosstab_pct", "seqmatch.sequence_query",
)


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, run_dir = argv
    res = run(workload, int(seed), float(seconds), trace == "1", run_dir)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
