"""One benchmark leg in a fresh Python process and a fresh Spark JVM.

Started by ``run.py``; writes one JSON record to ``--out``. The leg sets up
the session and the workload's inputs, loads or computes the oracle digests,
runs measured operations, and reports the peak RSS of its JVM and Python
workers. Every operation's digests are checked against the oracle.

Modes:
  measure  untraced operations, back to back, until ``--seconds`` have passed
           and the workload's ``ops_per_run`` are done
  trace    the same operations, traced (the first one's spans are reported)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: set-up repetitions in one leg; setup_s reports their median
SETUP_REPEATS = 3


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss(jvm_pid: int) -> dict:
    """Peak RSS of the driver JVM plus the Python workers it forked (sum of
    each process's high-water mark), with the JVM's share, in MB."""
    procs = _descendants(jvm_pid)
    total = sum(_vm_hwm_kb(p) for p in procs) / 1024.0
    return {"total": total, "jvm": _vm_hwm_kb(jvm_pid) / 1024.0, "processes": len(procs)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--mode", choices=["measure", "trace"], required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from secretscraper_spark.session import get_spark

    from crawlbench.layertrace import LayerTracer
    from crawlbench.workloads import WORKLOADS

    spark = get_spark(
        f"crawlbench-{args.workload}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra={
            # keep every job/stage/execution of a run in the status stores
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    start_s = time.time() - args.spawned_at
    spark.sparkContext.setLogLevel("ERROR")
    workload = WORKLOADS[args.workload](args.seed, args.cores, args.workdir)

    materialize_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inputs = workload.materialize(spark)
        materialize_s.append(time.perf_counter() - t0)

    cache_path = os.path.join(args.cache, f"oracle-{workload.key}.json")
    t0 = time.perf_counter()
    oracle_cached = os.path.exists(cache_path)
    if oracle_cached:
        with open(cache_path) as f:
            oracle = json.load(f)
    else:
        oracle = workload.oracle(spark)
        os.makedirs(args.cache, exist_ok=True)
        tmp = f"{cache_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(oracle, f)
        os.replace(tmp, cache_path)
    oracle_s = time.perf_counter() - t0

    traced = args.mode == "trace"
    ops: list[dict] = []
    t_measure = time.perf_counter()
    while len(ops) < workload.ops_per_run or (
        not traced and time.perf_counter() - t_measure < args.seconds
    ):
        try:
            if traced:
                tracer = LayerTracer(spark)
                with tracer.installed():
                    rec = workload.run_op(spark, inputs, oracle, traced=tracer)
            else:
                rec = workload.run_op(spark, inputs, oracle)
            rec["ok"] = not rec["problems"]
        except Exception:  # one failed operation, recorded; the leg continues
            rec = {"ok": False, "problems": [traceback.format_exc()]}
        rec["traced"] = traced
        ops.append(rec)

    gateway = spark.sparkContext._gateway
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "mode": args.mode,
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "start_s": start_s,
        "materialize_s": materialize_s,
        "setup_s": start_s + statistics.median(materialize_s),
        "oracle_s": oracle_s,
        "oracle_cached": oracle_cached,
        "ops": ops,
        "peak_rss": peak_rss(gateway.proc.pid),
    }
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)

    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    main()
