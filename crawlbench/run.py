"""Crawl benchmark: one workload, one seed, one result line.

    python3 crawlbench/run.py --workload deep_ckpt --seed 1 --seconds 20 --trace 0

Run from the repository root. Each crawl runs in a fresh, ``taskset``-pinned
Python process with its own Spark JVM at ``local[nproc]`` (``worker.py``).
With ``--trace 1`` a second, fresh ``local[1]`` leg pinned to one core is
added for ``saturated_chunked`` (the scaling pair).

Host facts (nproc, MemTotal, load, other Spark JVMs) and the kernel probe
``hostcal.host_calibration`` at 1 and nproc processes, before and after the
legs, go into the artifact line printed before the result and into
``crawlbench/.results/``. The last stdout line is the result: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Every operation's
digests are checked against ``refsim``; a mismatch or an exception is a
failed operation.

End-to-end (``--trace 0``, every workload): ``pages_per_s`` (pages fetched ÷
wall time of the crawl calls), ``setup_s`` (fresh process to ready: JVM,
``get_spark`` warm-ups, median of three input materializations),
``peak_rss_mb`` (JVM plus its Python workers).

Per layer (``--trace 1``; 0 where a workload does not reach the layer), and
the end-to-end figure each should move:

  session.start_s, sources.materialize_s        setup_s, both workloads
  extraction.*, purekit.mb_per_s                pages_per_s on saturated_chunked,
                                                not on deep_ckpt (fetch is in it)
  politeness.*, enqueue.*, crawler.*            pages_per_s on deep_ckpt; enqueue
                                                reads low on saturated_chunked
  checkpoint.*, resume_s, ckpt_bytes_per_page   deep_ckpt only (checkpoint.read_s
                                                moves resume_s)
  fold.wall_s, spark.*, crawler.chunks          pages_per_s and peak_rss_mb on
                                                saturated_chunked
  extraction.task_s_1core, pages_per_s_1core    scaling_efficiency (saturated_chunked:
                                                nproc vs one pinned core; target 0.8)
  trace.coverage, trace.unattributed_jobs       attributed share of crawl wall; jobs
                                                outside every layer (should be 0)
  trace.overhead, trace.pages_per_s             tracer's inline share of crawl wall;
                                                traced pages/s, comparable with the
                                                untraced runs' pages_per_s
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

#: whole-run wall budget; the legs share what set-up and probes leave
RUN_BUDGET_S = 170.0
DRIVER_MEMORY = "1g"
#: C1 only: every leg is a fresh JVM that lives about a minute, too short for
#: C2 compilation to pay off; with C2 the first crawl of a leg varied 16-30 s
#: on a 4-core VM, C1-only legs reach their warm speed in the first crawl
JIT_OPTION = "-XX:TieredStopAtLevel=1"


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    spark_jvms = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd:
            spark_jvms.append(int(pid))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": [float(x) for x in load],
        "other_spark_jvm_alive": bool(spark_jvms),
        "other_spark_jvm_pids": spark_jvms,
    }


def host_calibration(nproc: int) -> dict:
    from secretscraper_spark.hostcal import host_calibration as cal

    return {"1": cal(1), str(nproc): cal(nproc)}


def _group_alive(pgid: int) -> bool:
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_leg(args, cores: int, cpus: list[int], mode: str, workdir: str, timeout: float) -> dict:
    """One worker process in its own process group, pinned to *cpus*.
    Waits until every process of the group (JVM, Python workers) is gone."""
    out = os.path.join(workdir, f"leg-{mode}-{cores}.json")
    env = dict(os.environ)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTION}",
    })
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        sys.executable, os.path.join(BENCH_DIR, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--mode", mode, "--cores", str(cores),
        "--workdir", workdir, "--cache", os.path.join(BENCH_DIR, ".cache"),
        "--out", out, "--spawned-at", repr(time.time()),
    ]
    with open(os.path.join(workdir, f"leg-{mode}-{cores}.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            pass
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        deadline = time.time() + 20
        while _group_alive(proc.pid):
            if time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
            time.sleep(0.1)
    if not os.path.exists(out):
        with open(log.name) as f:
            tail = f.read()[-3000:]
        return {"ops": [{"ok": False, "problems": [f"leg exited {proc.returncode}: {tail}"]}]}
    with open(out) as f:
        return json.load(f)


def _layer(report: dict | None, name: str, key: str) -> float:
    return report["layers"][name][key] if report else 0.0


def end_to_end_metrics(main: dict) -> dict:
    """What a user of the crawler sees: throughput of the crawl call (median
    over the leg's operations), set-up time, and peak memory."""
    pps = [op["pages_per_s"] for op in main["ops"] if "pages_per_s" in op]
    return {
        "pages_per_s": {"value": statistics.median(pps), "unit": "pages/s"},
        "setup_s": {"value": main["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": main["peak_rss"]["total"], "unit": "MB"},
    }


def per_layer_metrics(legs: dict, kernel_mb_s: float, nproc: int) -> dict:
    """Per-layer metrics of the traced operation (the main leg's first,
    cold operation), plus the scaling pair and the tracing overhead."""
    main = legs["main"]
    op1 = main["ops"][0]
    crawl = op1.get("trace")
    layers = crawl["layers"] if crawl else {}
    tiers = op1.get("tiers", [])
    children = _layer(crawl, "enqueue", "generate_rows")
    new_urls = sum(t["enqueued"] for t in tiers)
    m = {
        "session.start_s": (main.get("start_s", 0.0), "s"),
        "sources.materialize_s": (statistics.median(main["materialize_s"]) if "materialize_s" in main else 0.0, "s"),
        "seed.wall_s": (_layer(crawl, "seed", "wall_s"), "s"),
        "crawler.wall_s": (_layer(crawl, "crawler", "wall_s"), "s"),
        "crawler.task_s": (_layer(crawl, "crawler", "task_s"), "s"),
        "crawler.tiers": (len({t["depth"] for t in tiers}), "count"),
        "crawler.chunks": (sum(1 for t in tiers if "chunk" in t), "count"),
        "crawler.jobs": (crawl["jobs"] if crawl else 0, "count"),
        "crawler.driver_gap_s": (crawl["driver_gap_s"] if crawl else 0.0, "s"),
        "extraction.wall_s": (_layer(crawl, "extraction", "wall_s"), "s"),
        "extraction.task_s": (_layer(crawl, "extraction", "task_s"), "s"),
        "extraction.cpu_s": (_layer(crawl, "extraction", "cpu_s"), "s"),
        "extraction.gc_s": (_layer(crawl, "extraction", "gc_s"), "s"),
        "extraction.python_s": (_layer(crawl, "extraction", "python_s"), "s"),
        "extraction.python_init_s": (_layer(crawl, "extraction", "python_init_s"), "s"),
        "extraction.arrow_sent_bytes": (_layer(crawl, "extraction", "arrow_sent_bytes"), "B"),
        "extraction.arrow_returned_bytes": (_layer(crawl, "extraction", "arrow_returned_bytes"), "B"),
        "extraction.rows": (_layer(crawl, "extraction", "udf_rows"), "count"),
        "purekit.mb_per_s": (kernel_mb_s, "MB/s"),
        "politeness.wall_s": (_layer(crawl, "politeness", "wall_s"), "s"),
        "politeness.task_s": (_layer(crawl, "politeness", "task_s"), "s"),
        "enqueue.wall_s": (_layer(crawl, "enqueue", "wall_s"), "s"),
        "enqueue.task_s": (_layer(crawl, "enqueue", "task_s"), "s"),
        "enqueue.shuffle_bytes": (_layer(crawl, "enqueue", "shuffle_write_bytes"), "B"),
        "enqueue.children": (children, "count"),
        "enqueue.new_urls": (new_urls, "count"),
        "enqueue.new_ratio": (new_urls / children if children else 0.0, "ratio"),
        "checkpoint.write_s": (_layer(crawl, "checkpoint.write", "wall_s"), "s"),
        "checkpoint.lineage_s": (_layer(crawl, "checkpoint.lineage", "wall_s"), "s"),
        "checkpoint.bytes_written": (op1.get("ckpt_bytes", 0), "B"),
        "checkpoint.read_s": (_layer(crawl, "checkpoint.read", "wall_s"), "s"),
        "fold.wall_s": (_layer(crawl, "fold", "wall_s"), "s"),
        "spark.gc_s": (sum(v["gc_s"] for v in layers.values()), "s"),
        "spark.spill_bytes": (sum(v["spill_bytes"] for v in layers.values()), "B"),
        "spark.peak_exec_mem_bytes": (max((v["peak_exec_mem_bytes"] for v in layers.values()), default=0), "B"),
        "resume_s": (op1.get("resume_s", 0.0), "s"),
        "ckpt_bytes_per_page": (op1.get("ckpt_bytes_per_page", 0.0), "B/page"),
        "trace.coverage": (crawl["coverage"] if crawl else 0.0, "ratio"),
        "trace.unattributed_jobs": (len(crawl["unattributed_jobs"]) if crawl else 0, "count"),
        "trace.overhead": (crawl["tracer_self_s"] / crawl["wall_s"] if crawl else 0.0, "ratio"),
        "trace.pages_per_s": (end_to_end_metrics(main)["pages_per_s"]["value"], "pages/s"),
    }
    one = legs.get("onecore")
    one_op = one["ops"][0] if one else {}
    pps_n, pps_1 = op1.get("pages_per_s"), one_op.get("pages_per_s")
    m["extraction.task_s_1core"] = (_layer(one_op.get("trace"), "extraction", "task_s"), "s")
    m["pages_per_s_1core"] = (pps_1 or 0.0, "pages/s")
    m["scaling_efficiency"] = (pps_n / pps_1 / nproc if pps_n and pps_1 else 0.0, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    missing = [m for m in ("secretscraper_spark", "pyspark") if importlib.util.find_spec(m) is None]
    if missing:
        print(f"crawlbench: cannot import {', '.join(missing)} from {ROOT}", file=sys.stderr)
        return 2
    from crawlbench.workloads import WORKLOADS, kernel_mb_per_s

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.time()
    facts = host_facts()
    nproc = facts["nproc"]
    cpus = sorted(os.sched_getaffinity(0))
    workdir = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        cal_before = host_calibration(nproc)
        legs = {}
        remaining = RUN_BUDGET_S - (time.time() - t_start) - 8.0
        scaling = args.trace == 1 and args.workload == "saturated_chunked" and nproc > 1
        main_budget = remaining * (0.6 if scaling else 1.0)
        t_leg = time.time()
        mode = "trace" if args.trace else "measure"
        legs["main"] = run_leg(args, nproc, cpus, mode, workdir, main_budget)
        if scaling:
            left = remaining - (time.time() - t_leg)
            legs["onecore"] = run_leg(args, 1, cpus[:1], "trace", workdir, left)
        cal_after = host_calibration(nproc)
        kernel = kernel_mb_per_s(WORKLOADS[args.workload]) if args.trace else None
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    ops = [op for leg in legs.values() for op in leg["ops"]]
    failed = sum(1 for op in ops if not op["ok"])
    main_leg = legs["main"]
    if "setup_s" not in main_leg or not any("pages_per_s" in op for op in main_leg["ops"]):
        print(json.dumps({"error": "no operation completed", "ops": ops}, default=str), file=sys.stderr)
        return 1
    metrics = per_layer_metrics(legs, kernel, nproc) if args.trace else end_to_end_metrics(main_leg)

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            **facts,
            "driver_memory": main_leg.get("driver_memory"),
            "host_cal_mbps": {"before": cal_before, "after": cal_after},
        },
        "legs": legs,
        "metrics": metrics,
        "wall_s": time.time() - t_start,
    }
    results = os.path.join(BENCH_DIR, ".results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_start)}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    summary = {k: artifact[k] for k in ("workload", "seed", "trace", "host", "wall_s")}
    summary["ops"] = [
        {k: op[k] for k in ("pages", "crawl_s", "resume_s", "pages_per_s", "ckpt_bytes_per_page") if k in op}
        for op in main_leg["ops"]
    ]
    print(json.dumps(summary))
    for op in ops:
        for problem in op["problems"]:
            print(f"crawlbench: failed operation: {problem}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
