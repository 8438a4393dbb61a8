"""Per-layer attribution of one crawl, measured from outside the package.

The crawler's layers are the functions `plans/crawler.py` calls. While a
`LayerTracer` is installed, each of those names is replaced — in the
namespace the crawler looks it up in — by a wrapper that records a span and
switches the thread's Spark job group to the layer. Most layer calls return
lazy plans whose Spark jobs run later, so attribution follows the job group:

* a *lazy* wrapper (``restore=False``) leaves its layer active after it
  returns, so the jobs that materialize its plan are billed to it until the
  next layer starts;
* an *eager* wrapper (``restore=True``) runs its own jobs and hands the
  layer that was active before it back when it returns.

Segments between switches are exclusive, so a layer's ``wall_s`` is its self
time. After the crawl, `LayerTracer.report` reads each job's stages from the
SparkContext status store and each SQL execution's ArrowEvalPython and
Generate metrics from the SQL status store; both work with
``spark.ui.enabled=false``. Jobs whose group is not a layer's are counted as
unattributed.
"""

from __future__ import annotations

import contextlib
import re
import time

from py4j.protocol import Py4JJavaError

from secretscraper_spark.plans import checkpoint as ckpt_mod
from secretscraper_spark.plans import crawler as crawler_mod
from secretscraper_spark.plans import extraction as extraction_mod

GROUP_PREFIX = "crawlbench:"
#: layer active outside every wrapped call; its jobs are unattributed
ROOT = "unattributed"

# (owner, name, layer, restore). Owners are where plans/crawler.py resolves
# each name: module globals imported into crawler.py, attributes of the
# extraction/checkpoint modules, and SparkCrawler methods.
WRAPPED = (
    (crawler_mod.SparkCrawler, "_run_seeded", "seed", True),
    (crawler_mod.SparkCrawler, "_loop", "crawler", True),
    (crawler_mod.SparkCrawler, "_chunked_tier", "crawler", True),
    (crawler_mod.SparkCrawler, "_tier", "crawler", True),
    (crawler_mod, "assign_fetch_schedule", "politeness", False),
    (crawler_mod, "tier_makespan", "politeness", False),
    (crawler_mod.SparkCrawler, "_do_fetch", "extraction", False),
    (extraction_mod, "extract_combined", "extraction", False),
    (extraction_mod, "children_of", "enqueue", False),
    (crawler_mod.SparkCrawler, "_fold_tier", "fold", True),
    (crawler_mod.SparkCrawler, "_seen_anti_join", "enqueue", False),
    (crawler_mod, "assign_global_seq_with_count", "enqueue", False),
    (crawler_mod.SparkCrawler, "_snapshot", "checkpoint.write", True),
    (ckpt_mod, "write_round", "checkpoint.write", True),
    (ckpt_mod, "partition_lineage", "checkpoint.lineage", True),
    (ckpt_mod, "read_round", "checkpoint.read", True),
)

LAYERS = tuple(dict.fromkeys(layer for _, _, layer, _ in WRAPPED))

#: (plan node, SQL metric) → layer record key
_SQL_KEYS = {
    ("ArrowEvalPython", "time to run Python workers"): "python_s",
    ("ArrowEvalPython", "time to initialize Python workers"): "python_init_s",
    ("ArrowEvalPython", "data sent to Python workers"): "arrow_sent_bytes",
    ("ArrowEvalPython", "data returned from Python workers"): "arrow_returned_bytes",
    ("ArrowEvalPython", "number of output rows"): "udf_rows",
    ("Generate", "number of output rows"): "generate_rows",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as the SQL status store formats it: a plain
    number (sum metrics), ``'2.2 s'`` / ``'64.1 KiB'``, or a
    ``'total (min, med, max ...)'`` header line followed by the total.
    Times come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*(-?[0-9][0-9,.]*)\s*([A-Za-z]*)", line)
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _interval_union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _opt(option):
    return option.get() if option.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class LayerTracer:
    """Install with ``with tracer.installed():``; wrap one crawl call in
    ``with tracer.crawl():``; then call ``report()``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.segments: list[tuple[str, float, float]] = []
        self.calls: dict[str, int] = {}
        #: driver time spent inside the tracer's own bookkeeping
        self.self_s = 0.0
        self._layer: str | None = None
        self._since = 0.0
        self._window: dict = {}

    # -- recording ----------------------------------------------------------

    def _switch(self, layer: str | None) -> str | None:
        t0 = time.perf_counter()
        prev = self._layer
        if prev is not None:
            self.segments.append((prev, self._since, t0))
        self._layer, self._since = layer, t0
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + layer, layer)
        self.self_s += time.perf_counter() - t0
        return prev

    def _wrap(self, fn, layer: str, restore: bool):
        tracer = self

        def traced(*args, **kwargs):
            tracer.calls[layer] = tracer.calls.get(layer, 0) + 1
            prev = tracer._switch(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                if restore:
                    tracer._switch(prev)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", "traced")
        return traced

    @contextlib.contextmanager
    def installed(self):
        originals = [(owner, name, owner.__dict__[name]) for owner, name, _, _ in WRAPPED]
        try:
            for (owner, name, layer, restore), (_, _, fn) in zip(WRAPPED, originals):
                setattr(owner, name, self._wrap(fn, layer, restore))
            yield self
        finally:
            for owner, name, fn in originals:
                setattr(owner, name, fn)

    @contextlib.contextmanager
    def crawl(self):
        """Delimit one traced crawl call: wall time, job-id and SQL
        execution windows. Spans and counts restart with each call."""
        self.segments, self.calls, self.self_s = [], {}, 0.0
        self._window = {
            "job_floor": self._max_job_id(),
            "exec_floor": self._max_execution_id(),
            "t0": time.perf_counter(),
            "epoch0_ms": time.time() * 1e3,
        }
        self._switch(ROOT)
        try:
            yield self
        finally:
            self._switch(None)
            self._window["t1"] = time.perf_counter()
            self._window["epoch1_ms"] = time.time() * 1e3

    # -- status-store reads ------------------------------------------------

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_job_id(self) -> int:
        return max((int(j.jobId()) for j in _seq(self._store().jobsList(None))), default=-1)

    def _max_execution_id(self) -> int:
        return max(
            (int(e.executionId()) for e in _seq(self._sql_store().executionsList())),
            default=-1,
        )

    def report(self) -> dict:
        """Per-layer totals for the last traced crawl."""
        w = self._window
        wall = w["t1"] - w["t0"]
        layers = {
            name: {
                "wall_s": 0.0, "calls": self.calls.get(name, 0), "jobs": 0,
                "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "peak_exec_mem_bytes": 0,
                "python_s": 0.0, "python_init_s": 0.0,
                "arrow_sent_bytes": 0.0, "arrow_returned_bytes": 0.0,
                "udf_rows": 0, "generate_rows": 0,
            }
            for name in (*LAYERS, ROOT)
        }
        for layer, a, b in self.segments:
            layers[layer]["wall_s"] += b - a

        store = self._store()
        job_layer: dict[int, str] = {}
        intervals = []
        unattributed: list[int] = []
        stages_done: set[int] = set()
        jobs = sorted(
            (jd for jd in _seq(store.jobsList(None)) if int(jd.jobId()) > w["job_floor"]),
            key=lambda jd: int(jd.jobId()),
        )
        for jd in jobs:
            jid = int(jd.jobId())
            group = _opt(jd.jobGroup())
            layer = group[len(GROUP_PREFIX):] if group and group.startswith(GROUP_PREFIX) else None
            if layer not in LAYERS:
                unattributed.append(jid)
                layer = ROOT
            job_layer[jid] = layer
            rec = layers[layer]
            rec["jobs"] += 1
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if sub is not None and done is not None:
                intervals.append((float(sub.getTime()), float(done.getTime())))
            for sid in _seq(jd.stageIds()):
                sid = int(sid)
                if sid in stages_done:
                    continue
                stages_done.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage that never ran has no entry
                    continue
                submitted = _opt(sd.submissionTime())
                # a reused shuffle stage is listed by later jobs too; bill it
                # only if it ran inside this window (jobs come in id order)
                if submitted is None or submitted.getTime() < w["epoch0_ms"] - 1:
                    continue
                rec["task_s"] += sd.executorRunTime() / 1e3
                rec["cpu_s"] += sd.executorCpuTime() / 1e9
                rec["gc_s"] += sd.jvmGcTime() / 1e3
                rec["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                rec["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                rec["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                rec["peak_exec_mem_bytes"] = max(
                    rec["peak_exec_mem_bytes"], int(sd.peakExecutionMemory())
                )

        sql = self._sql_store()
        for ex in _seq(sql.executionsList()):
            eid = int(ex.executionId())
            if eid <= w["exec_floor"]:
                continue
            it = ex.jobs().keysIterator()
            jids = []
            while it.hasNext():
                jids.append(int(it.next()))
            owners = [job_layer[j] for j in sorted(jids) if j in job_layer]
            if not owners:
                continue
            rec = layers[owners[0]]
            values = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                name = node.name()
                if name not in ("ArrowEvalPython", "Generate"):
                    continue
                for m in _seq(node.metrics()):
                    raw = _opt(values.get(m.accumulatorId()))
                    if raw is None:
                        continue
                    key = _SQL_KEYS.get((name, m.name()))
                    if key is not None:
                        rec[key] += parse_sql_metric(raw)

        window = (w["epoch0_ms"], w["epoch1_ms"])
        busy_s = _interval_union_s(
            [(max(a, window[0]), min(b, window[1])) for a, b in intervals if b > window[0]]
        ) / 1e3
        attributed = sum(v["wall_s"] for k, v in layers.items() if k != ROOT)
        return {
            "wall_s": wall,
            "layers": layers,
            "jobs": len(job_layer),
            "unattributed_jobs": unattributed,
            "driver_gap_s": max(wall - busy_s, 0.0),
            "coverage": attributed / wall if wall > 0 else 0.0,
            "tracer_self_s": self.self_s,
        }


def combine(reports: list[dict]) -> dict:
    """One report for consecutive crawl calls (a crawl and its resume):
    sums, except peak execution memory, which takes the maximum."""
    out = {
        "wall_s": sum(r["wall_s"] for r in reports),
        "jobs": sum(r["jobs"] for r in reports),
        "unattributed_jobs": [j for r in reports for j in r["unattributed_jobs"]],
        "driver_gap_s": sum(r["driver_gap_s"] for r in reports),
        "tracer_self_s": sum(r["tracer_self_s"] for r in reports),
        "layers": {},
    }
    for name in reports[0]["layers"]:
        recs = [r["layers"][name] for r in reports]
        out["layers"][name] = {
            k: (max if k == "peak_exec_mem_bytes" else sum)(rec[k] for rec in recs) for k in recs[0]
        }
    attributed = sum(v["wall_s"] for k, v in out["layers"].items() if k != ROOT)
    out["coverage"] = attributed / out["wall_s"] if out["wall_s"] > 0 else 0.0
    return out
