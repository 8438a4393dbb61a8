"""The benchmark's crawl workloads: seeded inputs, one measured operation
each, and the `refsim` oracle digests they are checked against.

The workload seed picks only the generated inputs (seed pages, frontier
order); the crawler receives those inputs and nothing else.

Digests are the order-invariant ``sum(xxhash64(cols))`` of
``submit/crawl_job.py --checksum`` over the column recipes in
`plans/extraction.py`, computed by Spark for both the crawl and the oracle so
the two sides hash identically typed values.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawlbench import layertrace
from secretscraper_spark import refsim
from secretscraper_spark.config import CrawlConfig, loaded_rules, url_finder_rules
from secretscraper_spark.functions import purekit as pk
from secretscraper_spark.plans import checkpoint as ckpt_mod
from secretscraper_spark.plans import extraction as expl
from secretscraper_spark.plans.crawler import SparkCrawler
from secretscraper_spark.sources import sitegen

N_HOSTS = 8

SEEN_DDL = "url_norm string, depth int, discovery_seq long"
NODES_DDL = "url_norm string, status string, title string, content_length long"
EDGES_DDL = "parent_norm string, child_norm string, kind string"
SECRETS_DDL = "url_norm string, rule_name string, match string"
EMPTY_PAGES_DDL = (
    "url_norm string, status string, content_type string, "
    "content_length long, caption string"
)


def digest(df: DataFrame, cols) -> str:
    row = df.select(
        F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")).alias("d")
    ).collect()[0]
    return str(row["d"] or 0)


def result_digests(res) -> dict:
    """seen/nodes/edges/secrets digests of one CrawlResult (retained or
    folded) plus its page count."""
    out = {"seen": digest(res.seen, expl.SEEN_DIGEST_COLS), "total_page": res.total_page}
    if res.folded:
        for name in ("nodes", "edges", "secrets"):
            out[name] = res.folded[name]["digest"]
    else:
        out["nodes"] = digest(res.nodes, expl.NODE_DIGEST_COLS)
        out["edges"] = digest(res.edges, expl.EDGE_DIGEST_COLS)
        out["secrets"] = digest(res.secrets, expl.SECRET_DIGEST_COLS)
    return out


def oracle_site(n_pages: int, filler_bytes: int) -> dict[str, dict]:
    """The synthetic web as `refsim.simulate` reads it. Captions are
    generated without filler: filler is secret- and link-free text, so only
    ``content_length`` depends on it, and that is taken from the full
    caption. The saving is the oracle's regex pass over the filler."""
    site = {}
    for i in range(n_pages):
        full = sitegen.caption_for(i, n_pages, N_HOSTS, filler_bytes)
        site[sitegen.url_for(i, N_HOSTS)] = {
            "caption": sitegen.caption_for(i, n_pages, N_HOSTS, 0) if filler_bytes else full,
            "status": sitegen.status_for(i),
            "content_type": sitegen.content_type_for(i),
            "content_length": len(full),
        }
    return site


def oracle_digests(spark: SparkSession, sim: refsim.SimResult) -> dict:
    seen = spark.createDataFrame(
        [(u, d, s) for u, (d, s) in sim.seen.items()], SEEN_DDL
    )
    nodes = spark.createDataFrame(
        [(u, v["status"], v["title"], v["content_length"]) for u, v in sim.nodes.items()],
        NODES_DDL,
    )
    return {
        "seen": digest(seen, expl.SEEN_DIGEST_COLS),
        "nodes": digest(nodes, expl.NODE_DIGEST_COLS),
        "edges": digest(spark.createDataFrame(sorted(sim.edges), EDGES_DDL), expl.EDGE_DIGEST_COLS),
        "secrets": digest(
            spark.createDataFrame(sorted(sim.secrets), SECRETS_DDL), expl.SECRET_DIGEST_COLS
        ),
        "total_page": sim.total_page,
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class _Crash(Exception):
    """Raised after a round's snapshot has committed, standing in for a
    driver that dies at that round boundary."""


@contextlib.contextmanager
def crash_after_round(depth: int):
    """Make the crawler's ``ckpt.write_round`` raise `_Crash` once round
    *depth* is committed. Wraps whatever is installed (a tracer's wrapper
    included) and puts it back on exit."""
    inner = ckpt_mod.write_round

    def write_round(base, state, tables):
        lineage = inner(base, state, tables)
        if state.depth == depth:
            raise _Crash(depth)
        return lineage

    ckpt_mod.write_round = write_round
    try:
        yield
    finally:
        ckpt_mod.write_round = inner


class DeepCkpt:
    """Deep join-fetch crawl under a page budget with robots gating and a
    round snapshot per tier. The crawl is stopped right after round
    ``crash_round`` commits and a fresh crawler resumes it from that round
    to the end; the resumed result must equal the oracle's uninterrupted
    crawl.

    Captions carry no filler, so the Python kernel does little and the
    per-tier fixed costs and snapshot I/O dominate."""

    name = "deep_ckpt"
    n_pages = 2_000
    filler_bytes = 0
    n_seeds = 3
    budget = 40
    crash_round = 1
    #: one operation's pages/s swings about ±20% with the host's speed
    ops_per_run = 2
    #: host → disallowed path prefixes
    robots = {"site1.test": ["/p/1"], "site3.test": ["/p/2"], "site0.test": ["/missing/"]}

    def __init__(self, seed: int, cores: int, workdir: str):
        # seeds are drawn from pages the crawl can fetch and expand (200,
        # HTML, not robots-gated), so every seed starts the same kind of crawl
        crawlable = [
            i for i in range(self.n_pages)
            if sitegen.status_for(i) == "200"
            and pk.is_extend(sitegen.content_type_for(i))
            and not any(f"/p/{i}".startswith(p) for p in self.robots.get(sitegen.host_for(i, N_HOSTS), ()))
        ]
        rng = random.Random(seed)
        self.seeds = [sitegen.url_for(i, N_HOSTS) for i in rng.sample(crawlable, self.n_seeds)]
        self.cfg = CrawlConfig(max_depth=0, max_page_num=self.budget, shuffle_partitions=cores)
        self.partitions = 2 * cores
        self.workdir = workdir
        self.key = f"{self.name}-n{self.n_pages}-b{self.budget}-s{seed}"
        self._ops = 0

    def materialize(self, spark: SparkSession) -> dict:
        # the Catalyst twins of the sitegen page generator (bit-identical to
        # generate_pages_spark, no Python worker in the set-up)
        i = F.col("id")
        pages = (
            spark.range(0, self.n_pages, numPartitions=self.partitions)
            .select(
                sitegen.url_expr(i, N_HOSTS).alias("url_norm"),
                sitegen.status_expr(i).alias("status"),
                sitegen.content_type_expr(i).alias("content_type"),
                sitegen.caption_expr(i, self.n_pages, N_HOSTS, self.filler_bytes).alias("caption"),
            )
            .withColumn("content_length", F.length("caption").cast("long"))
            .localCheckpoint()
        )
        pages.count()
        robots = spark.createDataFrame(
            [(h, p, self.cfg.min_request_interval) for h, ps in self.robots.items() for p in ps],
            "host string, disallow_prefix string, crawl_delay double",
        ).localCheckpoint()
        robots.count()
        return {"pages": pages, "robots": robots}

    def oracle(self, spark: SparkSession) -> dict:
        sim = refsim.simulate(
            oracle_site(self.n_pages, self.filler_bytes), self.seeds, self.cfg, robots=self.robots
        )
        return oracle_digests(spark, sim)

    def run_op(self, spark: SparkSession, inputs: dict, oracle: dict, traced=None) -> dict:
        self._ops += 1
        ckdir = os.path.join(self.workdir, f"ckpt-{self._ops}")
        shutil.rmtree(ckdir, ignore_errors=True)

        def crawler():
            return SparkCrawler(
                spark, inputs["pages"], self.cfg, robots=inputs["robots"], checkpoint_dir=ckdir
            )

        window = traced.crawl if traced else contextlib.nullcontext
        crashed = False
        with crash_after_round(self.crash_round), window():
            t0 = time.perf_counter()
            try:
                crawler().run(self.seeds)
            except _Crash:
                crashed = True
            crawl_s = time.perf_counter() - t0
        crawl_report = traced.report() if traced else None
        with window():
            t0 = time.perf_counter()
            res = crawler().resume(from_round=self.crash_round)
            resume_s = time.perf_counter() - t0
        resume_report = traced.report() if traced else None
        got = result_digests(res)
        ckpt_bytes = dir_bytes(ckdir)
        shutil.rmtree(ckdir, ignore_errors=True)
        problems = _mismatches("resumed crawl", got, oracle)
        if not crashed:
            problems.append(f"crawl ended before round {self.crash_round} committed")
        if traced:
            # the traced run also crawls uninterrupted, outside the measured
            # windows, so resumed == uninterrupted is shown by Spark itself
            whole = crawler().run(self.seeds)
            problems += _mismatches("uninterrupted vs resumed", result_digests(whole), got)
            shutil.rmtree(ckdir, ignore_errors=True)
        return {
            "pages": res.total_page,
            "crawl_s": crawl_s,
            "resume_s": resume_s,
            "pages_per_s": res.total_page / (crawl_s + resume_s),
            "rounds": len(res.tiers),
            "ckpt_bytes": ckpt_bytes,
            "ckpt_bytes_per_page": ckpt_bytes / res.total_page,
            "tiers": res.tiers,
            "digests": got,
            "problems": problems,
            "trace": layertrace.combine([crawl_report, resume_report]) if traced else None,
        }


class SaturatedChunked:
    """Every page seeded as a prebuilt depth-0 frontier; storage-free mapped
    fetch; digest folding; the big tier runs as serialized-checkpoint chunks.

    The seed picks the frontier's discovery order, which decides chunk
    membership and enqueue ranking."""

    name = "saturated_chunked"
    n_pages = 4_000
    filler_bytes = 12_288
    chunk_rows = 2_000
    ops_per_run = 1

    def __init__(self, seed: int, cores: int, workdir: str):
        multipliers = (7, 11, 13, 17, 19, 23, 29, 31)
        self.mult = multipliers[seed % len(multipliers)]
        self.offset = (seed * 977) % self.n_pages
        self.cfg = CrawlConfig(max_depth=1, max_page_num=0, shuffle_partitions=2 * cores)
        self.partitions = 2 * cores
        self.key = f"{self.name}-n{self.n_pages}-s{seed}"

    def _seq_of(self, i: int) -> int:
        return (i * self.mult + self.offset) % self.n_pages

    def materialize(self, spark: SparkSession) -> dict:
        i = F.col("id")
        url = sitegen.url_expr(i, N_HOSTS)
        frontier = (
            spark.range(0, self.n_pages, numPartitions=self.partitions)
            .select(
                url.alias("url_norm"),
                F.lit("http").alias("scheme"),
                F.regexp_extract(url, r"^http://([^/]+)", 1).alias("netloc"),
                F.concat(F.lit("/p/"), i.cast("string")).alias("path"),
                F.lit("").alias("params"),
                F.lit("").alias("query"),
                F.lit("").alias("fragment"),
                F.lit(0).cast("int").alias("depth"),
                F.lit(None).cast("string").alias("parent_norm"),
                F.pmod(i * self.mult + self.offset, F.lit(self.n_pages)).cast("long").alias("discovery_seq"),
            )
            .localCheckpoint()
        )
        frontier.count()
        return {"frontier": frontier}

    def oracle(self, spark: SparkSession) -> dict:
        order = sorted(range(self.n_pages), key=self._seq_of)
        seeds = [sitegen.url_for(i, N_HOSTS) for i in order]
        sim = refsim.simulate(oracle_site(self.n_pages, self.filler_bytes), seeds, self.cfg)
        return oracle_digests(spark, sim)

    def run_op(self, spark: SparkSession, inputs: dict, oracle: dict, traced=None) -> dict:
        crawler = SparkCrawler(
            spark,
            spark.createDataFrame([], EMPTY_PAGES_DDL),
            self.cfg,
            fetch_mode="mapped",
            fetch_map_fn=sitegen.synthetic_fetch_map(self.n_pages, N_HOSTS, self.filler_bytes),
            fold_outputs=True,
            tier_chunk_rows=self.chunk_rows,
        )
        with (traced.crawl() if traced else contextlib.nullcontext()):
            t0 = time.perf_counter()
            res = crawler.run_from_frontier(inputs["frontier"])
            crawl_s = time.perf_counter() - t0
        report = traced.report() if traced else None
        got = result_digests(res)
        return {
            "pages": res.total_page,
            "crawl_s": crawl_s,
            "pages_per_s": res.total_page / crawl_s,
            "tiers": res.tiers,
            "digests": got,
            "problems": _mismatches("crawl", got, oracle),
            "trace": report,
        }


WORKLOADS = {w.name: w for w in (DeepCkpt, SaturatedChunked)}


def _mismatches(label: str, got: dict, want: dict) -> list[str]:
    return [f"{label}: {k} {got.get(k)} != {want[k]}" for k in want if str(got.get(k)) != str(want[k])]


def kernel_mb_per_s(workload, n_sample: int = 200, min_s: float = 1.0) -> float:
    """The pure-Python extraction kernel's throughput in this process over a
    fixed sample of the workload's captions, making the same link, secret
    and title calls per page as ``functions.extract.make_extract_udf``."""
    step = max(workload.n_pages // n_sample, 1)
    pages = []
    for i in range(0, workload.n_pages, step)[:n_sample]:
        t6 = pk.parse6(sitegen.url_for(i, N_HOSTS))
        pages.append((
            (t6[0], t6[1], "", "", "", ""),
            sitegen.caption_for(i, workload.n_pages, N_HOSTS, workload.filler_bytes),
            pk.is_extend(sitegen.content_type_for(i)),
        ))
    lx = pk.LinkExtractor(url_finder_rules())
    se = pk.get_extractor(loaded_rules(), use_groups=True)
    done, t0 = 0, time.perf_counter()
    while True:
        for base6, text, extend in pages:
            set(se.extract(text))
            pk.extract_title(text)
            if extend:
                lx.extract(base6, text)
            done += len(text)
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return done / elapsed / 1e6
