"""Spark-native BFS crawl frontier + fetch scheduler.

Re-expresses the reference's asyncio loop (crawler.py:175-217, 268-303,
336-381) as one Spark job per depth tier:

    frontier(d) ─ robots gate ─ evade-filter ─ quarantine gate
        ─ sort/limit(budget) ─ politeness makespan
        ─► per seq-contiguous chunk: fetch join(pages)
        ├─► secrets UDF  ─► secrets append
        └─► links UDF ─► explode ─► edges append
                         └─► filter chain ─► anti-join(seen) ─► frontier(d+1)
        ─► tier end: quarantine + AIMD folds over the chunks' host outcomes

Scale design (10^10 frontier / 1000 executors):
- fetch = hash join frontier⋈pages on xxhash64(url_norm); AQE picks
  shuffle-hash vs sort-merge; bucketed pages makes it co-located.
- seen dedup: exact left_anti by default; seen_filter='bucketed-bloom'
  adds a sharded (bucket, bitmap) prefilter built, updated and probed on
  the executors (plans/bloom.py) that routes definite-unseen rows around
  the join. Correctness never depends on the filter.
- discovery ordering: two-phase distributed rank (plans/ranking.py) — no
  single-task window anywhere.
- budget cutoff: orderBy(seq).limit(k) = TakeOrderedAndProject.
- politeness: per-host virtual-time schedule (plans/politeness.py); the
  tier makespan is recorded in the metrics, and the hot-host rate budget —
  not Spark — is the throughput floor it exposes.
- one tier path: gates, budget cut, makespan and the trap hot-prefix set
  run once per tier; only fetch → enqueue runs per chunk (tier_chunk_rows
  bounds a chunk's extraction checkpoint on a single JVM), and the
  quarantine/AIMD folds run once per tier over the chunks' per-host
  outcomes — chunked runs are bit-identical to unchunked ones.
- per-tier localCheckpoint truncates lineage; checkpoint_dir writes
  parquet round snapshots + manifest for resume (plans/checkpoint.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..config import CrawlConfig, loaded_rules, url_finder_rules
from ..functions import purekit as pk
from ..functions.exprs import (
    domain_blacklist,
    domain_whitelist,
    filter_chain,
    host_of,
    is_dangerous_path,
)
from ..functions.extract import make_extract_udf
from ..schemas import EDGES_SCHEMA, FRONTIER_SCHEMA, SECRETS_SCHEMA
from . import bloom as bloommod
from . import checkpoint as ckpt
from . import extraction, traps
from .politeness import (
    adapt_crawl_delay,
    allocate_host_budget,
    assign_fetch_schedule,
    robots_gate,
    tier_makespan,
    with_host,
)
from .ranking import assign_global_seq, assign_global_seq_with_count

NODES_DDL = (
    "url_norm string, scheme string, netloc string, path string, "
    "params string, query string, fragment string, depth int, "
    "status string, title string, content_length long, content_type string"
)

#: host circuit-breaker state (quarantine_fails gate): consecutive failed
#: fetches since the host's last success, and the tier that tripped it
QUARANTINE_DDL = "host string, n_fails long, quarantined_at int"

#: AIMD adaptive-politeness state (adaptive_delay mode): the per-host
#: crawl delay carried across tiers
DELAYS_DDL = "host string, crawl_delay double"

URL_PART_COLS = ["scheme", "netloc", "path", "params", "query", "fragment"]


@dataclass
class CrawlResult:
    nodes: DataFrame          # crawled node state (status/title/... per url_norm)
    edges: DataFrame          # (parent_norm, child_norm, kind)
    secrets: DataFrame        # (url_norm, rule_name, match)
    seen: DataFrame           # (url_norm, depth, discovery_seq)
    found: DataFrame          # distinct children ever extracted
    total_page: int = 0
    tiers: list[dict] = field(default_factory=list)  # per-round metrics/lineage
    overhead: dict = field(default_factory=dict)     # non-tier wall costs (sec)
    host_delays: DataFrame | None = None  # adaptive_delay: final (host, crawl_delay)
    #: quarantine breaker: final (host, n_fails, quarantined_at) state —
    #: the operational read an operator inspects after a run
    host_fails: DataFrame | None = None
    #: fold_outputs mode: {"nodes"|"edges"|"secrets": {"digest": str,
    #: "rows": int}} — run-level sums of the per-tier fold records; the
    #: nodes/edges/secrets/found frames above are EMPTY in that mode
    folded: dict | None = None


@dataclass
class LoopState:
    """The tier loop's state between tiers. The frames are what
    ``_snapshot`` writes per round and ``resume()`` reads back."""

    frontier: DataFrame
    seen: DataFrame
    nodes: DataFrame
    edges: DataFrame
    secrets: DataFrame
    host_fails: DataFrame
    host_delays: DataFrame
    depth: int = 0
    total_page: int = 0
    next_seq: int = 0
    tiers: list[dict] = field(default_factory=list)
    #: legs of the lazy seen union since it was last flattened
    seen_segments: int = 1
    #: the seen filter's executor-side state (None in 'exact' mode)
    seen_filter: object = None
    overhead: dict = field(default_factory=dict)


def _require(ok: bool, msg: str) -> None:
    """Refuse a config that would silently diverge. ValueError, not
    assert: ``python -O`` strips asserts."""
    if not ok:
        raise ValueError(msg)


def _phase_clock(phase_t: dict):
    """mark(name) records the seconds since the previous mark (or since
    this call) into *phase_t*."""
    last = time.perf_counter()

    def mark(name: str) -> None:
        nonlocal last
        now = time.perf_counter()
        phase_t[name] = round(now - last, 3)
        last = now

    return mark


def _accept_expr(cfg: CrawlConfig):
    host = host_of(F.col("netloc"))
    return filter_chain(
        domain_whitelist(host, cfg.white_list) if cfg.white_list else F.lit(True),
        domain_blacklist(host, cfg.black_list),
    )


def _rank_seeds(firsts: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Unique seeds (ord, url_norm, URL parts) → depth-0 frontier: the
    scope filter first, then discovery_seq dense from 0 in ord order over
    the seeds it accepts — the reference numbers only enqueued seeds
    (crawler.py:180-187, refsim.simulate)."""
    ranked = assign_global_seq(
        firsts.filter(_accept_expr(cfg)), ["ord"], seq_col="discovery_seq"
    )
    return ranked.select(
        "url_norm", *URL_PART_COLS,
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("parent_norm"),
        "discovery_seq",
    )


def seed_frontier(
    spark: SparkSession, seeds: list[str], cfg: CrawlConfig,
    distributed_threshold: int = 10_000,
) -> DataFrame:
    """S1 seed source: parse, dedup (keep first), filter, seq by insertion
    order (reference facade.py:176-192 + crawler.py:180-187).

    Above *distributed_threshold* seeds the parse/dedup moves onto the
    executors (the driver-side Python loop over a 10^6-seed list is pure
    serial time and caps scaling efficiency); the two paths are
    parity-tested identical."""
    if len(seeds) <= distributed_threshold:
        rows, seen_norm = [], set()
        for url in dict.fromkeys(seeds):
            t6 = pk.parse6(url)
            norm = pk.unparse6(t6)
            if norm in seen_norm:
                continue
            seen_norm.add(norm)
            rows.append((len(rows), norm, *t6))
        firsts = spark.createDataFrame(
            rows,
            "ord long, url_norm string, "
            + ", ".join(f"{c} string" for c in URL_PART_COLS),
        )
        return _rank_seeds(firsts, cfg)

    base = spark.createDataFrame(
        list(enumerate(seeds)), "ord long, url string"
    )
    return seed_frontier_from_urls(spark, base, cfg)


def seed_frontier_from_urls(
    spark: SparkSession, urls: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """S1 seed source over a TABLE of urls — the 10^10 form: the north
    rule's frontier is an Iceberg/parquet table, which can never transit
    the driver as a Python list. *urls* carries (ord long, url string);
    ord is the insertion order the reference's seed-list semantics key on
    (facade.py:176-192). Semantics are identical to seed_frontier(list):
    first occurrence per normalized url wins, then the scope filter, then
    discovery_seq over the accepted seeds."""
    from ..functions.extract import make_parse_url_udf

    parsed = urls.select(
        "ord", make_parse_url_udf()(F.col("url")).alias("p")
    ).select("ord", "p.*")
    # first occurrence per norm wins (insertion order = ord)
    firsts = parsed.groupBy("url_norm").agg(
        F.min("ord").alias("ord"),
        *[F.min_by(c, "ord").alias(c) for c in URL_PART_COLS],
    )
    return _rank_seeds(firsts, cfg)


class SparkCrawler:
    """Driver-side BFS orchestration; all data-parallel work is DataFrame ops."""

    #: fold-mode GC nudge fires after an unsplit tier only when it is at
    #: least this big: a forced full GC on a decade-leg heap (80 g) stalls
    #: multi-seconds, which only pays when the just-released tier's
    #: blocks are a meaningful heap fraction (ADVICE round-4). Small
    #: tiers are left to ContextCleaner's ordinary reference-queue
    #: reclamation; split tiers nudge after every chunk.
    GC_NUDGE_MIN_TIER_ROWS = 2_000_000

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        cfg: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        checkpoint_dir: str | None = None,
        fetch_mode: str = "join",
        page_fetch_fn=None,
        seen_filter: str = "exact",
        rules: dict[str, str] | None = None,
        link_rules: dict[str, str] | None = None,
        paced_virtual: bool = True,
        fetch_ttl: float | None = None,
        clock=None,
        budget_mode: str = "bfs",
        trap_cap: int | None = None,
        trap_prefix_depth: int = 2,
        quarantine_fails: int | None = None,
        quarantine_cooldown_tiers: int | None = None,
        adaptive_delay: bool = False,
        paced_collect_cap: int = 200_000,
        fetch_map_fn=None,
        fold_outputs: bool = False,
        tier_chunk_rows: int | None = None,
    ):
        """fetch_mode='join' (default): fetch = hash join vs the pages
        store — the pure, deterministic sandbox scan (SURVEY S2).
        fetch_mode='paced': fetch runs through the per-host paced executor
        (plans/fetch_exec.py, applyInPandas) calling ``page_fetch_fn(url)``
        per URL under the politeness schedule — the real-network vehicle.
        When page_fetch_fn is None in paced mode, a broadcast lookup of the
        pages store stands in (test scale only; live deployments pass an
        HTTP fetcher).

        seen_filter picks how the enqueue drops already-seen URLs
        (correctness NEVER depends on the filter — it only routes rows):
        - 'exact' (default): plain left_anti against the seen table — the
          measured winner wherever seen fits storage (BASELINE.md r3).
        - 'bucketed-bloom': a sharded (bucket, bitmap) prefilter
          (plans/bloom.py), built/updated/probed entirely on the
          executors, in front of the exact anti-join — the 10^10 form.

        budget_mode picks how a tier's page-budget cut selects pages:
        - 'bfs' (default, reference parity crawler.py:190-191): first
          ``remaining`` pages in BFS discovery order — one hot host can
          consume the whole budget.
        - 'host-proportional': largest-remainder quotas per host
          (politeness.allocate_host_budget), each host's quota taken in
          BFS order — the fair-share cut a standing crawler wants. Total
          processed is identical (min(remaining, |tier|)); WHICH pages
          are fetched differs, so this mode is opt-in and not compared
          against the reference simulator.

        trap_cap (opt-in, None = off = reference parity) gates the
        enqueue against URL-pattern explosions: children whose (host,
        trap_prefix_depth-segment prefix) already holds >= trap_cap seen
        URLs are not enqueued (plans/traps.url_explosions +
        prune_trapped — broadcast anti-join, the children side never
        shuffles for it). The content-based dup-trap signal stays an
        offline operator: the crawler's state never carries captions.

        quarantine_fails (opt-in, None = off = reference parity) is the
        in-loop host circuit breaker (the batch twin of
        plans/recrawl.host_quarantine, with the tier index as time):
        a host whose fetches have failed quarantine_fails+ times in a
        row with NO success since (counted across ALL its URLs; any
        success in a tier resets the run) is dropped at DEQUEUE — no
        fetch, no budget, exactly the robots/evade exclusion contract,
        and seeds on a quarantined host are gated too (a breaker stops
        scheduling, not just enqueueing). Gated rows are DROPPED, not
        deferred — within a BFS run each frontier row is scheduled at
        most once, exactly the evade contract — so
        quarantine_cooldown_tiers (half-open release after that many
        tiers; None = quarantined for the rest of the run) benefits the
        host's NEWLY DISCOVERED URLs; URLs skipped while the breaker
        was open are not re-queued in this run. A standing deployment
        re-admits them across runs through the offline schedulers
        (plans/recrawl.retry_backoff / host_quarantine over its fetch
        log). State is a host-cardinality table (broadcast at the
        gate, one tiny full-outer fold per tier) and is checkpointed
        with the round snapshot, so resume reproduces the gated run.

        adaptive_delay (opt-in, False = reference parity — the static
        0.2 s interval) turns each tier's fetch outcomes into the next
        tier's per-host crawl delay via the AIMD rule
        (plans/politeness.adapt_crawl_delay): hosts whose fetches error
        (join-mode miss / paced error arm / 5xx / 429) back off ×2
        (capped), healthy hosts recover −0.05 s (the scheduler still
        floors at cfg.min_request_interval). The delay dim merges with
        robots Crawl-delay through assign_fetch_schedule's existing
        max() path, affects SCHEDULING only (which pages are fetched is
        unchanged — e2e outputs stay reference-parity), and is
        checkpointed with the round snapshot like the breaker state.
        Latency-based backoff stays inert in the sandbox (no wall-clock
        latencies in join mode; stats carry latency_ms=0).

        tier_chunk_rows (None = whole tiers) runs each tier's fetch →
        enqueue in seq-contiguous chunks of at most that many rows — the
        single-JVM heap mitigation for ≥5·10^7-row tiers (BASELINE.md: a
        51 M-row tier's localCheckpoint OOMed a 48 g driver). The gates,
        budget cut, politeness makespan, trap hot-prefix set and the
        quarantine/AIMD folds stay tier-grained, so a chunked run is
        bit-identical to the unchunked one with any other knob (see
        _chunked_tier)."""
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.robots = robots
        _require(
            seen_filter in ("exact", "bucketed-bloom"),
            f"seen_filter must be 'exact' or 'bucketed-bloom', "
            f"got {seen_filter!r}",
        )
        self.seen_filter = seen_filter
        self.checkpoint_dir = checkpoint_dir
        _require(
            fetch_mode in ("join", "paced", "mapped"),
            f"fetch_mode must be 'join', 'paced' or 'mapped', "
            f"got {fetch_mode!r}",
        )
        self.fetch_mode = fetch_mode
        # fetch_mode='mapped': fetch is a caller-supplied DataFrame
        # transform frontier→fetched-rows (frontier cols + status/
        # content_type/content_length/caption; misses dropped) — the
        # storage-free fetch vehicle (Catalyst synthetic site via
        # sitegen.synthetic_fetch_map, or any in-plan KV/service lookup).
        # Stays fully lazy, so it fuses into the extraction stage exactly
        # like the join path.
        _require(
            fetch_mode != "mapped" or fetch_map_fn is not None,
            "fetch_mode='mapped' requires fetch_map_fn",
        )
        self.fetch_map_fn = fetch_map_fn
        # fold_outputs: per-tier digest/count folding instead of
        # accumulating nodes/edges/secrets frames — the 10^9+ leg shape
        # where retaining every tier's extraction checkpoint exceeds the
        # volume. Digests use the same order-invariant sum-of-xxhash64
        # formula as submit/crawl_job.py --checksum, are stored in each
        # tier's metrics record (so checkpoint resume keeps accumulating
        # them), and are bit-comparable with a retained-mode run's
        # digests (parity-tested). The result frames come back EMPTY.
        self.fold_outputs = fold_outputs
        _require(
            budget_mode in ("bfs", "host-proportional"),
            f"budget_mode must be 'bfs' or 'host-proportional', "
            f"got {budget_mode!r}",
        )
        self.budget_mode = budget_mode
        _require(
            tier_chunk_rows is None or tier_chunk_rows >= 1,
            "tier_chunk_rows must be >= 1",
        )
        self.tier_chunk_rows = tier_chunk_rows
        self.trap_cap = trap_cap
        self.trap_prefix_depth = trap_prefix_depth
        _require(
            quarantine_fails is None or quarantine_fails >= 1,
            "quarantine_fails must be >= 1 (0 would quarantine every "
            "host, including all-success ones)",
        )
        _require(
            quarantine_cooldown_tiers is None
            or (quarantine_fails is not None and quarantine_cooldown_tiers >= 1),
            "quarantine_cooldown_tiers requires quarantine_fails and must "
            "be >= 1 (0 would expire every quarantine before its first "
            "gated tier — a silent no-op)",
        )
        self.quarantine_fails = quarantine_fails
        self.quarantine_cooldown_tiers = quarantine_cooldown_tiers
        self.adaptive_delay = adaptive_delay
        self._page_fetch_fn = page_fetch_fn
        # paced_virtual=False makes the paced executor sleep each slot into
        # real wall-clock place (live HTTP politeness); True keeps the
        # virtual clock (deterministic sandbox/tests/bench)
        self.paced_virtual = paced_virtual
        # S3 TTL fetch cache (reference crawler.py:388-403, 60 s): with
        # fetch_ttl set, responses persist on this instance ACROSS run()
        # calls — a recrawl serves fresh rows from cache and fetches only
        # stale/missing ones. clock is injectable for deterministic tests.
        self.fetch_ttl = fetch_ttl
        self._clock = clock or time.time
        # per-chunk (url_norm, latency_ms) of paced-mode FAILED fetches —
        # set by _do_fetch when adaptive_delay is on, consumed by
        # _host_outcomes (join-mode misses carry no measured latency)
        self._tier_fail_latency = None
        self.fetch_cache = None
        if fetch_ttl is not None:
            from .fetch_cache import CACHE_DDL

            self.fetch_cache = spark.createDataFrame([], CACHE_DDL)
        # pre-project the fetch side once; url_hash join key for cheap
        # shuffle. A STORED url_hash (sources/pages_store.py bucketed
        # store) is kept rather than recomputed: recomputing would orphan
        # the scan's HashPartitioning(url_hash) and re-introduce the
        # pages-side Exchange the bucketed layout exists to remove.
        fetch_cols = [
            "url_norm", "status", "content_type", "content_length", "caption"
        ]
        if "url_hash" in pages.columns:
            self.pages = pages.select("url_hash", *fetch_cols)
        else:
            self.pages = pages.select(*fetch_cols).withColumn(
                "url_hash", F.xxhash64("url_norm")
            )
        # rules/link_rules: externally-loaded regex sets (settings.py YAML/
        # env merge); default to the shipped config (reference settings.yml)
        self._extract_udf = make_extract_udf(
            url_finder_rules() if link_rules is None else link_rules,
            loaded_rules() if rules is None else rules,
        )
        if self.fetch_mode == "paced" and self._page_fetch_fn is None:
            # test-scale convenience only: the pages table transits the
            # driver as a broadcast dict. Capped — a production pages
            # store must come in through page_fetch_fn (HTTP fetcher) or
            # fetch_mode='join'; collecting an unbounded table would OOM
            # the driver long before 100 TB.
            cap = int(paced_collect_cap)
            if self.pages.limit(cap + 1).count() > cap:
                raise ValueError(
                    f"fetch_mode='paced' without page_fetch_fn collects "
                    f"the pages table driver-side; it exceeds "
                    f"paced_collect_cap={cap} rows. Pass page_fetch_fn "
                    f"(live fetcher) or use fetch_mode='join'."
                )
            site = {
                r["url_norm"]: {
                    "status": r["status"], "content_type": r["content_type"],
                    "content_length": r["content_length"], "caption": r["caption"],
                }
                for r in self.pages.collect()
            }
            b = spark.sparkContext.broadcast(site)
            self._page_fetch_fn = lambda u: b.value.get(u)

    # -- public API -----------------------------------------------------------

    def run(self, seeds: list[str]) -> CrawlResult:
        """Crawl from a driver-side seed list (the reference facade's
        surface, `facade.py:176-192`)."""
        return self._run_seeded(
            lambda: seed_frontier(self.spark, seeds, self.cfg)
        )

    def run_from_urls(self, urls: DataFrame) -> CrawlResult:
        """Crawl from a TABLE of seed urls (ord long, url string) — the
        production entry for Iceberg/parquet-backed frontiers, where the
        seed set (north rule: 10^10 rows) can never transit the driver as
        a list. Seed semantics are identical to run() — parity-tested."""
        return self._run_seeded(
            lambda: seed_frontier_from_urls(self.spark, urls, self.cfg)
        )

    def run_from_frontier(self, frontier: DataFrame) -> CrawlResult:
        """Enter the crawl loop from a PREBUILT depth-0 frontier table
        carrying the full FRONTIER_SCHEMA columns — the Iceberg-snapshot
        shape (resume() enters the loop from exactly this table read back
        from a round snapshot). The CALLER guarantees url_norm is
        normalized + unique and discovery_seq is unique — the contract
        every frontier table the crawler itself writes satisfies. Rows
        the scope filter drops leave gaps in discovery_seq; enqueue
        numbering continues from max(discovery_seq) + 1. For raw url
        lists/tables use run()/run_from_urls(), which normalize + dedup +
        rank first. Skipping those jobs is the point: a prepared
        10^10-row frontier pays zero per-run seed cost beyond one
        materialization. Parity-tested against run()."""
        return self._run_seeded(
            lambda: frontier.filter(_accept_expr(self.cfg))
        )

    def _run_seeded(self, build_frontier) -> CrawlResult:
        t_seed = time.perf_counter()
        frontier = build_frontier().localCheckpoint()
        seen = frontier.select("url_norm", "depth", "discovery_seq").localCheckpoint()
        # max + 1, not the row count: scope-filtered rows of a prebuilt
        # frontier leave seq gaps, and a count would reuse their seqs
        hi = frontier.agg(F.max("discovery_seq")).first()[0]
        st = self._state(
            {"frontier": frontier, "seen": seen},
            next_seq=0 if hi is None else int(hi) + 1,
        )
        st.overhead["seed_sec"] = round(time.perf_counter() - t_seed, 3)
        return self._loop(st)

    def resume(self, from_round: int | None = None) -> CrawlResult:
        """Continue a crawl from a committed round snapshot (default:
        latest). Re-execution is deterministic, so resuming from ANY round
        reproduces the uninterrupted run bit-for-bit."""
        _require(bool(self.checkpoint_dir), "resume requires checkpoint_dir")
        last = from_round if from_round is not None else ckpt.latest_round(self.checkpoint_dir)
        _require(last is not None, "no committed round to resume from")
        state, tables = ckpt.read_round(self.spark, self.checkpoint_dir, last)
        return self._loop(self._state(
            tables,
            depth=state.depth + 1,
            total_page=state.total_page,
            next_seq=state.next_seq,
            tiers=list(state.tiers),
        ))

    # -- internals ------------------------------------------------------------

    def _empty(self, schema) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _state(self, tables: dict[str, DataFrame], **kw) -> LoopState:
        """Loop state over *tables* (frontier and seen required); the
        accumulated outputs and per-host state start empty when absent."""
        empty = {
            "nodes": NODES_DDL, "edges": EDGES_SCHEMA,
            "secrets": SECRETS_SCHEMA, "host_fails": QUARANTINE_DDL,
            "host_delays": DELAYS_DDL,
        }
        frames = {
            k: tables[k] if k in tables else self._empty(schema)
            for k, schema in empty.items()
        }
        return LoopState(
            frontier=tables["frontier"], seen=tables["seen"], **frames, **kw
        )

    def _scale_ckpt(self, df: DataFrame) -> DataFrame:
        """localCheckpoint for the per-tier BIG frames (extraction
        output, ranked frontier). In CHUNKED mode (tier_chunk_rows set —
        chosen exactly when heap is the binding constraint) blocks are
        stored SERIALIZED (PySpark MEMORY_AND_DISK, deserialized=False):
        string-heavy extraction rows inflate 2-3× as live UTF8String
        objects, and the deserialized default's value-unroll is what
        OOMed the knife-edge heaps (round-5 constrained-heap legs: 4 g
        chunked runs died unrolling 1.5-4 GB chunks AS VALUES; with
        serialized storage the same runs complete with zero OOMs).
        Serialization is NOT free — measured ~1.5-2× on the extraction
        stage (each stored row is serialized task-side and deserialized
        on every scan), which is why the monolithic fold legs keep the
        deserialized default and follow the size-heap-to-biggest-tier
        guidance instead (the r4 Leg A configuration); chunked mode
        explicitly trades that CPU for bounded peak heap."""
        if self.tier_chunk_rows is not None:
            from pyspark import StorageLevel

            # PySpark's MEMORY_AND_DISK constant is the SERIALIZED form
            # (deserialized=False) — unlike the JVM-side default
            return df.localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        return df.localCheckpoint()

    def _host_proportional_cut(
        self, candidates: DataFrame, remaining: int
    ) -> DataFrame:
        """budget_mode='host-proportional': Hamilton quotas per host
        (politeness.allocate_host_budget), each host's quota filled in
        BFS discovery order. One demand agg + the allocator's rank + a
        per-host row_number window (hosts are plentiful — no single-task
        stage) + a host-dim join AQE is free to broadcast."""
        cand = candidates.withColumn("__bhost", host_of(F.col("netloc")))
        demands = cand.groupBy(F.col("__bhost").alias("host")).agg(
            F.count(F.lit(1)).alias("demand")
        )
        quotas = allocate_host_budget(demands, remaining).select(
            F.col("host").alias("__bhost"), "quota"
        )
        w = Window.partitionBy("__bhost").orderBy("discovery_seq")
        return (
            cand.withColumn("__brk", F.row_number().over(w))
            .join(quotas, "__bhost")
            .filter(F.col("__brk") <= F.col("quota"))
            .drop("__bhost", "__brk", "quota")
        )

    def _do_fetch(self, to_process: DataFrame, tier_rows: int) -> DataFrame:
        """One tier's fetch: frontier rows → frontier cols + page cols
        (status, content_type, content_length, caption). *tier_rows* is an
        upper bound on the row count, used for the broadcast decision."""
        self._tier_fail_latency = None
        if self.fetch_mode == "mapped":
            # in-plan fetch transform (see __init__): lazy, fuses into
            # the extraction stage — so parallelism = the FRONTIER's
            # partitioning. The join path never cared (the broadcast
            # join streams the 256-partition pages side), but here a
            # small tier that came through ranking's single-partition
            # window plan would run the whole fetch+extract stage as ONE
            # task (measured 45.9 s vs 4 s for a 208k-row tier). Fan a
            # too-coarse frontier out to 2× slots first; big tiers take
            # the distributed rank path and already arrive wide.
            target = self.spark.sparkContext.defaultParallelism * 2
            if to_process.rdd.getNumPartitions() < target:
                to_process = to_process.repartition(target)
            return self.fetch_map_fn(to_process)
        if self.fetch_mode == "paced":
            # real-network vehicle: per-host paced applyInPandas executor
            # calling page_fetch_fn under the politeness schedule
            from .fetch_exec import paced_fetch_pages

            paced = paced_fetch_pages(
                to_process, self.cfg, self._page_fetch_fn, self.robots,
                virtual=self.paced_virtual,
            )
            if self.adaptive_delay:
                # materialize ONCE before splitting success/failure — a
                # second lazy consumer would re-run the fetch UDF (real
                # HTTP + sleeps). Failed fetches keep their MEASURED
                # wall-clock latency (often a timeout — the largest
                # latencies a host produces) so the AIMD p95 sees them;
                # F.lit(0.0) here would read a slow-failing host as
                # healthy and recover instead of backing off.
                paced = paced.localCheckpoint()
                self._tier_fail_latency = paced.filter(
                    ~F.col("fetched")
                ).select("url_norm", "latency_ms")
            return (
                paced.filter(F.col("fetched"))
                .select("url_norm", "status", "content_type",
                        "content_length", "caption", "latency_ms")
                .join(to_process, "url_norm")
            )
        # sandbox scan: hash join vs the pages store. The frontier tier
        # is broadcast while it fits (deterministic plan, no pages
        # shuffle); a 10^8-row tier at real scale exceeds any broadcast
        # budget and takes the shuffle-hash path instead (AQE picks it).
        keyed = to_process.withColumn("url_hash", F.xxhash64("url_norm"))
        if tier_rows <= self.cfg.broadcast_frontier_rows:
            keyed = F.broadcast(keyed)
        # A bucketed pages side (sources/pages_store.py) scans in place
        # here: url_hash — the bucket key — is a subset of the join
        # keys, and the session sets
        # spark.sql.requireAllClusterKeysForCoPartition=false so the
        # planner accepts subset-key co-partitioning instead of
        # re-shuffling the 100 TB side (plan-asserted in
        # tests/test_pages_store.py).
        return keyed.join(
            self.pages, ["url_hash", "url_norm"], "inner"
        ).drop("url_hash")

    def _host_outcomes(self, chunk: DataFrame, combined: DataFrame) -> DataFrame:
        """(host, fetched, ok, latency_ms) per scheduled URL of one chunk
        — the input of the breaker and AIMD folds. A miss (join mode: not
        in the pages store; paced: fetch_fn error arm) has fetched = ok =
        False; ok also excludes 5xx/429. latency_ms is the paced
        executor's measurement, failed fetches included (a timeout is a
        host's largest latency), else 0. Empty hosts (relative-href
        children, unparseable authorities) are dropped rather than pooled
        into one '' key. Checkpointed, so the tier-end union holds no
        reference to the chunk's extraction checkpoint."""
        status = F.col("status").cast("string")
        ok = ~((status == "Unknown") | status.startswith("5") | (status == "429"))
        latency = (
            F.coalesce("latency_ms", F.lit(0.0))
            if "latency_ms" in combined.columns
            else F.lit(0.0)
        )
        hits = with_host(combined).select(
            "host", F.lit(True).alias("fetched"), ok.alias("ok"),
            latency.alias("latency_ms"),
        )
        misses = (
            with_host(chunk)
            .select("host", "url_norm")
            .join(combined.select("url_norm"), "url_norm", "left_anti")
        )
        miss_latency = F.lit(0.0)
        if self._tier_fail_latency is not None:
            misses = misses.join(self._tier_fail_latency, "url_norm", "left")
            miss_latency = F.coalesce("latency_ms", F.lit(0.0))
        misses = misses.select(
            "host", F.lit(False).alias("fetched"), F.lit(False).alias("ok"),
            miss_latency.alias("latency_ms"),
        )
        return (
            hits.unionByName(misses).filter(F.col("host") != "").localCheckpoint()
        )

    def _quarantine_fold(
        self, state: DataFrame, outcomes: DataFrame, depth: int
    ) -> DataFrame:
        """One tier's host outcomes folded into the breaker state (see
        __init__ doc). Tier-batch time: any success this tier resets the
        host's run; otherwise the tier's failures extend it. An expired
        quarantine (cooldown passed) resets to half-open BEFORE the
        tier's outcome applies, so the probe tier re-trips on its own
        evidence. Hosts with no active run and no quarantine drop out —
        the state stays minimal (failing-host cardinality, not all
        hosts)."""
        thr = int(self.quarantine_fails)
        c = self.quarantine_cooldown_tiers
        tier = outcomes.groupBy("host").agg(
            F.count_if(F.col("fetched")).alias("n_ok"),
            F.count_if(~F.col("fetched")).alias("n_fail"),
        )
        merged = state.select(
            "host",
            F.col("n_fails").alias("old_n"),
            F.col("quarantined_at").alias("old_qat"),
        ).join(tier, "host", "full_outer")
        expired = (
            F.lit(False)
            if c is None
            else F.col("old_qat").isNotNull()
            & (F.lit(depth) > F.col("old_qat") + int(c))
        )
        base_n = F.when(expired, F.lit(0)).otherwise(
            F.coalesce(F.col("old_n"), F.lit(0))
        )
        base_qat = F.when(expired, F.lit(None).cast("int")).otherwise(
            F.col("old_qat")
        )
        n2 = (
            F.when(F.coalesce(F.col("n_ok"), F.lit(0)) > 0, F.lit(0))
            .otherwise(base_n + F.coalesce(F.col("n_fail"), F.lit(0)))
            .cast("long")
        )
        qat2 = F.when(base_qat.isNotNull(), base_qat).when(
            n2 >= thr, F.lit(depth).cast("int")
        )
        return merged.select(
            "host", n2.alias("n_fails"), qat2.alias("quarantined_at")
        ).filter((F.col("n_fails") > 0) | F.col("quarantined_at").isNotNull())

    # -- seen-filter strategy (build / anti-join / per-tier update) -----------

    def _seen_build(self, seen: DataFrame):
        cfg = self.cfg
        if self.seen_filter == "bucketed-bloom":
            return bloommod.build_bucketed_bloom(
                seen, n_buckets=cfg.seen_n_buckets,
                capacity_per_bucket=cfg.seen_bucket_capacity, fpp=cfg.bloom_fpp,
            ).localCheckpoint()
        return None  # exact

    def _seen_anti_join(self, eligible: DataFrame, seen: DataFrame, state):
        # exact mode stays lazy: single consumption, a checkpoint would be
        # pure cost (measured 20.9 s lazy vs 34.3 s checkpoint alone at a
        # 25M-row tier, BASELINE.md round-3 component table); the bloom
        # path consumes candidates twice and materializes them itself
        if self.seen_filter == "bucketed-bloom":
            return bloommod.bucketed_bloom_anti_join(
                eligible, seen, state, n_buckets=self.cfg.seen_n_buckets
            )
        return eligible.join(seen, "url_norm", "left_anti")

    def _seen_update(self, state, new_frontier: DataFrame):
        """Fold one tier's newly-enqueued URLs into the filter state. The
        shards merge on the executors (cogroup per bucket) — no
        driver-side bitmap ever exists; localCheckpoint keeps the shard
        table's lineage flat across tiers."""
        cfg = self.cfg
        if self.seen_filter == "bucketed-bloom":
            return bloommod.update_bucketed_bloom(
                state, new_frontier, n_buckets=cfg.seen_n_buckets,
                capacity_per_bucket=cfg.seen_bucket_capacity, fpp=cfg.bloom_fpp,
            ).localCheckpoint()
        return None

    def _loop(self, st: LoopState) -> CrawlResult:
        cfg = self.cfg
        t_sb = time.perf_counter()
        st.seen_filter = self._seen_build(st.seen)
        st.overhead["seen_build_sec"] = round(time.perf_counter() - t_sb, 3)
        while True:
            if cfg.max_depth > 0 and st.depth > cfg.max_depth:
                break
            if cfg.max_page_num > 0 and st.total_page >= cfg.max_page_num:
                break
            if not self._chunked_tier(st):
                break
            if self.checkpoint_dir:
                self._snapshot(st)
            st.depth += 1

        folded = None
        if self.fold_outputs:
            acc: dict[str, dict] = {}
            for t in st.tiers:
                for name, v in t.get("fold", {}).items():
                    a = acc.setdefault(name, {"digest": 0, "rows": 0})
                    a["digest"] += v["digest"]
                    a["rows"] += v["rows"]
            folded = {
                k: {"digest": str(v["digest"]), "rows": v["rows"]}
                for k, v in acc.items()
            }
        return CrawlResult(
            nodes=st.nodes,
            edges=st.edges.dropDuplicates(["parent_norm", "child_norm", "kind"]),
            secrets=st.secrets.dropDuplicates(["url_norm", "rule_name", "match"]),
            seen=st.seen,
            # found_urls ≡ the distinct children ever extracted — exactly
            # the edge targets, so it is derived instead of accumulated
            # (zero extra extraction passes; crawler.py:364-376 adds every
            # child to a dict AND found_urls together)
            found=st.edges.select(
                F.col("child_norm").alias("url_norm")
            ).distinct(),
            total_page=st.total_page,
            tiers=st.tiers,
            overhead=st.overhead,
            host_delays=st.host_delays if self.adaptive_delay else None,
            host_fails=(
                st.host_fails if self.quarantine_fails is not None else None
            ),
            folded=folded,
        )

    def _chunked_tier(self, st: LoopState) -> bool:
        """Run one BFS tier; False when the frontier is empty.

        Once per tier: frontier count, robots → evade → quarantine gate
        (tier-start host_fails), budget cut, trap hot-prefix set
        (tier-start seen). Then ``_tier`` runs fetch → enqueue per
        seq-contiguous chunk of to_process (one chunk unless
        tier_chunk_rows is set and smaller); the breaker/AIMD folds run
        once over all chunks' outcomes, and the politeness makespan over
        to_process with the tier-start host_delays — every tier-grained
        feature sees the same data at any chunk size.

        Chunk boundaries are ARITHMETIC on to_process's discovery_seq
        span: range filters, no sort, no extra materialization. A gap in
        the span only thins a chunk; empty chunks are skipped.

        Exactness: children of chunk i's parents carry min_parent_seq
        values strictly below chunk i+1's (seq order), which is the
        leading component of the enqueue rank key, so ranking chunks
        back-to-back assigns the SAME discovery_seq as one monolithic
        rank; a child linked from multiple chunks is enqueued by its
        earliest chunk (later chunks' anti-join drops it — same winner
        as the monolithic min(parent_seq) tiebreak). Peak storage drops
        from O(tier) to O(chunk): each chunk's extraction checkpoint is
        released (fold mode) before the next begins.

        Records: one per chunk, tagged ``chunk`` when the tier splits;
        the tier's frontier count, makespan and tier-grained phases go on
        its first (0 / None / absent on the rest)."""
        cfg, depth = self.cfg, st.depth
        phases: dict[str, float] = {}
        mark = _phase_clock(phases)
        n_frontier = st.frontier.count()
        mark("count_frontier")
        if n_frontier == 0:
            return False

        # C5 robots gate (north-rule addition; excluded like evade: no fetch,
        # no budget)
        candidates = st.frontier
        if self.robots is not None:
            candidates = robots_gate(candidates, self.robots).drop("host")

        # F6 evade: never processed, never counted (crawler.py:272-276)
        candidates = candidates.filter(
            ~is_dangerous_path(F.col("path"), cfg.dangerous_paths)
        )

        # host circuit breaker: quarantined hosts are not scheduled this
        # tier (no fetch, no budget — robots/evade contract). The state
        # dim is host-cardinality → broadcast; big side never shuffles.
        if self.quarantine_fails is not None:
            active = F.col("quarantined_at").isNotNull()
            if self.quarantine_cooldown_tiers is not None:
                active = active & (
                    F.lit(depth)
                    <= F.col("quarantined_at")
                    + int(self.quarantine_cooldown_tiers)
                )
            qdim = F.broadcast(
                st.host_fails.filter(active).select(
                    F.col("host").alias("q_host")
                )
            )
            tagged = with_host(candidates)
            candidates = tagged.join(
                qdim, tagged["host"] == qdim["q_host"], "left_anti"
            ).drop("host")

        # O2 budget top-k in BFS order (crawler.py:190-191, 270-271).
        # Only the budget cut is worth pinning with a checkpoint; without a
        # budget, to_process is cheap narrow filters over the ALREADY
        # checkpoint-backed frontier — re-evaluating them on each downstream
        # read beats re-materializing the whole tier (one less full-tier
        # copy per round).
        if cfg.max_page_num > 0:
            remaining = cfg.max_page_num - st.total_page
            if self.budget_mode == "host-proportional":
                to_process = self._host_proportional_cut(
                    candidates, remaining
                )
            else:
                to_process = candidates.orderBy("discovery_seq").limit(
                    remaining
                )
            to_process = to_process.localCheckpoint()
        else:
            to_process = candidates
        b = to_process.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("discovery_seq").alias("lo"),
            F.max("discovery_seq").alias("hi"),
        ).first()
        n_processed = int(b["n"])
        mark("budget_checkpoint")

        hot = None
        if self.trap_cap is not None and (
            cfg.max_depth <= 0 or depth + 1 <= cfg.max_depth
        ):
            hot = traps.url_explosions(
                st.seen, self.trap_cap, prefix_depth=self.trap_prefix_depth
            ).localCheckpoint()
            mark("trap_profile")

        chunks = [(None, to_process, n_processed)]
        if self.tier_chunk_rows is not None and n_processed > self.tier_chunk_rows:
            lo, hi = int(b["lo"]), int(b["hi"])
            n_chunks = -(-(hi - lo + 1) // self.tier_chunk_rows)
            step = -(-(hi - lo + 1) // n_chunks)
            seq = F.col("discovery_seq")
            chunks = []
            for ci in range(n_chunks):
                chunk = to_process.filter(
                    (seq >= lo + ci * step) & (seq < lo + (ci + 1) * step)
                )
                n_rows = chunk.count()
                if n_rows:  # else the chunk fell in a seq gap
                    chunks.append((ci, chunk, n_rows))
            mark("chunk_counts")

        # politeness delays as of tier start (the AIMD fold below replaces
        # st.host_delays): merge the adapted per-host delays with robots
        # Crawl-delay; assign_fetch_schedule takes max() per host, so
        # neither source can undercut the other
        sched_dim = self.robots
        if self.adaptive_delay:
            sched_dim = (
                st.host_delays
                if sched_dim is None
                else sched_dim.select("host", "crawl_delay").unionByName(
                    st.host_delays
                )
            )

        first = len(st.tiers)
        segments, outcomes = [], []
        for ci, chunk, n_rows in chunks:
            rec = {
                "depth": depth,
                "frontier": 0 if segments else n_frontier,
                "processed": n_rows,
                "enqueued": 0,
                "total_page": st.total_page,
                "politeness_makespan_sec": None,
                "phase_sec": {} if segments else phases,
            }
            if ci is not None:
                rec["chunk"] = ci
            new_frontier, outcome = self._tier(st, chunk, rec, hot)
            segments.append(new_frontier)
            if outcome is not None:
                outcomes.append(outcome)
            if self.fold_outputs and (
                ci is not None or n_rows >= self.GC_NUDGE_MIN_TIER_ROWS
            ):
                # the chunk's extraction checkpoint is now unreferenced
                # (digests folded, outcomes checkpointed, no lazy union
                # holds it) — nudge the JVM so ContextCleaner releases its
                # blocks before the next chunk grows: it only does so
                # after a GC enqueues the weak refs, and the periodic GC
                # is 30 min away. Chunking is chosen exactly when heap
                # binds; without the nudge freed chunks piled up and
                # round-5 constrained-heap legs OOMed unrolling the next.
                self.spark.sparkContext._jvm.System.gc()
        # each segment is already a checkpointed leaf, so the union is a
        # flat read — same shape as the seen-segments accumulation
        st.frontier = reduce(DataFrame.unionByName, segments)

        # per-host state folds, once per tier over all chunks' outcomes
        mark = _phase_clock(phases)
        if outcomes:
            tier_outcomes = reduce(DataFrame.unionByName, outcomes)
            if self.quarantine_fails is not None:
                st.host_fails = self._quarantine_fold(
                    st.host_fails, tier_outcomes, depth
                ).localCheckpoint()
                mark("quarantine_fold")
            if self.adaptive_delay:
                # AIMD: this tier's fetch outcomes → next tier's
                # crawl-delay dim (host-cardinality agg)
                st.host_delays = (
                    adapt_crawl_delay(
                        tier_outcomes,
                        st.host_delays,
                        default_delay=cfg.min_request_interval,
                    )
                    .select("host", "crawl_delay")
                    .localCheckpoint()
                )
                mark("delay_fold")

        # C1/C2 politeness schedule (virtual time; metrics only in sandbox —
        # a real-network deployment fetches per (host, slot) group). Taken
        # last: a layer profiler bills the work after a lazy schedule call
        # to politeness until the next crawler step, so nothing follows it.
        if n_processed:
            scheduled = assign_fetch_schedule(to_process, cfg, sched_dim)
            st.tiers[first]["politeness_makespan_sec"] = tier_makespan(
                scheduled, cfg
            )
            mark("politeness")
        return True

    def _tier(
        self, st: LoopState, chunk: DataFrame, rec: dict, hot: DataFrame | None
    ) -> tuple[DataFrame, DataFrame | None]:
        """One chunk of a tier's to_process: fetch → extract →
        fold/retain → trap prune → seen anti-join → rank → seen union.
        Fills in and appends the chunk's record *rec* (``processed`` is
        the chunk's row count); *hot* is the tier's trap hot-prefix set
        (None = no trap gate). Returns the chunk's enqueued frontier and,
        when quarantine or AIMD is on, its per-host outcomes."""
        cfg, depth = self.cfg, st.depth
        mark = _phase_clock(rec["phase_sec"])
        n_rows = rec["processed"]
        st.total_page += n_rows

        # S2 fetch (optionally through the S3 TTL cache). In the plain
        # path `fetched` stays LAZY: the pages join fuses into the single
        # extraction stage below, so a tier's captions are scanned exactly
        # once and never stored; the TTL-cache path materializes them (the
        # cache replays fetched bodies across rounds).
        if self.fetch_cache is None:
            fetched = self._do_fetch(chunk, n_rows)
        else:
            from . import fetch_cache as fc

            now = self._clock()
            hits, misses = fc.split_by_ttl(
                chunk, self.fetch_cache, now, self.fetch_ttl
            )
            fetched_new = self._do_fetch(misses, n_rows).localCheckpoint()
            # cache hits replay without a latency_ms column (paced mode
            # measures it on fresh fetches only) — they union as NULL and
            # the outcome rollup coalesces to 0
            fetched = hits.unionByName(
                fetched_new, allowMissingColumns=True
            ).localCheckpoint()
            self.fetch_cache = fc.upsert(
                self.fetch_cache, fetched_new, now
            ).localCheckpoint()
        mark("fetch_join")

        # P1∪P2 + P3 + P7 in ONE Arrow pass (plans/extraction.py): each
        # caption crosses the JVM→worker boundary exactly once per tier,
        # and the per-tier checkpoint stores frontier identity + page
        # metadata + the extraction arrays — never the captions. Nodes,
        # secrets, edges, found, and the enqueue path all derive from this
        # single materialization with pure-JVM projections/explodes.
        combined = self._scale_ckpt(
            extraction.extract_combined(fetched, self._extract_udf)
        )
        mark("extract")

        outcomes = None
        if self.quarantine_fails is not None or self.adaptive_delay:
            outcomes = self._host_outcomes(chunk, combined)
            mark("host_outcomes")

        # P1+P2 link extraction, gated by F7 (crawler.py:343-344)
        children = extraction.children_of(combined)

        if self.fold_outputs:
            # digest/count folding (scale-leg retention): per-tier sums
            # recorded in the tier metrics record — resume-safe because
            # tier records are part of the checkpoint manifest.
            rec["fold"] = self._fold_tier(combined)
            mark("fold_outputs")
        else:
            # P10 metadata projection + P7 title
            st.nodes = st.nodes.unionByName(extraction.nodes_of(combined))

            # P3 secrets — extracted from every fetched page (crawler.py:296)
            st.secrets = st.secrets.unionByName(
                extraction.secrets_of(combined)
            )

            # D5 edges recorded regardless of enqueue (crawler.py:364-376) —
            # lazy unions over the per-tier checkpointed `combined`; the
            # single dropDuplicates in _loop dedups the whole accumulation
            # at the end
            st.edges = st.edges.unionByName(extraction.edges_of(children))

        # D1 enqueue: depth gate F8 + filter chain + seen anti-join
        is_extending = cfg.max_depth <= 0 or depth + 1 <= cfg.max_depth
        n_new = 0
        if is_extending:
            eligible = (
                children.filter(_accept_expr(cfg))
                .groupBy("url_norm", *URL_PART_COLS)
                .agg(F.min("parent_seq").alias("min_parent_seq"),
                     F.min("parent_norm").alias("parent_norm"))
            )
            if hot is not None:
                eligible = traps.prune_trapped(
                    eligible, hot, prefix_depth=self.trap_prefix_depth
                )
            new_nodes = self._seen_anti_join(eligible, st.seen, st.seen_filter)
            # ranking materializes + counts its input anyway; reuse that
            # count as n_new (rank preserves rows) — one job less per tier
            ranked, n_new = assign_global_seq_with_count(
                new_nodes, ["min_parent_seq", "url_norm"], start=st.next_seq
            )
            new_frontier = self._scale_ckpt(ranked.select(
                "url_norm", *URL_PART_COLS, F.lit(depth + 1).alias("depth"),
                "parent_norm", "discovery_seq",
            ))
            mark("enqueue_rank")
            st.next_seq += n_new
            # LAZY union: the increment (new_frontier) is already
            # checkpointed, and every prior segment is too, so the union
            # is a flat read of materialized blocks — re-checkpointing
            # the WHOLE accumulated table here copied O(total seen) rows
            # per tier (3.5-21.8 s/tier at the 10^8 leg; at a 10^10
            # deployment the seen table is an Iceberg APPEND, which this
            # union-of-segments shape mirrors)
            st.seen = st.seen.unionByName(
                new_frontier.select("url_norm", "depth", "discovery_seq")
            )
            # deep-crawl guard: the union tree grows one leg per tier and
            # is re-analyzed by every per-tier consumer, so an unbounded-
            # depth crawl would pay O(tiers²) driver-side planning.
            # Flatten every 16 tiers — amortized copy cost O(total/16),
            # and a shallow BFS never pays it (snapshot rounds flatten to
            # parquet reads on their own).
            st.seen_segments += 1
            if st.seen_segments >= 16:
                st.seen = st.seen.localCheckpoint()
                st.seen_segments = 1
            mark("seen_union")
            if st.seen_filter is not None and n_new:
                st.seen_filter = self._seen_update(st.seen_filter, new_frontier)
        else:
            new_frontier = self._empty(FRONTIER_SCHEMA)

        rec["enqueued"] = n_new
        rec["total_page"] = st.total_page
        st.tiers.append(rec)
        return new_frontier, outcomes

    def _fold_tier(self, combined: DataFrame) -> dict:
        """One tier's nodes/secrets/edges digests+counts in ONE scan of
        the tier's extraction checkpoint — no explodes, no dedup jobs,
        no shuffle (one partial-agg). Digests are order-invariant
        sum-of-xxhash64 as decimal(38,0) (exact, overflow-free, cannot
        cancel duplicates — the submit/crawl_job.py --checksum formula)
        over exactly the rows nodes_of/secrets_of/edges_of would emit:
        the per-row array folds hash each secret/edge with the shared
        digest recipes from plans/extraction.py (node_digest_exprs /
        secret_digest_exprs / edge_pairs_expr — ADVICE round-4: ONE
        definition next to the projections, so an edit to either side is
        visible from the other), and edge pairs are per-page
        array_distinct-ed on (child_norm, kind) so colliding child
        6-tuples hash exactly like the retained path's dropDuplicates
        (parity-pinned in TestSyntheticFetch, collision case in
        test_fold_digest_collision_parity). An earlier shape ran 3
        separate explode-dedup-agg jobs per tier; at the 10^9 leg's
        51 M-row tier that cost 126.8 s of re-scanning — this is one
        pass."""
        dec = "decimal(38,0)"

        def hfold(arr, fn):
            return F.aggregate(
                arr,
                F.lit(0).cast(dec),
                lambda acc, x: acc + fn(x).cast(dec),
            )

        node_h = F.xxhash64(*extraction.node_digest_exprs()).cast(dec)
        sec_h = hfold(
            F.col("ex.secrets"),
            lambda s: F.xxhash64(*extraction.secret_digest_exprs(s)),
        )
        edge_pairs = extraction.edge_pairs_expr()
        edge_h = hfold(
            edge_pairs,
            lambda p: F.xxhash64(*extraction.edge_digest_exprs(p)),
        )
        row = combined.agg(
            F.sum(node_h).alias("nd"),
            F.count(F.lit(1)).alias("nn"),
            F.sum(sec_h).alias("sd"),
            F.sum(F.size("ex.secrets").cast("long")).alias("sn"),
            F.sum(edge_h).alias("ed"),
            F.sum(F.size(edge_pairs).cast("long")).alias("en"),
        ).collect()[0]
        return {
            "nodes": {"digest": int(row["nd"] or 0), "rows": int(row["nn"])},
            "secrets": {"digest": int(row["sd"] or 0), "rows": int(row["sn"] or 0)},
            "edges": {"digest": int(row["ed"] or 0), "rows": int(row["en"] or 0)},
        }

    def _snapshot(self, st: LoopState) -> None:
        state = ckpt.CrawlState(
            depth=st.depth,
            total_page=st.total_page,
            next_seq=st.next_seq,
            tiers=st.tiers,
        )
        tables = {
            "frontier": st.frontier,
            "seen": st.seen,
            "nodes": st.nodes,
            "edges": st.edges,
            "secrets": st.secrets,
        }
        if self.quarantine_fails is not None:
            tables["host_fails"] = st.host_fails
        if self.adaptive_delay:
            tables["host_delays"] = st.host_delays
        lineage = ckpt.write_round(self.checkpoint_dir, state, tables)
        st.tiers[-1]["lineage"] = {k: len(v) for k, v in lineage.items()}
        # re-read snapshots so downstream lineage points at parquet, not RAM
        base = ckpt._round_dir(self.checkpoint_dir, st.depth)
        for name in tables:
            setattr(st, name, self.spark.read.parquet(f"{base}/{name}"))
        # seen is now a single parquet leaf — restart the union-of-segments
        # count so the 16-tier flatten doesn't fire early and pay an extra
        # full-table localCheckpoint copy the snapshot already provides
        st.seen_segments = 1
