"""Per-host politeness scheduling + robots gating + priority queue.

The reference enforces politeness with an asyncio semaphore (≤5 concurrent
per domain, rate_limiter.py:55-64) and a per-domain min interval (0.2 s,
rate_limiter.py:74-80). A batch engine can't sleep per request; instead the
schedule is computed as data (SURVEY §7 "politeness in a batch engine"):

  slot(url)          = rank of the url within its host / max_concurrent
  virtual_start(url) = slot * effective_interval(host)

so a per-host fetch executor (or a real-network applyInPandas runner) can
pace exactly, and tests/throughput math are deterministic — no wall clock.

Skew note: politeness is inherently serial per host, so the hot host IS
the makespan lower bound (no salting can beat it — salting helps the
*shuffle*, not the host's rate budget). The frontier is hash-partitioned by
host so each executor owns whole hosts; `salt` splits only the shuffle key
of pathological hosts while keeping slot assignment host-global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import CrawlConfig
from ..functions.exprs import host_of


def with_host(frontier: DataFrame) -> DataFrame:
    return frontier.withColumn("host", host_of(F.col("netloc")))


def _robots_match(frontier: DataFrame, robots: DataFrame):
    """(host-tagged frontier, broadcast robots dim, prefix-match cond) —
    the ONE definition of what 'violates a Disallow' means, shared by the
    gate and its audit twin so the two can never silently diverge."""
    f = with_host(frontier)
    r = F.broadcast(robots.select(
        F.col("host").alias("r_host"), "disallow_prefix"
    ))
    cond = (F.col("host") == F.col("r_host")) & F.col("path").startswith(
        F.col("disallow_prefix")
    )
    return f, r, cond


def robots_gate(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """North-rule robots.txt gating (absent in reference): drop frontier
    rows whose path starts with a disallowed prefix for their host.
    Robots is a small dim → broadcast; left_anti on (host, prefix-match)."""
    f, r, cond = _robots_match(frontier, robots)
    return f.join(r, cond, "left_anti")


def assign_fetch_schedule(
    frontier: DataFrame,
    cfg: CrawlConfig,
    robots: DataFrame | None = None,
) -> DataFrame:
    """Add (host, slot, virtual_start) — the deterministic politeness
    schedule for one tier. Priority within a host = discovery_seq (BFS
    order), matching the reference's FIFO dequeue."""
    f = with_host(frontier)
    if robots is not None:
        delays = F.broadcast(
            robots.groupBy("host").agg(F.max("crawl_delay").alias("crawl_delay"))
        )
        f = f.join(delays, "host", "left")
        interval = F.greatest(
            F.coalesce(F.col("crawl_delay"), F.lit(cfg.min_request_interval)),
            F.lit(cfg.min_request_interval),
        )
    else:
        interval = F.lit(cfg.min_request_interval)

    w = Window.partitionBy("host").orderBy("discovery_seq")
    slot = F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(cfg.max_concurrent_per_domain))
    return (
        f.withColumn("slot", slot)
        .withColumn("interval", interval)
        .withColumn("virtual_start", F.round(slot * interval, 6))
    )


def tier_makespan(scheduled: DataFrame, cfg: CrawlConfig) -> float:
    """Virtual seconds to drain one tier under the politeness budget:
    max over hosts of round(floor((n-1)/C)·interval, 6) + interval — the
    end of the host's last slot, i.e. max(virtual_start + interval), from
    one groupBy count: the optimizer prunes the schedule's window sort.
    Uses each host's EFFECTIVE interval (robots Crawl-delay override
    included) when the schedule carries it — the global minimum would
    underreport a crawl-delayed host's drain."""
    interval = (
        F.col("interval")
        if "interval" in scheduled.columns
        else F.lit(cfg.min_request_interval)
    )
    per_host = scheduled.groupBy("host", interval.alias("interval")).count()
    slot = F.floor((F.col("count") - 1) / F.lit(cfg.max_concurrent_per_domain))
    row = per_host.agg(
        F.max(F.round(slot * F.col("interval"), 6) + F.col("interval")).alias("m")
    ).first()
    return float(row["m"] or 0.0)


def salted_priority_sort(
    frontier: DataFrame, salt_buckets: int = 16
) -> DataFrame:
    """North-rule salted priority queue: sort within host-hash partitions,
    hot hosts split across `salt_buckets` shuffle keys so no single reducer
    owns 30% of the frontier. Output order inside each partition is BFS
    priority; the global BFS order is still (depth, discovery_seq)."""
    f = with_host(frontier)
    salt = F.pmod(F.xxhash64("url_norm"), F.lit(salt_buckets))
    return (
        f.withColumn("salt", salt)
        .repartition(F.col("host"), F.col("salt"))
        .sortWithinPartitions("discovery_seq")
    )


def allocate_host_budget(
    demands: DataFrame,
    budget: int,
    host_col: str = "host",
    demand_col: str = "demand",
    quota_col: str = "quota",
) -> DataFrame:
    """Split a global fetch budget across hosts proportionally to demand
    using the largest-remainder (Hamilton) method — the deterministic,
    integer-exact way to cap a tier at ``max_page_num`` without starving
    small hosts or over-fetching hot ones. Guarantees: Σ quota =
    min(budget, Σ demand); quota ≤ demand; |quota − ideal| < 1; identical
    output under any partitioning (remainder ties break on host).

    Plan: two scalar aggregates (driver scalars, like every budget/count
    the tier loop already takes), pure integer-`div`/`pmod` arithmetic
    per host, and ONE two-phase global rank over (remainder desc, host)
    to hand out the leftover units — no single-task window, nothing
    host-table-sized on the driver."""
    from .ranking import assign_global_seq

    total = demands.agg(F.sum(demand_col).alias("t")).collect()[0]["t"]
    total = int(total or 0)
    if total <= budget:
        # same (host, demand, quota) projection as the rationing branch —
        # a data-volume-dependent schema would break callers only once
        # the frontier outgrows the budget
        return demands.select(
            F.col(host_col).alias("host"),
            F.col(demand_col).cast("long").alias("demand"),
            F.col(demand_col).cast("long").alias(quota_col),
        )
    b = F.lit(int(budget))
    prod = F.col(demand_col).cast("long") * b
    base = F.expr(
        f"(CAST({demand_col} AS BIGINT) * {int(budget)})"
        f" div {total}"
    )
    rem = F.pmod(prod, F.lit(total))
    tagged = demands.select(
        F.col(host_col).alias("host"),
        F.col(demand_col).cast("long").alias("demand"),
        base.cast("long").alias("__base"),
        (-rem).alias("__negrem"),
    )
    leftover = int(budget) - int(
        tagged.agg(F.sum("__base")).collect()[0][0] or 0
    )
    ranked = assign_global_seq(tagged, ["__negrem", "host"], seq_col="__seq")
    return ranked.select(
        "host",
        "demand",
        (
            F.col("__base")
            + (F.col("__seq") < F.lit(leftover)).cast("long")
        ).alias(quota_col),
    )


def politeness_audit(
    df: DataFrame,
    host_col: str,
    ts_col: str,
    min_interval_s: float,
) -> DataFrame:
    """Per-host politeness COMPLIANCE audit over observed fetch
    timestamps — the operational check that a fleet actually honored the
    min-request-interval budget (the schedule builder above plans it;
    this verifies it from the fetch log after the fact, which is what an
    operator of a 1000-executor fleet actually inspects).

    Per host: ``n_fetches``, ``min_gap_us`` (smallest inter-fetch gap),
    and ``n_violations`` (gaps below the budget). Gaps are computed as
    exact MICROSECOND BIGINTs (unix_micros), so the result is
    bit-reproducible across engines and layouts — no float time math.
    One host-keyed window pass + one rollup. Tied timestamps are safe:
    reordering equal values cannot change the gap multiset, so every
    aggregate here is tie-invariant. Hosts with one fetch report
    NULL min_gap_us and 0 violations."""
    # parquet timestamps may arrive as TIMESTAMP_NTZ; the cast is exact
    # under the engine's pinned UTC session tz (session.py), and gaps
    # are differences, so any constant offset cancels anyway
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(host_col).orderBy(us)
    gap = us - F.lag(us).over(w)
    per = df.select(
        F.col(host_col).alias("host"), gap.alias("gap_us")
    )
    lim = int(round(min_interval_s * 1_000_000))
    return (
        per.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.sum(
                F.when(F.col("gap_us") < lim, 1).otherwise(0)
            ).cast("long").alias("n_violations"),
        )
    )


def adapt_crawl_delay(
    fetch_stats: DataFrame,
    prev_delays: DataFrame,
    default_delay: float = 0.2,
    min_delay: float = 0.05,
    max_delay: float = 8.0,
    err_threshold: float = 0.1,
    latency_cap_ms: float = 2000.0,
    backoff_factor: float = 2.0,
    recovery_step: float = 0.05,
) -> DataFrame:
    """AIMD politeness auto-tuning → (host, crawl_delay, err_rate,
    p95_latency_ms, n_fetches, decision).

    The reference's 0.2 s min-interval is static config; a production
    crawler ADAPTS it from the server's observed behavior — the TCP
    congestion-control shape (additive-increase of rate / multiplicative
    back-off) that polite crawlers apply per host. Per tier:

      - stressed host (error rate > *err_threshold* OR exact type-1 p95
        latency > *latency_cap_ms*): delay ← min(max_delay,
        prev × backoff_factor)                       → decision 'backoff'
      - healthy host: delay ← max(min_delay, prev − recovery_step)
                                                      → decision 'recover'
      - host in *prev_delays* with no fetches this tier: unchanged
                                                      → decision 'hold'

    Hosts fetched for the first time start from *default_delay* before
    the rule applies. The output is next tier's crawl-delay dim —
    `assign_fetch_schedule` consumes it through the robots/crawl-delay
    broadcast path, so adaptation adds no new shuffle to scheduling.

    Inputs: ``fetch_stats`` (host, latency_ms double, ok boolean) — one
    row per fetch from the tier's log; ``prev_delays`` (host,
    crawl_delay double). Plan: one map-side-combined groupBy(host) for
    counts/error rate, one host-partitioned window pass for the exact
    p95 (operators/stats.grouped_quantiles — per-host row counts are
    already bounded by the politeness budget, so the window partition
    cannot be corpus-skewed), a full-outer join with the prev dim. All
    per-host state is columnar; nothing collects to the driver."""
    from ..operators.stats import grouped_quantiles

    agg = fetch_stats.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.round(
            F.avg(F.when(F.col("ok"), 0.0).otherwise(1.0)), 6
        ).alias("err_rate"),
    )
    p95 = grouped_quantiles(
        fetch_stats, "host", "latency_ms", qs=(0.95,),
        group_out="host", value_out="p95_latency_ms",
    ).drop("q")
    stats = agg.join(p95, "host")
    merged = stats.join(
        prev_delays.select("host", F.col("crawl_delay").alias("__prev")),
        "host",
        "full_outer",
    )
    prev = F.coalesce("__prev", F.lit(float(default_delay)))
    stressed = (F.col("err_rate") > F.lit(float(err_threshold))) | (
        F.col("p95_latency_ms") > F.lit(float(latency_cap_ms))
    )
    has_stats = F.col("n_fetches").isNotNull()
    new_delay = (
        F.when(~has_stats, prev)
        .when(
            stressed,
            F.least(
                F.lit(float(max_delay)), prev * F.lit(float(backoff_factor))
            ),
        )
        .otherwise(
            F.greatest(
                F.lit(float(min_delay)), prev - F.lit(float(recovery_step))
            )
        )
    )
    decision = (
        F.when(~has_stats, F.lit("hold"))
        .when(stressed, F.lit("backoff"))
        .otherwise(F.lit("recover"))
    )
    return merged.select(
        "host",
        F.round(new_delay, 6).alias("crawl_delay"),
        "err_rate",
        "p95_latency_ms",
        F.coalesce("n_fetches", F.lit(0)).cast("long").alias("n_fetches"),
        decision.alias("decision"),
    )


def robots_compliance(fetched: DataFrame, robots: DataFrame) -> DataFrame:
    """Post-hoc compliance audit — the verification twin of
    :func:`robots_gate`: per host, how many fetched pages there were and
    how many of them violated a Disallow prefix (a correct crawl reports
    zero everywhere; a nonzero row is the evidence trail an operator
    investigates). ``fetched`` needs (netloc, path) like the gate's
    frontier; same broadcast prefix-match, LEFT SEMI for the violation
    side, one groupBy — audit cost is one pass over the fetch log."""
    f, r, cond = _robots_match(fetched, robots)
    viol = (
        f.join(r, cond, "left_semi")
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
    )
    totals = f.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetched")
    )
    return totals.join(viol, "host", "left").select(
        "host",
        "n_fetched",
        F.coalesce("n_violations", F.lit(0)).cast("long").alias("n_violations"),
    )
