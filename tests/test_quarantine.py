"""Host circuit-breaker wiring in SparkCrawler (quarantine_fails)."""

from __future__ import annotations

from secretscraper_spark.config import CrawlConfig
from secretscraper_spark.plans.crawler import SparkCrawler
from secretscraper_spark.sources.sitegen import generate_pages_pandas, seeds_for

DOWN = "site2.test"  # seed 7's host (host_for(7, 4)) — fails from tier 0


def _degraded_pages(spark):
    """The sitegen pages table with one host's pages REMOVED — every
    fetch of that host misses the join (= fetch failure) while its URLs
    keep being discovered as children of healthy hosts."""
    pdf = generate_pages_pandas(200, 4)
    pdf = pdf[~pdf.url_norm.str.contains(f"//{DOWN}/")]
    return spark.createDataFrame(pdf.drop(columns=["bytes"]))


def _key_sets(res):
    return (
        {(r.url_norm, r.depth, r.discovery_seq) for r in res.seen.collect()},
        {(r.url_norm, r.status, r.title) for r in res.nodes.collect()},
        {(r.parent_norm, r.child_norm, r.kind) for r in res.edges.collect()},
    )


def test_quarantine_never_firing_is_parity(spark):
    pages = _degraded_pages(spark)
    cfg = CrawlConfig(max_depth=2, max_page_num=0)
    plain = SparkCrawler(spark, pages, cfg).run(seeds_for(4))
    gated = SparkCrawler(spark, pages, cfg, quarantine_fails=10**9).run(
        seeds_for(4)
    )
    assert _key_sets(plain) == _key_sets(gated)
    assert plain.total_page == gated.total_page


def test_quarantine_stops_scheduling_failing_host(spark):
    pages = _degraded_pages(spark)
    cfg = CrawlConfig(max_depth=3, max_page_num=0)
    plain = SparkCrawler(spark, pages, cfg).run(seeds_for(4))
    gated = SparkCrawler(spark, pages, cfg, quarantine_fails=1).run(
        seeds_for(4)
    )
    # failures never produce nodes/edges/children, and the gate acts at
    # DEQUEUE only — so everything derived from successful fetches is
    # identical, including the seen set (children come from the same
    # fetched pages)
    assert _key_sets(plain) == _key_sets(gated)
    # ...but the breaker stops burning schedule/budget on the dead host:
    # its URLs are skipped from tier 1 on
    assert gated.total_page < plain.total_page
    down_processed_plain = sum(
        1 for r in plain.seen.collect()
        if f"//{DOWN}/" in r.url_norm and r.depth <= 3
    )
    assert down_processed_plain > 1  # the host keeps being discovered

    # half-open: cooldown=1 releases the host for a probe, which fails
    # and re-trips — strictly between permanent-gate and no-gate budgets
    half = SparkCrawler(
        spark, pages, cfg, quarantine_fails=1, quarantine_cooldown_tiers=1
    ).run(seeds_for(4))
    assert gated.total_page <= half.total_page <= plain.total_page


def test_quarantine_validation(spark):
    import pytest

    pages = _degraded_pages(spark)
    cfg = CrawlConfig(max_depth=1, max_page_num=0)
    # 0 would quarantine all-success hosts (0 >= 0)
    with pytest.raises(ValueError, match="quarantine_fails"):
        SparkCrawler(spark, pages, cfg, quarantine_fails=0)
    # cooldown 0 expires every quarantine before its first gated tier
    with pytest.raises(ValueError, match="cooldown"):
        SparkCrawler(
            spark, pages, cfg, quarantine_fails=2, quarantine_cooldown_tiers=0
        )
    # cooldown without a threshold is a silent no-op otherwise
    with pytest.raises(ValueError, match="cooldown"):
        SparkCrawler(spark, pages, cfg, quarantine_cooldown_tiers=2)


def test_quarantine_state_resumes(spark, tmp_path):
    pages = _degraded_pages(spark)
    cfg = CrawlConfig(max_depth=2, max_page_num=0)
    full = SparkCrawler(spark, pages, cfg, quarantine_fails=1).run(
        seeds_for(4)
    )
    ck = str(tmp_path / "ckq")
    SparkCrawler(
        spark, pages, cfg, quarantine_fails=1, checkpoint_dir=ck
    ).run(seeds_for(4))
    resumed = SparkCrawler(
        spark, pages, cfg, quarantine_fails=1, checkpoint_dir=ck
    ).resume(from_round=0)
    assert _key_sets(full) == _key_sets(resumed)
    assert full.total_page == resumed.total_page
