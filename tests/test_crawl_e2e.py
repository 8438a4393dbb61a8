"""End-to-end gate: the Spark BFS crawl must reproduce the reference-
semantics simulator exactly — URL-seen set (with depth + discovery order),
edges, secrets, node statuses, total_page — on the same synthetic web,
same seed list, same config (SURVEY.md §5 gate)."""

from __future__ import annotations

import pytest

from secretscraper_spark.config import CrawlConfig
from secretscraper_spark.plans.crawler import SparkCrawler
from secretscraper_spark.refsim import simulate, site_from_pandas
from secretscraper_spark.sources.sitegen import generate_pages_pandas, seeds_for

N_PAGES = 300
N_HOSTS = 4


@pytest.fixture(scope="module")
def site_pdf():
    return generate_pages_pandas(N_PAGES, N_HOSTS)


@pytest.fixture(scope="module")
def site(site_pdf):
    return site_from_pandas(site_pdf)


def run_both(spark, site_pdf, site, cfg, seeds=None):
    seeds = seeds or seeds_for(N_HOSTS)
    sim = simulate(site, seeds, cfg)
    pages = spark.createDataFrame(site_pdf.drop(columns=["bytes"]))
    res = SparkCrawler(spark, pages, cfg).run(seeds)
    return sim, res


def assert_parity(sim, res):
    # URL-seen set with (depth, discovery_seq) — the north-rule comparable
    spark_seen = {
        r.url_norm: (r.depth, r.discovery_seq) for r in res.seen.collect()
    }
    assert spark_seen == sim.seen
    # edges (parent, child, kind)
    spark_edges = {
        (r.parent_norm, r.child_norm, r.kind) for r in res.edges.collect()
    }
    assert spark_edges == sim.edges
    # secrets
    spark_secrets = {
        (r.url_norm, r.rule_name, r.match) for r in res.secrets.collect()
    }
    assert spark_secrets == sim.secrets
    # node state for fetched pages
    spark_nodes = {
        r.url_norm: (r.status, r.title, r.content_length, r.content_type)
        for r in res.nodes.collect()
    }
    sim_nodes = {
        k: (v["status"], v["title"], v["content_length"], v["content_type"])
        for k, v in sim.nodes.items()
    }
    assert spark_nodes == sim_nodes
    # found set + page budget accounting
    assert {r.url_norm for r in res.found.collect()} == sim.found
    assert res.total_page == sim.total_page


def test_depth1_default(spark, site_pdf, site):
    sim, res = run_both(spark, site_pdf, site, CrawlConfig(max_depth=1, max_page_num=0))
    assert sim.total_page > 0
    assert_parity(sim, res)


def test_depth2(spark, site_pdf, site):
    sim, res = run_both(spark, site_pdf, site, CrawlConfig(max_depth=2, max_page_num=0))
    assert_parity(sim, res)
    # deeper crawl must see strictly more
    sim1 = simulate(site, seeds_for(N_HOSTS), CrawlConfig(max_depth=1, max_page_num=0))
    assert len(sim.seen) > len(sim1.seen)


def test_unlimited_depth_with_budget(spark, site_pdf, site):
    sim, res = run_both(spark, site_pdf, site, CrawlConfig(max_depth=0, max_page_num=40))
    assert sim.total_page == 40
    assert_parity(sim, res)


def test_budget_cuts_mid_tier(spark, site_pdf, site):
    sim, res = run_both(spark, site_pdf, site, CrawlConfig(max_depth=2, max_page_num=7))
    assert sim.total_page == 7
    assert_parity(sim, res)


def test_whitelist_scope(spark, site_pdf, site):
    cfg = CrawlConfig(max_depth=2, max_page_num=0, white_list=["*.site1.test", "site1.test"])
    sim, res = run_both(spark, site_pdf, site, cfg,
                        seeds=["http://site1.test/p/16"])
    assert_parity(sim, res)
    for r in res.seen.collect():
        assert "site1.test" in r.url_norm


def test_out_of_scope_middle_seed(spark, site_pdf, site):
    """A seed the scope filter rejects takes no discovery_seq: the seeds
    after it number on without a gap, and enqueue numbering continues
    after the last accepted seed (no two rows share a seq)."""
    from secretscraper_spark.sources.sitegen import url_for

    seeds = [url_for(0, N_HOSTS), "http://elsewhere.example/x", url_for(5, N_HOSTS)]
    cfg = CrawlConfig(max_depth=1, max_page_num=0, white_list=["*.test"])
    sim, res = run_both(spark, site_pdf, site, cfg, seeds=seeds)
    assert sim.seen[url_for(5, N_HOSTS)] == (0, 1)
    assert_parity(sim, res)


def test_blacklist(spark, site_pdf, site):
    cfg = CrawlConfig(max_depth=2, max_page_num=0, black_list=["site0.test", "*.site0.test"])
    sim, res = run_both(spark, site_pdf, site, cfg)
    assert_parity(sim, res)
    for r in res.seen.collect():
        assert "site0.test" not in r.url_norm


def test_shared_child_enqueued_once(site):
    """Regression parity (tests/test_crawler_regressions.py:68-100): a child
    discovered by two parents is recorded under both but enqueued once."""
    sim = simulate(site, seeds_for(N_HOSTS), CrawlConfig(max_depth=2, max_page_num=0))
    from collections import Counter
    child_parents = Counter()
    for p, c, k in sim.edges:
        child_parents[c] += 1
    multi = [c for c, n in child_parents.items() if n > 1]
    assert multi, "fixture must contain a shared child"
    # seen maps each url to exactly one (depth, seq) — enqueued once by construction
    for c in multi:
        if c in sim.seen:
            assert isinstance(sim.seen[c], tuple)


def test_robots_gated_crawl_parity(spark, site_pdf, site):
    """C5 robots gating e2e: Spark crawl with a robots dim table matches the
    simulator with the same host→prefix map — blocked URLs are dequeued but
    never fetched nor counted, like evade."""
    cfg = CrawlConfig(max_depth=2, max_page_num=0)
    robots_map = {"site0.test": ["/p/1"], "site1.test": ["/"]}
    sim = simulate(site, seeds_for(N_HOSTS), cfg, robots=robots_map)
    sim_plain = simulate(site, seeds_for(N_HOSTS), cfg)
    assert sim.total_page < sim_plain.total_page  # the gate actually bites

    robots_df = spark.createDataFrame(
        [(h, p, 0.2) for h, ps in robots_map.items() for p in ps],
        "host string, disallow_prefix string, crawl_delay double",
    )
    pages = spark.createDataFrame(site_pdf.drop(columns=["bytes"]))
    res = SparkCrawler(spark, pages, cfg, robots=robots_df).run(seeds_for(N_HOSTS))
    assert_parity(sim, res)
    for r in res.nodes.collect():
        host = r.netloc.split(":")[0]
        assert not any(
            r.path.startswith(p) for p in robots_map.get(host, ())
        ), f"robots-blocked url fetched: {r.url_norm}"


def test_paced_fetch_mode_matches_join_mode(spark, site_pdf, site):
    """fetch_mode='paced' (per-host paced applyInPandas executor + page
    fetch function) must produce exactly the same crawl as the sandbox
    join fetch — and both match the reference simulator."""
    cfg = CrawlConfig(max_depth=2, max_page_num=0)
    sim = simulate(site, seeds_for(N_HOSTS), cfg)
    pages = spark.createDataFrame(site_pdf.drop(columns=["bytes"]))
    res = SparkCrawler(spark, pages, cfg, fetch_mode="paced").run(seeds_for(N_HOSTS))
    assert_parity(sim, res)


def test_empty_and_fully_filtered_seeds(spark, site_pdf, site):
    """Degenerate inputs terminate cleanly with empty results."""
    pages = spark.createDataFrame(site_pdf.drop(columns=["bytes"]))
    cfg = CrawlConfig(max_depth=2, max_page_num=0)
    res = SparkCrawler(spark, pages, cfg).run([])
    assert res.total_page == 0 and res.seen.count() == 0

    cfg2 = CrawlConfig(max_depth=2, max_page_num=0, white_list=["nomatch.example"])
    res2 = SparkCrawler(spark, pages, cfg2).run(seeds_for(N_HOSTS))
    assert res2.total_page == 0 and res2.seen.count() == 0


def test_budget_one(spark, site_pdf, site):
    """max_page_num=1 processes exactly the first seed in BFS order."""
    cfg = CrawlConfig(max_depth=0, max_page_num=1)
    sim, res = run_both(spark, site_pdf, site, cfg)
    assert sim.total_page == 1 == res.total_page
    assert_parity(sim, res)


def test_budget_mode_host_proportional(spark, site_pdf, site):
    """host-proportional budget: tier-0 per-host fetch counts equal the
    Hamilton quotas of the seed demand; total processed matches the BFS
    cut exactly (same budget arithmetic, different page choice)."""
    from urllib.parse import urlsplit

    seeds = seeds_for(N_HOSTS)
    # seed every page of host 0 plus the other hosts' roots so one host
    # dominates demand and the budget forces a proportional split
    hot = [u for u in site_pdf["url"] if urlsplit(u).hostname == "site0.test"]
    seeds = sorted(set(seeds + hot[:30]))
    budget = 12
    cfg = CrawlConfig(max_depth=0, max_page_num=budget)
    pages = spark.createDataFrame(site_pdf.drop(columns=["bytes"]))

    res = SparkCrawler(
        spark, pages, cfg, budget_mode="host-proportional"
    ).run(seeds)
    per_host = {}
    for r in res.nodes.collect():
        h = urlsplit(r.url_norm).hostname
        per_host[h] = per_host.get(h, 0) + 1

    # python Hamilton over the actual tier-0 demand (the deduped seeds)
    demand = {}
    for u in sorted(set(seeds)):
        demand[urlsplit(u).hostname] = demand.get(urlsplit(u).hostname, 0) + 1
    t = sum(demand.values())
    assert t > budget
    base = {h: (v * budget) // t for h, v in demand.items()}
    rem = {h: (v * budget) % t for h, v in demand.items()}
    for h in sorted(demand, key=lambda h: (-rem[h], h))[
        : budget - sum(base.values())
    ]:
        base[h] += 1
    expected = {h: q for h, q in base.items() if q > 0}
    assert per_host == expected
    assert res.total_page == budget

    # default BFS mode on the same input: same TOTAL, different choice
    res_bfs = SparkCrawler(spark, pages, cfg).run(seeds)
    assert res_bfs.total_page == budget


def test_deep_chain_crosses_seen_flatten(spark):
    """40-tier chain crawl (each page links only to the next) with
    unbounded depth: the seen accumulator is a lazy union of per-tier
    segments and flattens every 16 tiers — this crossing exercises the
    flatten twice and must stay bit-exact against the simulator."""
    import pandas as pd

    n = 40
    rows = []
    for i in range(n):
        nxt = f"http://h0.test/p/{i + 1}" if i + 1 < n else ""
        caption = f'<html><a href="{nxt}">next</a></html>' if nxt else "<html>end</html>"
        rows.append({
            "url_norm": f"http://h0.test/p/{i}",
            "status": "200",
            "content_type": "text/html",
            "content_length": len(caption),
            "caption": caption,
        })
    pdf = pd.DataFrame(rows)
    pdf["content_length"] = pdf["content_length"].astype("int64")
    site = site_from_pandas(pdf)
    seeds = ["http://h0.test/p/0"]
    cfg = CrawlConfig(max_depth=0, max_page_num=0)

    sim = simulate(site, seeds, cfg)
    res = SparkCrawler(spark, spark.createDataFrame(pdf), cfg).run(seeds)
    assert_parity(sim, res)
    assert res.total_page == n  # all 40 tiers ran
