"""Tests for politeness scheduling, sharded bloom seen-filter, validate pass,
checkpoint/resume, and robots gating."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from secretscraper_spark.config import CrawlConfig
from secretscraper_spark.plans.crawler import SparkCrawler
from secretscraper_spark.plans.politeness import (
    assign_fetch_schedule,
    robots_gate,
    salted_priority_sort,
    tier_makespan,
)
from secretscraper_spark.plans.validate import validate_pass
from secretscraper_spark.refsim import simulate, site_from_pandas
from secretscraper_spark.schemas import FRONTIER_SCHEMA, ROBOTS_SCHEMA
from secretscraper_spark.sources.sitegen import generate_pages_pandas, seeds_for


def _digest(df, cols):
    """Order-invariant sum-of-xxhash64 digest of *cols* (the crawl_job
    --checksum formula)."""
    row = df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("d")
    ).collect()[0]
    return str(row["d"])


def make_frontier(spark, rows):
    """rows: (url_norm, netloc, path, discovery_seq)"""
    return spark.createDataFrame(
        [(u, n, p, s) for u, n, p, s in rows],
        "url_norm string, netloc string, path string, discovery_seq long",
    )


class TestPoliteness:
    def test_slots_and_virtual_time(self, spark):
        cfg = CrawlConfig(max_concurrent_per_domain=2, min_request_interval=0.5)
        rows = [(f"http://h.test/p/{i}", "h.test", f"/p/{i}", i) for i in range(5)]
        rows += [(f"http://x.test/p/{i}", "x.test", f"/p/{i}", 10 + i) for i in range(2)]
        sched = assign_fetch_schedule(make_frontier(spark, rows), cfg).collect()
        by_host = {}
        for r in sched:
            by_host.setdefault(r.host, []).append((r.discovery_seq, r.slot, r.virtual_start))
        # h.test: 5 urls / 2 per slot → slots 0,0,1,1,2; starts 0,0,.5,.5,1.0
        h = sorted(by_host["h.test"])
        assert [s for _, s, _ in h] == [0, 0, 1, 1, 2]
        assert [v for _, _, v in h] == [0.0, 0.0, 0.5, 0.5, 1.0]
        assert [s for _, s, _ in sorted(by_host["x.test"])] == [0, 0]
        # makespan = hot host: ceil(5/2)*0.5 = 1.5
        df = assign_fetch_schedule(make_frontier(spark, rows), cfg)
        assert math.isclose(tier_makespan(df, cfg), 1.5)

    def test_crawl_delay_override(self, spark):
        cfg = CrawlConfig(max_concurrent_per_domain=1, min_request_interval=0.2)
        robots = spark.createDataFrame([("h.test", "/private", 1.0)], ROBOTS_SCHEMA)
        rows = [(f"http://h.test/p/{i}", "h.test", f"/p/{i}", i) for i in range(3)]
        sched = assign_fetch_schedule(make_frontier(spark, rows), cfg, robots).collect()
        starts = sorted(r.virtual_start for r in sched)
        assert starts == [0.0, 1.0, 2.0]  # crawl_delay=1.0 wins over 0.2

    def test_robots_gate(self, spark):
        robots = spark.createDataFrame(
            [("h.test", "/admin", None), ("h.test", "/private", None)], ROBOTS_SCHEMA
        )
        rows = [
            ("http://h.test/admin/x", "h.test", "/admin/x", 0),
            ("http://h.test/ok", "h.test", "/ok", 1),
            ("http://other.test/admin/x", "other.test", "/admin/x", 2),
        ]
        kept = {r.url_norm for r in robots_gate(make_frontier(spark, rows), robots).collect()}
        assert kept == {"http://h.test/ok", "http://other.test/admin/x"}

    def test_salted_sort_preserves_rows(self, spark):
        rows = [(f"http://h.test/p/{i}", "h.test", f"/p/{i}", i) for i in range(50)]
        out = salted_priority_sort(make_frontier(spark, rows), salt_buckets=4)
        assert out.count() == 50
        assert out.select("salt").distinct().count() > 1  # hot host actually split


class TestBloom:
    @pytest.mark.parametrize("mode", ["bucketed-bloom"])
    def test_crawl_with_sharded_seen_matches_exact(self, spark, mode):
        """The 10^10-grade sharded seen-set mode wired into SparkCrawler
        must reproduce the exact-anti-join crawl bit-for-bit (seen set with
        depth+seq, edges, secrets) — the filter only routes rows. Tiny
        per-shard capacity forces real incremental updates + overfill."""
        pdf = generate_pages_pandas(200, 4)
        site = site_from_pandas(pdf)
        cfg = CrawlConfig(
            max_depth=2, max_page_num=0, seen_n_buckets=8,
            seen_bucket_capacity=64,
        )
        sim = simulate(site, seeds_for(4), cfg)
        pages = spark.createDataFrame(pdf.drop(columns=["bytes"]))
        res = SparkCrawler(spark, pages, cfg, seen_filter=mode).run(seeds_for(4))
        got = {r.url_norm: (r.depth, r.discovery_seq) for r in res.seen.collect()}
        assert got == sim.seen
        got_edges = {(r.parent_norm, r.child_norm, r.kind) for r in res.edges.collect()}
        assert got_edges == sim.edges
        got_secrets = {(r.url_norm, r.rule_name, r.match) for r in res.secrets.collect()}
        assert got_secrets == sim.secrets


class TestValidate:
    def test_unknown_statuses_resolved(self, spark):
        nodes = spark.createDataFrame(
            [("http://h.test/a", "200", "A", 10, "text/html")],
            "url_norm string, status string, title string, content_length long, content_type string",
        )
        edges = spark.createDataFrame(
            [("http://h.test/a", "http://h.test/b", "url"),
             ("http://h.test/a", "http://h.test/c.js", "js"),
             ("http://h.test/a", "http://h.test/gone", "url")],
            "parent_norm string, child_norm string, kind string",
        )
        pages = spark.createDataFrame(
            [("http://h.test/a", "200"), ("http://h.test/b", "302"),
             ("http://h.test/c.js", "404")],
            "url_norm string, status string",
        )
        out = {r.url_norm: r.status for r in validate_pass(edges, nodes, pages).collect()}
        assert out == {
            "http://h.test/a": "200",       # already numeric: untouched
            "http://h.test/b": "302",       # unknown child revalidated
            "http://h.test/c.js": "404",    # unknown js child revalidated
            "http://h.test/gone": "Unknown",  # fetch miss stays Unknown
        }


class TestTableBackedSeeding:
    def test_run_from_urls_matches_run(self, spark):
        """run_from_urls (table-backed frontier, the 10^10 entry) must be
        bit-for-bit identical to run (seed-list surface) — same seen set
        with depth+seq, edges, secrets, total_page. Seed list includes a
        duplicate (dedup-first-wins on both paths) and an off-site url
        (fetch-miss seed) to exercise more than the happy path."""
        pdf = generate_pages_pandas(200, 4)
        pages = spark.createDataFrame(pdf.drop(columns=["bytes"]))
        cfg = CrawlConfig(max_depth=2, max_page_num=0)
        seeds = seeds_for(4) + [seeds_for(4)[0], "http://elsewhere.example/x"]

        a = SparkCrawler(spark, pages, cfg).run(seeds)
        urls = spark.createDataFrame(
            list(enumerate(seeds)), "ord long, url string"
        )
        b = SparkCrawler(spark, pages, cfg).run_from_urls(urls)

        key = lambda r: (r.url_norm, r.depth, r.discovery_seq)
        assert sorted(map(key, a.seen.collect())) == sorted(map(key, b.seen.collect()))
        ek = lambda r: (r.parent_norm, r.child_norm, r.kind)
        assert sorted(map(ek, a.edges.collect())) == sorted(map(ek, b.edges.collect()))
        sk = lambda r: (r.url_norm, r.rule_name, r.match)
        assert sorted(map(sk, a.secrets.collect())) == sorted(map(sk, b.secrets.collect()))
        assert a.total_page == b.total_page


    def test_run_from_frontier_matches_run(self, spark):
        """run_from_frontier (prebuilt Iceberg-snapshot-shaped frontier)
        must equal run() when handed the equivalent depth-0 frontier —
        here built with pure-JVM projections from the pages store, the
        saturated-bench seeding path."""
        from pyspark.sql import functions as F
        from secretscraper_spark.sources.sitegen import url_for

        pdf = generate_pages_pandas(200, 4)
        pages = spark.createDataFrame(pdf.drop(columns=["bytes"]))
        cfg = CrawlConfig(max_depth=1, max_page_num=0)
        seeds = [url_for(i, 4) for i in range(200)]
        a = SparkCrawler(spark, pages, cfg).run(seeds)

        frontier = pages.select(
            F.col("url_norm"),
            F.lit("http").alias("scheme"),
            F.regexp_extract("url_norm", r"^http://([^/]+)", 1).alias("netloc"),
            F.regexp_extract("url_norm", r"^http://[^/]+(/.*)$", 1).alias("path"),
            F.lit("").alias("params"),
            F.lit("").alias("query"),
            F.lit("").alias("fragment"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(None).cast("string").alias("parent_norm"),
            F.regexp_extract("url_norm", r"/p/(\d+)$", 1)
             .cast("long").alias("discovery_seq"),
        )
        b = SparkCrawler(spark, pages, cfg).run_from_frontier(frontier)

        key = lambda r: (r.url_norm, r.depth, r.discovery_seq)
        assert sorted(map(key, a.seen.collect())) == sorted(map(key, b.seen.collect()))
        ek = lambda r: (r.parent_norm, r.child_norm, r.kind)
        assert sorted(map(ek, a.edges.collect())) == sorted(map(ek, b.edges.collect()))
        sk = lambda r: (r.url_norm, r.rule_name, r.match)
        assert sorted(map(sk, a.secrets.collect())) == sorted(map(sk, b.secrets.collect()))
        assert a.total_page == b.total_page


class TestCheckpointResume:
    def test_resume_matches_uninterrupted(self, spark, tmp_path):
        pdf = generate_pages_pandas(200, 4)
        pages = spark.createDataFrame(pdf.drop(columns=["bytes"]))
        cfg = CrawlConfig(max_depth=2, max_page_num=0)

        full = SparkCrawler(spark, pages, cfg).run(seeds_for(4))
        full_seen = {r.url_norm: (r.depth, r.discovery_seq) for r in full.seen.collect()}
        full_edges = {(r.parent_norm, r.child_norm, r.kind) for r in full.edges.collect()}

        # checkpointed run writes round snapshots 0..2; resuming from the
        # round-0 snapshot must replay rounds 1..2 to the identical result
        ck = str(tmp_path / "ck")
        SparkCrawler(spark, pages, cfg, checkpoint_dir=ck).run(seeds_for(4))
        resumed = SparkCrawler(spark, pages, cfg, checkpoint_dir=ck).resume(from_round=0)
        got_seen = {r.url_norm: (r.depth, r.discovery_seq) for r in resumed.seen.collect()}
        got_edges = {(r.parent_norm, r.child_norm, r.kind) for r in resumed.edges.collect()}
        assert got_seen == full_seen
        assert got_edges == full_edges
        assert resumed.total_page == full.total_page

    def test_lineage_recorded(self, spark, tmp_path):
        import json, os
        pdf = generate_pages_pandas(100, 4)
        pages = spark.createDataFrame(pdf.drop(columns=["bytes"]))
        ck = str(tmp_path / "ck2")
        SparkCrawler(spark, pages, CrawlConfig(max_depth=1), checkpoint_dir=ck).run(seeds_for(4))
        with open(os.path.join(ck, "round=0", "manifest.json")) as f:
            manifest = json.load(f)
        assert "lineage" in manifest and "seen" in manifest["lineage"]
        assert sum(p["rows"] for p in manifest["lineage"]["seen"]) > 0


class TestPacedFetch:
    def _frontier(self, spark, n=23, hosts=3):
        rows = [
            (f"http://h{i % hosts}.test/p/{i}", f"h{i % hosts}.test", f"/p/{i}", i)
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "url_norm string, netloc string, path string, discovery_seq long"
        )

    def test_issue_order_and_slots(self, spark):
        from secretscraper_spark.config import CrawlConfig
        from secretscraper_spark.plans.fetch_exec import paced_fetch

        cfg = CrawlConfig(max_concurrent_per_domain=5, min_request_interval=0.2)
        out = paced_fetch(self._frontier(spark), cfg).collect()
        assert len(out) == 23
        by_host: dict[str, list] = {}
        for r in sorted(out, key=lambda r: (r.host, r.issue_order)):
            by_host.setdefault(r.host, []).append(r)
        for host, rows in by_host.items():
            # issue order == BFS (discovery_seq) order within the host
            seqs = [int(r.url_norm.rsplit("/", 1)[1]) for r in rows]
            assert seqs == sorted(seqs)
            for k, r in enumerate(rows):
                assert r.slot == k // 5
                assert abs(r.virtual_start - (k // 5) * 0.2) < 1e-9
            # concurrency cap: at most 5 URLs share a slot
            from collections import Counter
            assert max(Counter(r.slot for r in rows).values()) <= 5

    def test_fetch_fn_applied(self, spark):
        from secretscraper_spark.config import CrawlConfig
        from secretscraper_spark.plans.fetch_exec import paced_fetch

        cfg = CrawlConfig()
        out = paced_fetch(
            self._frontier(spark, n=6),
            cfg,
            fetch_fn=lambda u: "200" if u.endswith("/p/0") else "404",
        ).collect()
        got = {r.url_norm: r.status for r in out}
        assert got["http://h0.test/p/0"] == "200"
        assert all(v == "404" for k, v in got.items() if not k.endswith("/p/0"))


class TestBucketedBloom:
    def _dfs(self, spark):
        seen = spark.createDataFrame(
            [(f"http://h{i % 5}.test/p/{i}",) for i in range(0, 400, 2)],
            "url_norm string",
        )
        cands = spark.createDataFrame(
            [(f"http://h{i % 5}.test/p/{i}",) for i in range(400)],
            "url_norm string",
        )
        return seen, cands

    def test_exactness(self, spark):
        from secretscraper_spark.plans import bloom as bl

        seen, cands = self._dfs(spark)
        blooms = bl.build_bucketed_bloom(seen, n_buckets=8)
        assert blooms.count() <= 8
        got = {r.url_norm for r in
               bl.bucketed_bloom_anti_join(cands, seen, blooms, n_buckets=8).collect()}
        expected = {r.url_norm for r in cands.join(seen, "url_norm", "left_anti").collect()}
        assert got == expected  # sharded filter never changes the answer
        assert len(got) == 200  # the odd-numbered half

    def test_empty_seen(self, spark):
        from secretscraper_spark.plans import bloom as bl

        seen = spark.createDataFrame([], "url_norm string")
        cands = spark.createDataFrame([("http://a.test/x",)], "url_norm string")
        blooms = bl.build_bucketed_bloom(seen, n_buckets=8)
        out = bl.bucketed_bloom_anti_join(cands, seen, blooms, n_buckets=8).collect()
        assert len(out) == 1  # missing shard ⇒ definitely unseen

    def test_lazy_candidates_materialized_once(self, spark):
        """bucketed_bloom_anti_join consumes candidates twice (probe +
        anti-join); a lazy NON-DETERMINISTIC upstream would show the two
        consumptions different row sets, silently dropping/duplicating
        frontier rows (ADVICE round-3). rand()-gated candidates must stay
        internally consistent: output == exact anti-join of the SAME
        row set."""
        from pyspark.sql import functions as F

        from secretscraper_spark.plans import bloom as bl

        seen, cands = self._dfs(spark)
        nondet = cands.filter(F.rand(7) < 2.0)  # always true, but nondet-flagged
        blooms = bl.build_bucketed_bloom(seen, n_buckets=8)
        got = {r.url_norm for r in
               bl.bucketed_bloom_anti_join(nondet, seen, blooms, n_buckets=8).collect()}
        expected = {r.url_norm for r in
                    cands.join(seen, "url_norm", "left_anti").collect()}
        assert got == expected

    def test_udf_candidates_evaluated_once(self, spark):
        """A lazy candidate frame whose key comes from a Python UDF must
        run that UDF once per row through the anti-join — not once per
        consumption (ADVICE round-4: a deterministic UDF projection over
        a stable leaf used to pass through unmaterialized and run
        twice)."""
        from pyspark.sql import functions as F

        from secretscraper_spark.plans import bloom as bl

        seen, cands = self._dfs(spark)
        calls = spark.sparkContext.accumulator(0)

        @F.udf("string")
        def counted(u):
            calls.add(1)
            return u

        lazy = cands.select(counted("url_norm").alias("url_norm"))
        blooms = bl.build_bucketed_bloom(seen, n_buckets=8)
        got = {r.url_norm for r in
               bl.bucketed_bloom_anti_join(lazy, seen, blooms, n_buckets=8).collect()}
        assert len(got) == 200
        assert calls.value == cands.count()

    def test_probe_ships_keys_only(self, spark):
        """The Arrow cogroup probe must carry only (key, bucket, hash) —
        never the candidate payload columns. An earlier shape shipped
        every candidate column through the cogroup to tag rows in place,
        and the full-width round-trip dominated the sharded path at
        tier scale (BASELINE.md round-3 component table). Pin: the
        FlatMapCoGroupsInPandas node of the physical plan mentions no
        payload column."""
        from pyspark.sql import functions as F

        from secretscraper_spark.plans import bloom as bl

        seen, cands = self._dfs(spark)
        wide = cands.withColumn("payload_col", F.repeat(F.lit("x"), 10))
        out = bl.bucketed_bloom_anti_join(
            wide, seen, bl.build_bucketed_bloom(seen, n_buckets=8),
            n_buckets=8,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        probe_lines = [
            ln for ln in plan.splitlines()
            if "FlatMapCoGroupsInPandas" in ln
        ]
        assert probe_lines, plan
        assert all("payload_col" not in ln for ln in probe_lines), plan
        # and the payload still comes out the other side, via the
        # JVM anti-join of the untouched candidate rows
        assert "payload_col" in out.columns


class TestDistributedSeedFrontier:
    """seed_frontier's executor-side path must reproduce the driver path
    exactly — first-occurrence dedup, dense seqs over the scope-accepted
    seeds."""

    def test_paths_identical(self, spark):
        from secretscraper_spark.config import CrawlConfig
        from secretscraper_spark.plans.crawler import seed_frontier

        seeds = (
            [f"http://h{i % 3}.keep.test/p{i}" for i in range(40)]
            + ["http://h0.keep.test/p0"]            # duplicate
            + ["http://skip.other.test/x", "http://h1.keep.test/p1#f"]
        )
        cfg = CrawlConfig(white_list=["*.keep.test"])
        drv = seed_frontier(spark, seeds, cfg, distributed_threshold=10**9)
        dst = seed_frontier(spark, seeds, cfg, distributed_threshold=0)
        key = lambda r: (r.url_norm, r.depth, r.parent_norm, r.discovery_seq)
        a = sorted(key(r) for r in drv.collect())
        b = sorted(key(r) for r in dst.collect())
        assert a == b and a
        # seqs number only the accepted seeds (refsim parity): the
        # filtered-out seed leaves no gap
        seqs = sorted(r.discovery_seq for r in drv.collect())
        assert seqs == list(range(len(seqs)))


class TestShardedSeenExactnessAtScale:
    """Regression for the cogroup bucket-key type bug: candidate buckets
    were BIGINT (pmod of xxhash64) while shard buckets were INT, so the
    two cogroup sides hash-partitioned DIFFERENTLY and shards failed to
    pair with their candidates once real partitioning kicked in — massive
    false negatives (re-enqueued seen URLs) at 10^5+ rows while every
    small test passed via AQE coalescing everything into one partition.
    This test pins AQE off and enough rows that partition placement
    matters."""

    def _frames(self, spark, n=60000):
        from pyspark.sql import functions as F

        seen = spark.range(n).select(
            F.concat(F.lit("http://s.test/p"), F.col("id")).alias("url_norm")
        ).localCheckpoint()
        unseen = spark.range(n, n + 2000).select(
            F.concat(F.lit("http://s.test/p"), F.col("id")).alias("url_norm")
        )
        cand = seen.union(unseen).localCheckpoint()
        return seen, unseen, cand

    def test_bucketed_bloom_zero_false_negatives(self, spark):
        from secretscraper_spark.plans import bloom as bl

        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            seen, unseen, cand = self._frames(spark)
            half = seen.limit(30000).localCheckpoint()
            rest = seen.join(half, "url_norm", "left_anti").localCheckpoint()

            blooms = bl.update_bucketed_bloom(
                bl.build_bucketed_bloom(half, n_buckets=16).localCheckpoint(),
                rest, n_buckets=16,
            ).localCheckpoint()
            out_b = bl.bucketed_bloom_anti_join(cand, seen, blooms, n_buckets=16)
            assert out_b.count() == 2000
            assert out_b.join(seen, "url_norm", "inner").count() == 0
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)


class TestDistributedRank:
    """O1's two-phase rank: the forced-distributed plan (range partition +
    per-partition offsets + JVM monotonically_increasing_id arithmetic)
    must equal a single-window row_number for any partition count, start
    offset, and skewed key distribution."""

    @pytest.mark.parametrize("parts,start", [(1, 0), (5, 0), (13, 42)])
    def test_matches_window_rank(self, spark, parts, start):
        from pyspark.sql.window import Window

        from secretscraper_spark.plans.ranking import (
            assign_global_seq_with_count,
        )

        df = spark.range(0, 4001).select(
            ((F.col("id") * 2654435761) % 65537).alias("k"),
            F.col("id").alias("payload"),
        ).dropDuplicates(["k"])
        got, n = assign_global_seq_with_count(
            df, ["k"], seq_col="s", start=start,
            num_partitions=parts, small_input_rows=0,
        )
        ref = df.withColumn(
            "s",
            (F.row_number().over(Window.orderBy("k")) - 1 + F.lit(start))
            .cast("long"),
        )
        assert n == df.count()
        assert {(r.k, r.s) for r in got.collect()} == {
            (r.k, r.s) for r in ref.collect()
        }

    def test_empty_and_single_row(self, spark):
        from secretscraper_spark.plans.ranking import (
            assign_global_seq,
            assign_global_seq_with_count,
        )

        df = spark.createDataFrame([(7,)], "k long")
        empty, n0 = assign_global_seq_with_count(
            df.filter("k < 0"), ["k"], small_input_rows=0
        )
        assert empty.count() == 0 and n0 == 0
        one = assign_global_seq(df, ["k"], small_input_rows=0)
        assert one.collect()[0].discovery_seq == 0


def test_allocate_host_budget_largest_remainder(spark):
    """Hand case + property sweep vs a python Hamilton reference."""
    from secretscraper_spark.plans.politeness import allocate_host_budget

    df = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "host string, demand long"
    )
    got = {r.host: r.quota for r in allocate_host_budget(df, 7).collect()}
    # t=10: ideals 3.5/2.1/1.4 -> bases 3/2/1, one leftover goes to the
    # largest remainder (a: 35%10=5 beats c: 14%10=4)
    assert got == {"a": 4, "b": 2, "c": 1}

    def hamilton(d, budget):
        t = sum(d.values())
        if t <= budget:
            return dict(d)
        base = {h: (v * budget) // t for h, v in d.items()}
        rem = {h: (v * budget) % t for h, v in d.items()}
        left = budget - sum(base.values())
        for h in sorted(d, key=lambda h: (-rem[h], h))[:left]:
            base[h] += 1
        return base

    import random

    rng = random.Random(5)
    for trial in range(4):
        d = {f"h{i}": rng.randint(0, 40) for i in range(12)}
        budget = rng.randint(1, 80)
        sdf = spark.createDataFrame(
            list(d.items()), "host string, demand long"
        )
        got = {
            r.host: r.quota
            for r in allocate_host_budget(sdf, budget).collect()
        }
        exp = hamilton(d, budget)
        assert got == exp, (trial, d, budget)
        assert sum(got.values()) == min(budget, sum(d.values()))
        assert all(got[h] <= d[h] for h in d)


def test_allocate_host_budget_under_demand_passthrough(spark):
    from secretscraper_spark.plans.politeness import allocate_host_budget

    df = spark.createDataFrame([("a", 2), ("b", 1)], "host string, demand long")
    got = {r.host: r.quota for r in allocate_host_budget(df, 100).collect()}
    assert got == {"a": 2, "b": 1}


def test_politeness_audit_exact(spark):
    from datetime import datetime

    from secretscraper_spark.plans.politeness import politeness_audit

    def t(s, us=0):
        return datetime(2024, 1, 1, 0, 0, s, us)

    rows = [
        # h1: gaps 2s, 0.5s (violation at 1s budget), 1s (boundary: ok)
        ("h1", t(0)), ("h1", t(2)), ("h1", t(2, 500000)), ("h1", t(3, 500000)),
        # h2: single fetch -> NULL min gap, 0 violations
        ("h2", t(5)),
        # h3: tied timestamps -> gap 0 (violation) regardless of order
        ("h3", t(7)), ("h3", t(7)),
    ]
    df = spark.createDataFrame(rows, ["host", "ts"])
    got = {
        r["host"]: (r["n_fetches"], r["min_gap_us"], r["n_violations"])
        for r in politeness_audit(df, "host", "ts", 1.0).collect()
    }
    assert got["h1"] == (4, 500000, 1)   # 1.0s gap is NOT below the budget
    assert got["h2"] == (1, None, 0)
    assert got["h3"] == (2, 0, 1)
    # tie-invariance under repartition
    again = {
        r["host"]: (r["n_fetches"], r["min_gap_us"], r["n_violations"])
        for r in politeness_audit(df.repartition(5), "host", "ts", 1.0).collect()
    }
    assert again == got


class TestSyntheticFetch:
    """Catalyst twins of the sitegen page arithmetic (sitegen.url_expr/
    status_expr/content_type_expr/caption_expr) + the storage-free
    fetch_mode='mapped' + fold_outputs digest retention — the 10^9-leg
    machinery. Parity is bit-level against the Python generator."""

    def test_exprs_match_python_generator(self, spark):
        from pyspark.sql import functions as F

        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts, filler = 5000, 8, 300
        got = (
            spark.range(n_pages)
            .select(
                F.col("id").alias("i"),
                sg.url_expr(F.col("id"), n_hosts).alias("url"),
                sg.status_expr(F.col("id")).alias("status"),
                sg.content_type_expr(F.col("id")).alias("ctype"),
                sg.caption_expr(F.col("id"), n_pages, n_hosts, filler).alias(
                    "caption"
                ),
            )
            .collect()
        )
        assert len(got) == n_pages
        for r in got:
            i = r.i
            assert r.url == sg.url_for(i, n_hosts), i
            assert r.status == sg.status_for(i), i
            assert r.ctype == sg.content_type_for(i), i
            assert r.caption == sg.caption_for(i, n_pages, n_hosts, filler), i

    def test_seed_urls_spark_matches_url_for(self, spark):
        from secretscraper_spark.sources import sitegen as sg

        rows = sg.seed_urls_spark(spark, 1000, 11, n_hosts=8).collect()
        assert [r.ord for r in rows] == list(range(0, 1000, 11))
        for r in rows:
            assert r.url == sg.url_for(r.ord, 8)

    def test_mapped_fetch_crawl_bit_identical_to_join(self, spark):
        """fetch_mode='mapped' with the synthetic Catalyst site ≡
        fetch_mode='join' against the generated pages table: same seen
        set (with depth+seq), same edges, same secrets, same totals —
        including the miss semantics (/missing/, /rx/ links drop)."""
        from pyspark.sql import functions as F

        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts = 4000, 8
        pages = sg.generate_pages_spark(
            spark, n_pages, n_hosts=n_hosts
        ).localCheckpoint()
        cfg = CrawlConfig(max_depth=2)
        seeds = [sg.url_for(i, n_hosts) for i in range(0, n_pages, 37)]

        res_join = SparkCrawler(spark, pages, cfg).run(seeds)
        empty = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )
        res_map = SparkCrawler(
            spark, empty, cfg, fetch_mode="mapped",
            fetch_map_fn=sg.synthetic_fetch_map(n_pages, n_hosts),
        ).run(seeds)

        def sets(res):
            return (
                {(r.url_norm, r.depth, r.discovery_seq)
                 for r in res.seen.collect()},
                {(r.parent_norm, r.child_norm, r.kind)
                 for r in res.edges.collect()},
                {(r.url_norm, r.rule_name, r.match)
                 for r in res.secrets.collect()},
                {(r.url_norm, r.status) for r in res.nodes.collect()},
                res.total_page,
            )

        assert sets(res_join) == sets(res_map)
        assert res_map.total_page > 200  # the crawl actually ran

    def test_fold_outputs_digests_match_retained(self, spark):
        """fold_outputs=True: result frames are empty, but the per-run
        digest sums equal the crawl_job --checksum digests of a retained
        run's (deduped) tables bit-for-bit, and counts match."""
        from pyspark.sql import functions as F

        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts = 3000, 8
        cfg = CrawlConfig(max_depth=2)
        seeds = [sg.url_for(i, n_hosts) for i in range(0, n_pages, 41)]
        empty = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )

        def mk(fold):
            return SparkCrawler(
                spark, empty, cfg, fetch_mode="mapped",
                fetch_map_fn=sg.synthetic_fetch_map(n_pages, n_hosts),
                fold_outputs=fold,
            )

        retained = mk(False).run(seeds)
        folded = mk(True).run(seeds)

        def digest(df, cols):
            row = df.select(
                F.sum(
                    F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
                ).alias("d")
            ).collect()[0]
            return str(row["d"])

        assert folded.folded is not None
        f = folded.folded
        assert f["edges"]["digest"] == digest(
            retained.edges, ["parent_norm", "child_norm", "kind"]
        )
        assert f["secrets"]["digest"] == digest(
            retained.secrets, ["url_norm", "rule_name", "match"]
        )
        assert f["nodes"]["digest"] == digest(
            retained.nodes, ["url_norm", "status", "title", "content_length"]
        )
        assert f["edges"]["rows"] == retained.edges.count()
        assert f["secrets"]["rows"] == retained.secrets.count()
        assert f["nodes"]["rows"] == retained.nodes.count()
        assert folded.total_page == retained.total_page
        # frames really are empty in fold mode
        assert folded.edges.count() == 0 and folded.nodes.count() == 0
        # seen is retained in both modes
        assert digest(folded.seen, ["url_norm", "depth", "discovery_seq"]) == \
            digest(retained.seen, ["url_norm", "depth", "discovery_seq"])

    def test_tier_chunking_bit_identical(self, spark):
        """tier_chunk_rows (r4 verdict item 3 — the ≥5e7-row-tier heap
        mitigation): splitting every tier into seq-contiguous sub-tiers
        must reproduce the monolithic crawl BIT-FOR-BIT — same seen set
        WITH discovery_seq, same fold digests and counts, same
        total_page. The sitegen graph links pages across the whole id
        range, so children are shared between chunks (the min_parent_seq
        winner argument is genuinely exercised), and chunk_rows=500 on
        1395-row tiers forces 3-way splits."""
        from pyspark.sql import functions as F

        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts = 4000, 8
        cfg = CrawlConfig(max_depth=2)
        seeds = [sg.url_for(i, n_hosts) for i in range(0, n_pages, 37)]
        empty = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )

        def mk(chunk):
            return SparkCrawler(
                spark, empty, cfg, fetch_mode="mapped",
                fetch_map_fn=sg.synthetic_fetch_map(n_pages, n_hosts),
                fold_outputs=True, tier_chunk_rows=chunk,
            )

        mono = mk(None).run(seeds)
        chunked = mk(500).run(seeds)

        def digest(df, cols):
            row = df.select(
                F.sum(
                    F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
                ).alias("d")
            ).collect()[0]
            return str(row["d"])

        seen_cols = ["url_norm", "depth", "discovery_seq"]
        assert digest(chunked.seen, seen_cols) == digest(mono.seen, seen_cols)
        assert chunked.seen.count() == mono.seen.count()
        assert chunked.total_page == mono.total_page
        for name in ("nodes", "secrets", "edges"):
            assert chunked.folded[name] == mono.folded[name], name
        # the split actually happened: more tier records, chunk-tagged
        assert len(chunked.tiers) > len(mono.tiers)
        assert any("chunk" in t for t in chunked.tiers)

    def test_tier_chunking_gapped_seed_frontier(self, spark):
        """A prebuilt frontier's out-of-scope rows are filtered after its
        discovery_seq was assigned, which leaves a gap in the seq range.
        Chunks are sized from the seq span, so a gap can only thin a
        chunk — every chunk stays within tier_chunk_rows — and the
        digests still equal the monolithic run's. Enqueue numbering
        continues from max(discovery_seq) + 1, so no child reuses a
        frontier row's seq (continuing from the row count did)."""
        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts, rows = 2000, 8, 100
        # seqs 0-199 in scope, 200-299 out of scope, 300-399 in scope
        urls = [
            sg.url_for(5 * i, n_hosts) if not 200 <= i < 300
            else f"http://elsewhere.example/p/{i}"
            for i in range(400)
        ]
        frontier = spark.createDataFrame(
            [
                (u, "http", u.split("/")[2], "/" + u.split("/", 3)[3],
                 "", "", "", 0, None, i)
                for i, u in enumerate(urls)
            ],
            FRONTIER_SCHEMA,
        )
        cfg = CrawlConfig(max_depth=1, max_page_num=300, white_list=["*.test"])
        empty = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )

        def mk(chunk):
            return SparkCrawler(
                spark, empty, cfg, fetch_mode="mapped",
                fetch_map_fn=sg.synthetic_fetch_map(n_pages, n_hosts),
                fold_outputs=True, tier_chunk_rows=chunk,
            )

        mono = mk(None).run_from_frontier(frontier)
        chunked = mk(rows).run_from_frontier(frontier)

        seen_cols = ["url_norm", "depth", "discovery_seq"]
        chunks = [t for t in chunked.tiers if "chunk" in t]
        assert len(chunks) > 1
        assert all(t["processed"] <= rows for t in chunks), chunks
        assert _digest(chunked.seen, seen_cols) == _digest(mono.seen, seen_cols)
        assert chunked.folded == mono.folded
        assert chunked.total_page == mono.total_page == 300
        n_seen = mono.seen.count()
        assert mono.seen.select("discovery_seq").distinct().count() == n_seen
        assert n_seen > 300  # the tier enqueued children

    def _failing_host_crawler(self, spark, n_pages, n_hosts, cfg, **kw):
        """Mapped-fetch crawler over the synthetic site with every page
        of site3.test missing: its fetches all fail, so the quarantine
        breaker trips and AIMD backs the host off."""
        from secretscraper_spark.sources import sitegen as sg

        site = sg.synthetic_fetch_map(n_pages, n_hosts)
        empty = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )
        return SparkCrawler(
            spark, empty, cfg, fetch_mode="mapped",
            fetch_map_fn=lambda df: site(df).filter(
                ~F.col("url_norm").contains("//site3.test/")
            ),
            fold_outputs=True, **kw,
        )

    def test_tier_chunking_state_folds_parity(self, spark):
        """Quarantine, AIMD and the trap gate fold tier-grained data at
        any chunk size: chunked ≡ monolithic in seen (with seq), fold
        digests, total_page, and the final breaker and delay state. The
        default 1000-page budget cuts the last tier, so the budget cut
        runs under chunking too."""
        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts = 4000, 8
        cfg = CrawlConfig(max_depth=3)
        seeds = [sg.url_for(i, n_hosts) for i in range(0, n_pages, 37)]

        def run(chunk):
            return self._failing_host_crawler(
                spark, n_pages, n_hosts, cfg, tier_chunk_rows=chunk,
                quarantine_fails=2, adaptive_delay=True,
                trap_cap=150, trap_prefix_depth=1,
            ).run(seeds)

        mono, chunked = run(None), run(150)
        seen_cols = ["url_norm", "depth", "discovery_seq"]
        assert _digest(chunked.seen, seen_cols) == _digest(mono.seen, seen_cols)
        assert chunked.folded == mono.folded
        assert chunked.total_page == mono.total_page
        fails = {tuple(r) for r in mono.host_fails.collect()}
        delays = {tuple(r) for r in mono.host_delays.collect()}
        assert {tuple(r) for r in chunked.host_fails.collect()} == fails
        assert {tuple(r) for r in chunked.host_delays.collect()} == delays
        # both folds fired on the failing host, and the split happened
        assert "site3.test" in {h for h, _, qat in fails if qat is not None}
        assert dict(delays)["site3.test"] > cfg.min_request_interval
        assert any("chunk" in t for t in chunked.tiers)
        # the trap gate bit: the uncapped crawl enqueues more
        uncapped = self._failing_host_crawler(
            spark, n_pages, n_hosts, cfg, quarantine_fails=2,
            adaptive_delay=True,
        ).run(seeds)
        assert uncapped.seen.count() > mono.seen.count()

    def test_tier_chunking_host_proportional_budget_parity(self, spark):
        """The host-proportional budget cut runs once per tier, so a
        chunked run under a page budget fetches the same pages as the
        unchunked run."""
        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts = 3000, 8
        cfg = CrawlConfig(max_depth=0, max_page_num=900)
        seeds = [sg.url_for(i, n_hosts) for i in range(0, n_pages, 3)]

        def run(chunk):
            return self._failing_host_crawler(
                spark, n_pages, n_hosts, cfg, tier_chunk_rows=chunk,
                budget_mode="host-proportional",
            ).run(seeds)

        mono, chunked = run(None), run(200)
        seen_cols = ["url_norm", "depth", "discovery_seq"]
        assert _digest(chunked.seen, seen_cols) == _digest(mono.seen, seen_cols)
        assert chunked.folded == mono.folded
        assert chunked.total_page == mono.total_page == 900
        assert any("chunk" in t for t in chunked.tiers)

    def test_tier_chunking_resume_parity(self, spark, tmp_path):
        """Chunked tiers × checkpoint-resume: snapshots land once per
        BFS tier (after ALL its chunks), with the frontier being the
        union of the chunks' children — resuming a chunked fold run
        from round 0 must reproduce the uninterrupted chunked run's
        fold digests, counts, and seen digest bit-for-bit."""
        from pyspark.sql import functions as F

        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts = 3000, 8
        cfg = CrawlConfig(max_depth=2)
        seeds = [sg.url_for(i, n_hosts) for i in range(0, n_pages, 41)]
        empty = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )

        def mk(ck=None):
            return SparkCrawler(
                spark, empty, cfg, fetch_mode="mapped",
                fetch_map_fn=sg.synthetic_fetch_map(n_pages, n_hosts),
                fold_outputs=True, tier_chunk_rows=400, checkpoint_dir=ck,
            )

        def digest(df):
            row = df.select(
                F.sum(
                    F.xxhash64("url_norm", "depth", "discovery_seq")
                    .cast("decimal(38,0)")
                ).alias("d")
            ).collect()[0]
            return str(row["d"])

        ck = str(tmp_path / "ck_chunked")
        full = mk(ck).run(seeds)
        assert any("chunk" in t for t in full.tiers)  # chunking engaged
        # materialize the uninterrupted run's evidence BEFORE resuming:
        # resume() re-writes the round snapshots full.seen lazily reads
        full_folded, full_total = full.folded, full.total_page
        full_seen_digest = digest(full.seen)
        resumed = mk(ck).resume(from_round=0)
        assert resumed.folded == full_folded
        assert resumed.total_page == full_total
        assert digest(resumed.seen) == full_seen_digest

    def test_tier_chunking_state_folds_resume_parity(self, spark, tmp_path):
        """A chunked quarantine + AIMD run resumed from round 0 matches
        the uninterrupted run, breaker and delay state included."""
        from secretscraper_spark.sources import sitegen as sg

        n_pages, n_hosts = 3000, 8
        cfg = CrawlConfig(max_depth=2)
        seeds = [sg.url_for(i, n_hosts) for i in range(0, n_pages, 41)]
        ck = str(tmp_path / "ck_folds")

        def mk():
            return self._failing_host_crawler(
                spark, n_pages, n_hosts, cfg, tier_chunk_rows=400,
                quarantine_fails=1, adaptive_delay=True, checkpoint_dir=ck,
            )

        def state(res):
            return (
                res.folded, res.total_page,
                _digest(res.seen, ["url_norm", "depth", "discovery_seq"]),
                {tuple(r) for r in res.host_fails.collect()},
                {tuple(r) for r in res.host_delays.collect()},
            )

        # materialize the uninterrupted run's evidence before resuming:
        # resume() re-writes the round snapshots full.seen lazily reads
        full = mk().run(seeds)
        assert any("chunk" in t for t in full.tiers)
        want = state(full)
        assert want[3]  # the breaker tripped
        assert state(mk().resume(from_round=0)) == want

    def test_fold_digest_collision_parity(self, spark):
        """ADVICE round-4: the fold's edge digest must stay bit-equal to
        the retained path's dropDuplicates even when two DISTINCT child
        6-tuples unparse to the SAME url_norm — ('http','h','/a','b','','')
        and ('http','h','/a;b','','','') both serialize to http://h/a;b,
        so in-page 6-tuple dedup keeps both while the retained edges
        table collapses them. Feeds a hand-built combined frame with the
        collision straight into _fold_tier and compares against the
        retained projections' digests computed from the SHARED recipes
        in plans/extraction.py."""
        from pyspark.sql import types as T

        from secretscraper_spark.plans import extraction as expl
        from secretscraper_spark.schemas import CHILD_STRUCT, SECRET_STRUCT

        combined_schema = T.StructType(
            [
                T.StructField("url_norm", T.StringType()),
                T.StructField("scheme", T.StringType()),
                T.StructField("netloc", T.StringType()),
                T.StructField("path", T.StringType()),
                T.StructField("params", T.StringType()),
                T.StructField("query", T.StringType()),
                T.StructField("fragment", T.StringType()),
                T.StructField("depth", T.IntegerType()),
                T.StructField("discovery_seq", T.LongType()),
                T.StructField("status", T.StringType()),
                T.StructField("content_type", T.StringType()),
                T.StructField("content_length", T.LongType()),
                T.StructField(
                    "ex",
                    T.StructType(
                        [
                            T.StructField(
                                "children", T.ArrayType(CHILD_STRUCT)
                            ),
                            T.StructField(
                                "secrets", T.ArrayType(SECRET_STRUCT)
                            ),
                            T.StructField("title", T.StringType()),
                        ]
                    ),
                ),
            ]
        )
        # the colliding pair + one js child + one ordinary child
        collide_a = {
            "url_norm": "http://h/a;b", "scheme": "http", "netloc": "h",
            "path": "/a", "params": "b", "query": "", "fragment": "",
        }
        collide_b = {
            "url_norm": "http://h/a;b", "scheme": "http", "netloc": "h",
            "path": "/a;b", "params": "", "query": "", "fragment": "",
        }
        js_kid = {
            "url_norm": "http://h/x.js", "scheme": "http", "netloc": "h",
            "path": "/x.js", "params": "", "query": "", "fragment": "",
        }
        plain = {
            "url_norm": "http://h/p2", "scheme": "http", "netloc": "h",
            "path": "/p2", "params": "", "query": "", "fragment": "",
        }
        rows = [
            (
                "http://h/", "http", "h", "/", "", "", "", 0, 0,
                "200", "text/html", 10,
                {
                    "children": [collide_a, collide_b, js_kid, plain],
                    "secrets": [{"rule_name": "r1", "match": "tok-1"}],
                    "title": "root",
                },
            ),
            (
                "http://h/p2", "http", "h", "/p2", "", "", "", 1, 1,
                "200", "text/html", 20,
                {
                    "children": [],
                    "secrets": [
                        {"rule_name": "r1", "match": "tok-1"},
                        {"rule_name": "r2", "match": "tok-2"},
                    ],
                    "title": "p2",
                },
            ),
        ]
        combined = spark.createDataFrame(rows, combined_schema)

        def digest(df, cols):
            row = df.select(
                F.sum(
                    F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
                ).alias("d")
            ).collect()[0]
            return int(row["d"] or 0)

        empty = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )
        fold = SparkCrawler(spark, empty)._fold_tier(combined)

        edges = expl.edges_of(expl.children_of(combined)).dropDuplicates(
            list(expl.EDGE_DIGEST_COLS)
        )
        assert fold["edges"]["digest"] == digest(
            edges, list(expl.EDGE_DIGEST_COLS)
        )
        assert fold["edges"]["rows"] == edges.count() == 3  # collision merged
        secrets = expl.secrets_of(combined).dropDuplicates(
            list(expl.SECRET_DIGEST_COLS)
        )
        assert fold["secrets"]["digest"] == digest(
            secrets, list(expl.SECRET_DIGEST_COLS)
        )
        assert fold["secrets"]["rows"] == secrets.count() == 3
        assert fold["nodes"]["digest"] == digest(
            expl.nodes_of(combined), list(expl.NODE_DIGEST_COLS)
        )
        assert fold["nodes"]["rows"] == 2


def test_adapt_crawl_delay_aimd(spark):
    """AIMD decisions against hand-computed per-host stats: backoff on
    error rate, backoff on p95 latency, recover when healthy, hold when
    a known host saw no fetches, default start for new hosts; bounds
    clamp at both ends."""
    from secretscraper_spark.plans.politeness import adapt_crawl_delay

    rows = []
    # h-err: 2/10 errors (err_rate .2 > .1), fast
    rows += [("h-err", 100.0, i >= 2) for i in range(10)]
    # h-slow: no errors; 6 latencies [0,500,1000,1500,9000,9100] ->
    # type-1 p95 rank floor(.95*5)=4 -> 9000 > 2000 cap -> backoff
    rows += [("h-slow", 500.0 * i, True) for i in range(4)] + [
        ("h-slow", 9000.0, True),
        ("h-slow", 9100.0, True),
    ]
    # h-ok: healthy and fast
    rows += [("h-ok", 50.0, True) for _ in range(5)]
    # h-new: first sighting, healthy
    rows += [("h-new", 10.0, True) for _ in range(3)]
    # h-floor: healthy, prev at the floor already
    rows += [("h-floor", 10.0, True)]
    # h-ceil: erroring, prev near the cap
    rows += [("h-ceil", 10.0, False)]
    stats = spark.createDataFrame(
        rows, "host string, latency_ms double, ok boolean"
    )
    prev = spark.createDataFrame(
        [
            ("h-err", 0.4),
            ("h-slow", 0.2),
            ("h-ok", 0.3),
            ("h-floor", 0.05),
            ("h-ceil", 6.0),
            ("h-gone", 1.25),
        ],
        "host string, crawl_delay double",
    )
    got = {
        r.host: (r.crawl_delay, r.decision, r.n_fetches)
        for r in adapt_crawl_delay(stats, prev).collect()
    }
    assert got["h-err"] == (0.8, "backoff", 10)
    assert got["h-slow"] == (0.4, "backoff", 6)
    assert got["h-ok"] == (0.25, "recover", 5)
    assert got["h-new"] == (0.15, "recover", 3)      # default 0.2 - 0.05
    assert got["h-floor"] == (0.05, "recover", 1)    # clamped at min
    assert got["h-ceil"] == (8.0, "backoff", 1)      # clamped at max
    assert got["h-gone"] == (1.25, "hold", 0)


def test_crawler_adaptive_delay_mode(spark, tmp_path):
    """SparkCrawler(adaptive_delay=True): per-host delays evolve by the
    AIMD rule across tiers (erroring host backs off x2 per tier, healthy
    host recovers), crawl OUTPUTS are bit-identical to the non-adaptive
    run (scheduling-only effect), and the state is checkpoint-resumable."""
    pages = spark.createDataFrame(
        [
            ("http://a.test/p/0", "503", "text/html", 40,
             '<a href="/p/1">x</a>'),
            ("http://a.test/p/1", "503", "text/html", 10, "leaf"),
            ("http://b.test/p/0", "200", "text/html", 40,
             '<a href="/p/1">x</a>'),
            ("http://b.test/p/1", "200", "text/html", 10, "leaf"),
        ],
        "url_norm string, status string, content_type string, "
        "content_length long, caption string",
    )
    seeds = ["http://a.test/p/0", "http://b.test/p/0"]
    cfg = CrawlConfig(max_depth=1)

    def key_sets(res):
        return (
            {(r.url_norm, r.depth, r.discovery_seq) for r in res.seen.collect()},
            {(r.parent_norm, r.child_norm, r.kind) for r in res.edges.collect()},
            {(r.url_norm, r.status) for r in res.nodes.collect()},
            res.total_page,
        )

    plain_sets = key_sets(SparkCrawler(spark, pages, cfg).run(seeds))
    ck = str(tmp_path / "adaptive_ck")
    adaptive = SparkCrawler(
        spark, pages, cfg, adaptive_delay=True, checkpoint_dir=ck
    ).run(seeds)
    # collect everything BEFORE resuming: resume re-commits round
    # snapshots over the parquet these DataFrames lazily point at
    adaptive_sets = key_sets(adaptive)
    delays = {r.host: r.crawl_delay for r in adaptive.host_delays.collect()}
    assert plain_sets == adaptive_sets
    # two tiers fetched per host: a.test (503) backs off 0.2->0.4->0.8;
    # b.test (200) recovers 0.2->0.15->0.1
    assert delays == {"a.test": 0.8, "b.test": 0.1}

    # resume from round 0 reproduces the run, including the delay state
    resumed = SparkCrawler(
        spark, pages, cfg, adaptive_delay=True, checkpoint_dir=ck
    ).resume(from_round=0)
    assert key_sets(resumed) == adaptive_sets
    rdelays = {r.host: r.crawl_delay for r in resumed.host_delays.collect()}
    assert rdelays == delays


def test_failure_skew_host_cannot_stall_tier(spark):
    """Politeness under failure skew (round-3 verdict item 6): one
    pathological host (90% of its fetches time out) must not stall the
    tier — the per-host slot schedule bounds the tier's politeness
    makespan to the WORST host's OWN serial budget (ceil(k/C)·interval),
    never the tier row count, and healthy hosts' schedules are
    bit-identical with or without the pathological host present."""
    from secretscraper_spark.plans.politeness import (
        assign_fetch_schedule,
        tier_makespan,
    )

    cfg = CrawlConfig(max_concurrent_per_domain=5, min_request_interval=0.2)
    healthy = [
        (f"http://h{j}.test/p/{i}", f"h{j}.test", f"/p/{i}", j * 100 + i)
        for j in range(8)
        for i in range(10)
    ]
    bad = [
        (f"http://bad.test/p/{i}", "bad.test", f"/p/{i}", 1000 + i)
        for i in range(90)
    ]
    sched_mixed = assign_fetch_schedule(
        make_frontier(spark, healthy + bad), cfg
    )
    sched_healthy = assign_fetch_schedule(make_frontier(spark, healthy), cfg)
    # (a) independence: each healthy host's (slot, virtual_start) per URL
    # is unchanged by the pathological host's presence
    key = lambda rows: {
        r.url_norm: (r.slot, r.virtual_start)
        for r in rows
        if r.host != "bad.test"
    }
    assert key(sched_mixed.collect()) == key(sched_healthy.collect())
    # (b) tier makespan = bad host's own budget: ceil(90/5)=18 slots ×
    # 0.2 s = 3.6 s — NOT 170 rows × 0.2 s = 34 s
    assert tier_makespan(sched_mixed, cfg) == pytest.approx(3.6)
    assert tier_makespan(sched_healthy, cfg) == pytest.approx(0.4)


def test_failure_skew_aimd_trajectory(spark):
    """AIMD trajectory under sustained 90%-timeout skew: the failing
    host backs off multiplicatively to the cap tier over tier, healthy
    hosts recover to the floor, and when the pathological host heals the
    recovery is ADDITIVE (one step per tier) — the asymmetric
    congestion-control shape that protects a recovering server."""
    from secretscraper_spark.plans.politeness import adapt_crawl_delay

    def tier_stats(bad_failing: bool):
        rows = [
            ("bad.test", 5000.0 if bad_failing else 30.0, not bad_failing or i >= 9)
            for i in range(10)
        ]
        rows += [("ok.test", 30.0, True) for _ in range(10)]
        return spark.createDataFrame(
            rows, "host string, latency_ms double, ok boolean"
        )

    delays = spark.createDataFrame(
        [("bad.test", 0.2), ("ok.test", 0.2)],
        "host string, crawl_delay double",
    )
    bad_path, ok_path = [], []
    for _ in range(7):
        delays = adapt_crawl_delay(tier_stats(True), delays).select(
            "host", "crawl_delay"
        ).localCheckpoint()
        d = {r.host: r.crawl_delay for r in delays.collect()}
        bad_path.append(d["bad.test"])
        ok_path.append(d["ok.test"])
    # multiplicative ×2 per tier, clamped at the 8 s cap
    assert bad_path == [0.4, 0.8, 1.6, 3.2, 6.4, 8.0, 8.0]
    # healthy host walks down 0.05/tier to the 0.05 floor
    assert ok_path == [0.15, 0.1, 0.05, 0.05, 0.05, 0.05, 0.05]
    # heal the host: additive recovery, one small step per tier
    for _ in range(2):
        delays = adapt_crawl_delay(tier_stats(False), delays).select(
            "host", "crawl_delay"
        ).localCheckpoint()
        bad_path.append(
            {r.host: r.crawl_delay for r in delays.collect()}["bad.test"]
        )
    assert bad_path[-2:] == [7.95, 7.9]


def test_failure_skew_paced_crawl_end_to_end(spark):
    """End-to-end paced crawl with a 90%-failing host: the crawl
    completes every tier, the healthy host's whole chain is still
    discovered and fetched, per-tier politeness makespan stays at the
    slot-schedule bound, and AIMD backs off only the failing host."""
    site = {}
    for k in range(4):
        links = "".join(
            f'<a href="http://bad.test/q/{k}_{i}">b</a>' for i in range(10)
        )
        if k < 3:
            links += f'<a href="http://good.test/p/{k + 1}">n</a>'
        site[f"http://good.test/p/{k}"] = {
            "status": "200", "content_type": "text/html",
            "content_length": 100, "caption": links,
        }
        # 1 of each tier's 10 bad URLs actually resolves; 9 time out
        site[f"http://bad.test/q/{k}_0"] = {
            "status": "200", "content_type": "text/html",
            "content_length": 10, "caption": "leaf",
        }

    pages = spark.createDataFrame(
        [], "url_norm string, status string, content_type string, "
        "content_length long, caption string",
    )
    cfg = CrawlConfig(max_depth=3, max_concurrent_per_domain=5,
                      min_request_interval=0.2)
    crawler = SparkCrawler(
        spark, pages, cfg, fetch_mode="paced",
        page_fetch_fn=site.get, adaptive_delay=True,
    )
    res = crawler.run(["http://good.test/p/0"])
    # healthy chain fully crawled despite the failing host
    fetched = {r.url_norm for r in res.nodes.filter("status = '200'").collect()}
    assert {f"http://good.test/p/{k}" for k in range(4)} <= fetched
    # tiers 1..3 carry 10 bad.test + 1 good.test row each: makespan =
    # bad's OWN ceil(10/5)=2 slots × its ADAPTED interval (0.2 at tier 1,
    # then ×2 per failing tier) — the deliberate politeness cost of
    # backing off a failing host, still never the tier row count
    # (11 rows × interval would read 2.2/4.4/8.8)
    got_makespans = [t["politeness_makespan_sec"] for t in res.tiers[1:]]
    assert got_makespans == pytest.approx([0.4, 0.8, 1.6])
    # AIMD: bad.test backed off (0.2→0.4→0.8→1.6 across 3 failing
    # tiers), good.test recovered to the floor
    delays = {r.host: r.crawl_delay for r in res.host_delays.collect()}
    assert delays["bad.test"] == pytest.approx(1.6)
    assert delays["good.test"] == pytest.approx(0.05)


def test_adaptive_delay_uses_measured_latency_in_paced_mode(spark):
    """The paced executor measures each fetch call's wall-clock latency;
    with adaptive_delay on, a host whose fetches exceed the p95 cap backs
    off even when every fetch SUCCEEDS — the latency arm is live in
    real-fetch mode (join mode carries no latencies and stays inert)."""
    import time as _t

    site = {
        "http://slow.test/p/0": {"status": "200", "content_type": "text/html",
                                 "content_length": 4, "caption": "leaf"},
        "http://fast.test/p/0": {"status": "200", "content_type": "text/html",
                                 "content_length": 4, "caption": "leaf"},
    }

    def fetch(url):
        if url.startswith("http://slow.test/"):
            _t.sleep(2.1)  # > the 2000 ms p95 cap
        return site.get(url)

    pages = spark.createDataFrame(
        [(u, p["status"], p["content_type"], p["content_length"],
          p["caption"]) for u, p in site.items()],
        "url_norm string, status string, content_type string, "
        "content_length long, caption string",
    )
    res = SparkCrawler(
        spark, pages, CrawlConfig(max_depth=0),
        fetch_mode="paced", page_fetch_fn=fetch, adaptive_delay=True,
    ).run(list(site))
    assert res.total_page == 2
    delays = {r.host: r.crawl_delay for r in res.host_delays.collect()}
    assert delays["slow.test"] == 0.4   # latency backoff despite 200s
    assert delays["fast.test"] == 0.15  # healthy recover


def test_adaptive_delay_failed_fetch_latency_counts(spark):
    """Paced-mode FAILED fetches carry their MEASURED wall-clock latency
    into the AIMD fold, not 0.0: a host whose only failures are slow
    timeouts but whose err_rate stays <= the threshold must still back
    off on the p95 arm (latency 0.0 for the error arm would read the
    host as healthy and recover instead)."""
    import time as _t

    # 19 fast successes + 2 slow timeouts: err_rate 2/21 <= 0.1 (the err
    # arm stays quiet) and the type-1 p95 rank floor(.95*20)=19 lands on
    # a timeout — ONLY the measured failure latency can trip the backoff
    n_ok, n_slow = 19, 2
    site = {
        f"http://mixed.test/p/{i}": {
            "status": "200", "content_type": "text/html",
            "content_length": 4, "caption": "leaf",
        }
        for i in range(n_ok)
    }
    slow_urls = {f"http://mixed.test/p/{n_ok + j}" for j in range(n_slow)}

    def fetch(url):
        if url in slow_urls:
            _t.sleep(2.1)  # slow timeout, then FAILS
            return None
        return site.get(url)

    pages = spark.createDataFrame(
        [(u, p["status"], p["content_type"], p["content_length"],
          p["caption"]) for u, p in site.items()],
        "url_norm string, status string, content_type string, "
        "content_length long, caption string",
    )
    res = SparkCrawler(
        spark, pages, CrawlConfig(max_depth=0),
        fetch_mode="paced", page_fetch_fn=fetch, adaptive_delay=True,
    ).run(list(site) + sorted(slow_urls))
    delays = {r.host: r.crawl_delay for r in res.host_delays.collect()}
    assert delays["mixed.test"] == 0.4


def test_paced_collect_cap(spark):
    """fetch_mode='paced' without a page_fetch_fn collects the pages
    table driver-side as a test convenience — over paced_collect_cap
    rows it must refuse instead of OOMing the driver."""
    pages = spark.range(11).selectExpr(
        "concat('http://cap.test/p/', id) AS url_norm",
        "'200' AS status", "'text/html' AS content_type",
        "CAST(10 AS LONG) AS content_length", "'leaf' AS caption",
    )
    with pytest.raises(ValueError, match="paced_collect_cap"):
        SparkCrawler(
            spark, pages, CrawlConfig(max_depth=1),
            fetch_mode="paced", paced_collect_cap=10,
        )


def test_adapted_delays_feed_schedule(spark):
    """adapt_crawl_delay's output IS a (host, crawl_delay) dim:
    assign_fetch_schedule consumes it through its robots/crawl-delay
    broadcast path, so adaptation composes with scheduling unchanged."""
    from secretscraper_spark.plans.politeness import (
        adapt_crawl_delay,
        assign_fetch_schedule,
    )

    stats = spark.createDataFrame(
        [("slow.test", 100.0, False)] * 5 + [("fast.test", 10.0, True)] * 5,
        "host string, latency_ms double, ok boolean",
    )
    prev = spark.createDataFrame(
        [("slow.test", 1.0), ("fast.test", 1.0)],
        "host string, crawl_delay double",
    )
    adapted = adapt_crawl_delay(stats, prev)
    frontier = make_frontier(
        spark,
        [
            (f"http://{h}/p/{i}", h, f"/p/{i}", i)
            for h in ("slow.test", "fast.test")
            for i in range(12)
        ],
    )
    sched = assign_fetch_schedule(frontier, CrawlConfig(), robots=adapted)
    ivals = {
        r.host: r.interval for r in sched.select("host", "interval").distinct().collect()
    }
    assert ivals["slow.test"] == 2.0    # backoff: 1.0 * 2
    assert ivals["fast.test"] == 0.95   # recover: 1.0 - 0.05


def test_robots_compliance_audit(spark):
    """Counts violations per host against the Disallow dim; compliant and
    robots-less hosts report zero."""
    from secretscraper_spark.plans.politeness import robots_compliance
    from secretscraper_spark.schemas import ROBOTS_SCHEMA

    fetched = spark.createDataFrame(
        [
            ("a.test", "/ok/1"), ("a.test", "/private/x"),
            ("a.test", "/private/y"), ("b.test", "/private/z"),
            ("c.test", "/anything"),
        ],
        "netloc string, path string",
    )
    robots = spark.createDataFrame(
        [("a.test", "/private", None), ("b.test", "/other", None)],
        ROBOTS_SCHEMA,
    )
    got = {
        r.host: (r.n_fetched, r.n_violations)
        for r in robots_compliance(fetched, robots).collect()
    }
    assert got == {
        "a.test": (3, 2),
        "b.test": (1, 0),   # prefix doesn't match
        "c.test": (1, 0),   # no robots entry
    }


def test_tier_makespan_uses_effective_interval(spark):
    from secretscraper_spark.config import CrawlConfig
    from secretscraper_spark.plans.politeness import (
        assign_fetch_schedule,
        tier_makespan,
    )

    cfg = CrawlConfig()  # min_request_interval 0.2, 5 concurrent
    rows = [(f"http://b.test/{i}", "b.test", f"/{i}", i) for i in range(15)]
    f = spark.createDataFrame(
        rows, "url_norm string, netloc string, path string, discovery_seq long"
    )
    robots = spark.createDataFrame(
        [("b.test", None, 1.0)],
        "host string, disallow_prefix string, crawl_delay double",
    )
    sched = assign_fetch_schedule(f, cfg, robots)
    # 15 urls / 5 per slot = 3 slots at the 1.0s crawl-delay override:
    # drain = 3 * 1.0, NOT max virtual_start + the global 0.2 minimum
    assert tier_makespan(sched, cfg) == pytest.approx(3.0)


def test_tier_makespan_prunes_window_sort(spark, monkeypatch):
    """The makespan reads only (host, interval) of the schedule, so the
    optimizer drops assign_fetch_schedule's per-host window sort: one
    groupBy count per tier instead of a window over every row."""
    cfg = CrawlConfig(max_concurrent_per_domain=3)
    rows = [(f"http://h{i % 4}.test/{i}", f"h{i % 4}.test", f"/{i}", i) for i in range(30)]
    sched = assign_fetch_schedule(make_frontier(spark, rows), cfg)
    assert "Window" in sched._jdf.queryExecution().optimizedPlan().toString()
    queried = []
    frame_cls = type(sched)
    first = frame_cls.first
    monkeypatch.setattr(
        frame_cls, "first", lambda self: queried.append(self) or first(self)
    )
    # h0, h1 hold 8 rows and h2, h3 hold 7: 3 slots of 0.2 s each
    assert tier_makespan(sched, cfg) == pytest.approx(0.6)
    (makespan_query,) = queried
    plan = makespan_query._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan


def test_allocate_host_budget_schema_is_volume_independent(spark):
    from secretscraper_spark.plans.politeness import allocate_host_budget

    df = spark.createDataFrame(
        [("a", 3), ("b", 2)], "domain string, need int"
    )
    under = allocate_host_budget(df, 100, host_col="domain", demand_col="need")
    over = allocate_host_budget(df, 4, host_col="domain", demand_col="need")
    # the under-budget early return must project the SAME schema as the
    # rationing branch — not leak the caller's column names
    assert under.columns == over.columns == ["host", "demand", "quota"]
    assert {r.host: r.quota for r in under.collect()} == {"a": 3, "b": 2}
