"""The benchmark's own checks: tracing changes no crawl output, every job a
traced crawl launches belongs to exactly one layer, and the oracle's
filler-free site gives the same answer as the full one."""

from __future__ import annotations

import pytest

from crawlbench import layertrace, workloads
from secretscraper_spark import refsim
from secretscraper_spark.config import CrawlConfig
from secretscraper_spark.sources import sitegen


class TinyDeep(workloads.DeepCkpt):
    n_pages = 400
    budget = 60


class TinySaturated(workloads.SaturatedChunked):
    n_pages = 300
    filler_bytes = 512
    chunk_rows = 120


@pytest.mark.parametrize("cls", [TinyDeep, TinySaturated])
def test_tracing_is_pass_through(spark, tmp_path, cls):
    wl = cls(seed=3, cores=2, workdir=str(tmp_path))
    inputs = wl.materialize(spark)
    oracle = wl.oracle(spark)
    plain = wl.run_op(spark, inputs, oracle)
    tracer = layertrace.LayerTracer(spark)
    with tracer.installed():
        traced = wl.run_op(spark, inputs, oracle, traced=tracer)
    assert plain["problems"] == [] and traced["problems"] == []
    assert traced["digests"] == plain["digests"]
    assert traced["pages"] == plain["pages"] > 0
    assert traced["tiers"] == [
        {**t, "phase_sec": traced["tiers"][i]["phase_sec"]} for i, t in enumerate(plain["tiers"])
    ]


@pytest.mark.parametrize("cls", [TinyDeep, TinySaturated])
def test_every_job_is_attributed_to_one_layer(spark, tmp_path, cls):
    wl = cls(seed=5, cores=2, workdir=str(tmp_path))
    inputs = wl.materialize(spark)
    tracer = layertrace.LayerTracer(spark)
    with tracer.installed():
        rec = wl.run_op(spark, inputs, wl.oracle(spark), traced=tracer)
    report = rec["trace"]
    assert report["jobs"] > 0
    assert report["unattributed_jobs"] == []
    assert report["layers"][layertrace.ROOT]["jobs"] == 0
    assert sum(v["jobs"] for v in report["layers"].values()) == report["jobs"]
    assert report["coverage"] >= 0.9
    crawl = report["layers"]
    for layer in ("crawler", "politeness", "extraction", "enqueue"):
        assert crawl[layer]["jobs"] > 0, layer
    assert crawl["extraction"]["udf_rows"] > 0
    if cls is TinyDeep:
        assert crawl["checkpoint.write"]["jobs"] > 0
        assert crawl["checkpoint.lineage"]["jobs"] > 0
        assert crawl["checkpoint.read"]["calls"] == 1
    else:
        assert crawl["fold"]["jobs"] > 0


def test_installed_restores_the_crawler_names():
    before = [owner.__dict__[name] for owner, name, _, _ in layertrace.WRAPPED]
    tracer = layertrace.LayerTracer.__new__(layertrace.LayerTracer)
    with tracer.installed():
        assert all(
            owner.__dict__[name] is not fn
            for (owner, name, _, _), fn in zip(layertrace.WRAPPED, before)
        )
    assert [owner.__dict__[name] for owner, name, _, _ in layertrace.WRAPPED] == before


@pytest.mark.parametrize(
    "text, value",
    [
        ("46", 46.0),
        ("0 ms", 0.0),
        ("total (min, med, max (stageId: taskId))\n2.2 s (524 ms, 554 ms, 555 ms (stage 31.0: task 64))", 2.2),
        ("total (min, med, max (stageId: taskId))\n64.1 KiB (15.3 KiB, 16.7 KiB, 16.8 KiB (stage 3.0: task 6))", 64.1 * 1024),
        ("1.5 m", 90.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert layertrace.parse_sql_metric(text) == pytest.approx(value)


def test_oracle_site_without_filler_gives_the_same_crawl():
    n, filler = 300, 700
    full = {
        sitegen.url_for(i, workloads.N_HOSTS): {
            "caption": sitegen.caption_for(i, n, workloads.N_HOSTS, filler),
            "status": sitegen.status_for(i),
            "content_type": sitegen.content_type_for(i),
            "content_length": len(sitegen.caption_for(i, n, workloads.N_HOSTS, filler)),
        }
        for i in range(n)
    }
    seeds = [sitegen.url_for(i, workloads.N_HOSTS) for i in (3, 50, 77)]
    cfg = CrawlConfig(max_depth=0, max_page_num=150)
    a = refsim.simulate(full, seeds, cfg)
    b = refsim.simulate(workloads.oracle_site(n, filler), seeds, cfg)
    assert a.total_page > 100
    assert (a.seen, a.nodes, a.edges, a.secrets) == (b.seen, b.nodes, b.edges, b.secrets)


def test_reported_metrics_match_benchmark_json():
    import json
    import os

    from crawlbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    main = {"ops": [{"pages_per_s": 1.0}], "setup_s": 1.0, "peak_rss": {"total": 1.0}, "materialize_s": [1.0]}
    e2e = run.end_to_end_metrics(main)
    per_layer = run.per_layer_metrics({"main": main}, 1.0, 4)
    for reported, declared in ((e2e, spec["end_to_end"]), (per_layer, spec["per_layer"])):
        assert {k: v["unit"] for k, v in reported.items()} == {m["name"]: m["unit"] for m in declared}
