"""spark-submit entry point for the crawl pipeline (north rule: "run via
spark-submit --py-files on a multi-executor cluster at two cluster sizes").

Packaging + launch (see submit/run_two_sizes.sh for the two-size harness):

    cd /root/repo && zip -qr /tmp/secretscraper_spark.zip secretscraper_spark
    spark-submit --master local[8]  --conf spark.task.cpus=2 \
        --py-files /tmp/secretscraper_spark.zip submit/crawl_job.py \
        --n-pages 120000 --filler-bytes 6144 --seed-stride 11 --out /tmp/crawl_n
    spark-submit --master local[32] --conf spark.task.cpus=2 \
        --py-files /tmp/secretscraper_spark.zip submit/crawl_job.py ...

On a real cluster, replace --master with the cluster manager URL; the job
code is identical — everything data-parallel is DataFrame ops, and the
--py-files zip is the only code shipped to executors.

Prints one JSON line with throughput + per-tier metrics, and (with --out)
writes seen/edges/secrets parquet + the crawl CSV report.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, default=120000)
    ap.add_argument("--n-hosts", type=int, default=8)
    ap.add_argument("--filler-bytes", type=int, default=6144)
    ap.add_argument("--seed-stride", type=int, default=11)
    ap.add_argument("--max-depth", type=int, default=2)
    ap.add_argument("--max-pages", type=int, default=0)
    ap.add_argument("--pages-parquet", default=None,
                    help="read the pages table instead of generating it")
    ap.add_argument("--pages-bucketed", default=None,
                    help="read a bucketed pages store written by "
                         "submit/gen_site.py --bucketed (dir path); the "
                         "fetch join then scans the pages side in place — "
                         "no Exchange on the 100 TB side even past the "
                         "broadcast-frontier regime")
    ap.add_argument("--pages-buckets", type=int, default=256,
                    help="bucket count the --pages-bucketed store was "
                         "written with (catalog re-registration needs it)")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--seen-filter", default="exact",
                    choices=["exact", "bucketed-bloom"],
                    help="URL-seen prefilter; bucketed-bloom is the sharded "
                         "10^10-scale form (no driver-side bitmap)")
    ap.add_argument("--seen-n-buckets", type=int, default=None,
                    help="sharded seen-filter shard count (default 64); size "
                         "n_buckets*capacity to the expected seen-set, e.g. "
                         "256x2^17 for a 10^8-page leg")
    ap.add_argument("--seen-bucket-capacity", type=int, default=None,
                    help="per-shard capacity of the sharded seen filter "
                         "(default 2^16)")
    ap.add_argument("--white-list", action="append", default=[],
                    help="domain glob whitelist (reference -d/--domain)")
    ap.add_argument("--black-list", action="append", default=[],
                    help="domain glob blacklist (reference -D/--danger-domain)")
    ap.add_argument("--checksum", action="store_true",
                    help="emit order-invariant value digests of seen/edges/"
                         "secrets (sum of xxhash64 over rows) so two runs at "
                         "different scale/parallelism can be compared "
                         "bit-for-bit, not just by row count")
    ap.add_argument("--synthetic-fetch", action="store_true",
                    help="fetch_mode='mapped' with the Catalyst synthetic "
                         "site (sitegen.synthetic_fetch_map): the pages "
                         "table is never materialized — the 10^9+ leg "
                         "vehicle (a 10^9 site is ~93 GB parquet). Bit-"
                         "identical crawl outputs vs --pages-* modes on "
                         "the same (n-pages, n-hosts, filler) arguments.")
    ap.add_argument("--fold-outputs", action="store_true",
                    help="per-tier digest/count folding instead of "
                         "retaining nodes/edges/secrets (SparkCrawler "
                         "fold_outputs): peak storage O(one tier). Digests "
                         "use the --checksum formula and are reported in "
                         "the output JSON; incompatible with --out.")
    ap.add_argument("--tier-chunk-rows", type=int, default=None,
                    help="run each tier's fetch→enqueue in seq-contiguous "
                         "chunks of at most this many rows (gates, budget, "
                         "politeness and quarantine/AIMD folds stay per "
                         "tier; bit-identical digests with any other flag; "
                         "bounds peak heap to O(chunk) — the ≥5e7-row-tier "
                         "mitigation)")
    ap.add_argument("--resume-from", type=int, default=None,
                    help="resume the crawl from this committed round of "
                         "--checkpoint-dir instead of seeding (scale-leg "
                         "resume exercise; deterministic re-execution means "
                         "the result must be bit-identical to the "
                         "uninterrupted run)")
    args = ap.parse_args()
    if args.fold_outputs and args.out:
        ap.error("--fold-outputs produces empty result tables; drop --out")
    if args.resume_from is not None and not args.checkpoint_dir:
        ap.error("--resume-from requires --checkpoint-dir")

    # spark-submit owns the session config (master, task.cpus, memory);
    # getOrCreate attaches to it. The ICU warmup from session.get_spark is
    # repeated here because submit jobs may not go through that factory.
    spark = SparkSession.builder.appName("secretscraper-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("SELECT lower('WarḿÉ')").collect()  # ICU class-init, uncontended
    # subset-key co-partitioning: a --pages-bucketed store joins without
    # re-shuffling the pages side (see session.get_spark)
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")

    from secretscraper_spark.config import CrawlConfig
    from secretscraper_spark.plans.crawler import SparkCrawler
    from secretscraper_spark.sinks.reports import csv_rows
    from secretscraper_spark.sources.sitegen import generate_pages_spark, url_for

    crawler_kw = {}
    if args.synthetic_fetch:
        from secretscraper_spark.sources.sitegen import synthetic_fetch_map

        pages = spark.createDataFrame(
            [], "url_norm string, status string, content_type string, "
            "content_length long, caption string",
        )
        crawler_kw["fetch_mode"] = "mapped"
        crawler_kw["fetch_map_fn"] = synthetic_fetch_map(
            args.n_pages, args.n_hosts, args.filler_bytes
        )
    elif args.pages_bucketed:
        from secretscraper_spark.sources.pages_store import register_pages_table

        register_pages_table(
            spark, "pages_site", args.pages_bucketed, args.pages_buckets
        )
        pages = spark.table("pages_site")
    elif args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
    else:
        # partitions ≥ 2× slots: the broadcast fetch join streams the pages
        # side, so its partitioning sets downstream extraction parallelism
        par = max(2 * spark.sparkContext.defaultParallelism, 64)
        pages = generate_pages_spark(
            spark, args.n_pages, n_hosts=args.n_hosts,
            filler_bytes=args.filler_bytes, partitions=par,
        ).localCheckpoint()
        pages.count()  # materialize outside the timed window

    cfg_kw = {}
    if args.seen_n_buckets:
        cfg_kw["seen_n_buckets"] = args.seen_n_buckets
    if args.seen_bucket_capacity:
        cfg_kw["seen_bucket_capacity"] = args.seen_bucket_capacity
    cfg = CrawlConfig(
        max_depth=args.max_depth, max_page_num=args.max_pages,
        white_list=args.white_list, black_list=args.black_list,
        **cfg_kw,
    )

    # host-capacity probe (r4 verdict item 6): per-process MB/s of the
    # pure-Python extraction kernel at 8-way concurrency, seconds before
    # the leg and again after it — so a variance class like the 104 s vs
    # 233 s enqueue_rank swing on identical code+digests is attributable
    # to host state from the artifact alone. Outside the timed window.
    from secretscraper_spark.hostcal import host_calibration

    cal_before = host_calibration(8)

    t0 = time.perf_counter()
    crawler = SparkCrawler(
        spark, pages, cfg, checkpoint_dir=args.checkpoint_dir,
        seen_filter=args.seen_filter,
        fold_outputs=args.fold_outputs,
        tier_chunk_rows=args.tier_chunk_rows, **crawler_kw,
    )
    n_seed_urls = -(-args.n_pages // args.seed_stride)
    if args.resume_from is not None:
        res = crawler.resume(from_round=args.resume_from)
    elif args.seed_stride == 1 and not args.synthetic_fetch:
        # saturated (full-site) seeding = the 10^10-frontier stand-in: seed
        # from the pages TABLE (run_from_urls) — a frontier that size is an
        # Iceberg table, never a driver-side list
        from pyspark.sql import functions as F
        urls = pages.select(
            F.regexp_extract("url_norm", r"/p/(\d+)$", 1)
             .cast("long").alias("ord"),
            F.col("url_norm").alias("url"),
        )
        res = crawler.run_from_urls(urls)
    elif n_seed_urls > 200_000:
        # distributed seed table: a 10^9-site stride-97 leg has 10^7+
        # seeds — they never transit the driver as a Python list
        from secretscraper_spark.sources.sitegen import seed_urls_spark

        res = crawler.run_from_urls(
            seed_urls_spark(spark, args.n_pages, args.seed_stride,
                            args.n_hosts)
        )
    else:
        seeds = [url_for(i, args.n_hosts)
                 for i in range(0, args.n_pages, args.seed_stride)]
        res = crawler.run(seeds)
    n_seen = res.seen.count()
    n_secrets = (
        res.folded["secrets"]["rows"] if res.folded else res.secrets.count()
    )
    wall = time.perf_counter() - t0

    digests = None
    if args.checksum or res.folded:
        # Order-invariant, filler-invariant digests: the link structure and
        # planted secrets depend only on (i, n_pages, n_hosts), so the same
        # site crawled with different filler/parallelism/seen-filter must
        # reproduce these sums exactly. Outside the timed window.
        from pyspark.sql import functions as F

        def digest(df, cols):
            # decimal(38,0) sum: exact and overflow-free (ANSI mode makes a
            # bigint sum of millions of 64-bit hashes a runtime error), and
            # unlike bit_xor it cannot cancel duplicate rows.
            row = df.select(
                F.sum(F.xxhash64(*[F.col(c) for c in cols])
                      .cast("decimal(38,0)")).alias("d"),
            ).collect()[0]
            return str(row["d"])  # str: JSON keeps the sum exact

        # column recipes are the shared constants next to the extraction
        # projections (plans/extraction.py) — the same lists the fold
        # path hashes, so the two modes cannot silently diverge
        from secretscraper_spark.plans import extraction as expl

        digests = {
            "seen": digest(res.seen, list(expl.SEEN_DIGEST_COLS)),
        }
        if res.folded:
            # fold mode: edges/secrets digests were accumulated per tier
            # with the identical formula (crawler._fold_tier)
            digests["edges"] = res.folded["edges"]["digest"]
            digests["secrets"] = res.folded["secrets"]["digest"]
            digests["nodes"] = res.folded["nodes"]["digest"]
        else:
            digests["edges"] = digest(res.edges, list(expl.EDGE_DIGEST_COLS))
            digests["secrets"] = digest(
                res.secrets, list(expl.SECRET_DIGEST_COLS)
            )

    if args.out:
        res.seen.write.mode("overwrite").parquet(f"{args.out}/seen")
        res.edges.write.mode("overwrite").parquet(f"{args.out}/edges")
        res.secrets.write.mode("overwrite").parquet(f"{args.out}/secrets")
        csv_rows(res.nodes, res.secrets).write.mode(
            "overwrite"
        ).option("header", True).csv(f"{args.out}/report_csv")

    print(json.dumps({
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "n_pages_site": args.n_pages,
        "pages_fetched": res.total_page,
        "urls_seen": n_seen,
        "secrets": n_secrets,
        "wall_sec": round(wall, 3),
        "pages_per_sec": round(res.total_page / wall, 1),
        "urls_per_sec": round(n_seen / wall, 1),
        "digests": digests,
        "host_cal_mbps": {"before": cal_before, "after": host_calibration(8)},
        "tiers": res.tiers,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
