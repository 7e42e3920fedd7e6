"""spark-submit entrypoint: the full crawl as a cluster job.

    spark-submit --master <cluster> --py-files moca_spark.zip \
        jobs/crawl_job.py --seeds seeds.txt \
        --links <parquet> --images <parquet> [--robots <parquet>] \
        --checkpoint <dir> [--budget N] [--max-waves N] [--resume]

Reads the seed file (criteria DSL included), crawls the link graph
against the image+caption corpus, appends every wave to the event
journal in the checkpoint dir (store/lakehouse.py EventLogStore:
O(delta) writes per wave, exactly-once ``--resume``; a dir written in
the removed full-state snapshot layout is refused), and prints a JSON
summary line. This is the deployment shape the north rule prescribes;
``--demo`` synthesizes a small world first so the job is runnable
without pre-built tables.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds")
    ap.add_argument("--links")
    ap.add_argument("--images")
    ap.add_argument("--robots")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--budget", type=int, default=8)
    ap.add_argument("--max-waves", type=int, default=10_000)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--bloom", choices=["off", "sharded", "cuckoo"],
                    default="off",
                    help="approximate seen-set prefilter: sharded bitmap "
                         "table (10^10 layout) or the deletable cuckoo "
                         "fallback")
    ap.add_argument("--bloom-capacity", type=int, default=1_000_000)
    ap.add_argument("--fold-every", type=int, default=8,
                    help="seen-LSM fold cadence in waves")
    ap.add_argument("--links-canonical", action="store_true",
                    help="links table is pre-canonicalized (typically "
                         "src_host-partitioned parquet: per-wave host "
                         "partition pruning, no full-graph cache); "
                         "optional src_domain/dst_domain columns keep "
                         "the PSL domain UDF out of same-domain waves")
    ap.add_argument("--corpus-buckets", type=int, default=0,
                    help="--images was written by write_corpus_bucketed "
                         "with this bucket count: big waves prune the "
                         "fetch scan to the touched buckets' files "
                         "instead of rescanning the corpus (the "
                         "production layout — without it, waves past "
                         "the fetch-prune id threshold fall back to a "
                         "full corpus join and warn)")
    ap.add_argument("--demo", action="store_true",
                    help="synthesize a Zipf world instead of --links/--images "
                         "(the demo corpus is written bucketed — the layout "
                         "production should use)")
    args = ap.parse_args()

    # under spark-submit the session already exists; moca_spark arrives
    # via --py-files (or ship_package when run directly)
    spark = SparkSession.builder.getOrCreate()
    try:
        import moca_spark  # noqa: F401
    except ModuleNotFoundError:
        import os
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from moca_spark.crawl.engine import CrawlEngine
    from moca_spark.session import ship_package
    from moca_spark.sources.seeds import read_seed_file, seeds_to_works

    ship_package(spark)

    if args.demo:
        from moca_spark.criteria.dsl import CriteriaSpec, Work
        from moca_spark.sources.synth import (
            images_distributed,
            links_df,
            zipf_graph,
        )

        links = links_df(spark, zipf_graph(n_hosts=8, pages_per_host=10))
        urls = links.select(F.col("src_url").alias("url")).unionByName(
            links.select(F.col("dst_url").alias("url"))).distinct()
        # demo runs on the PRODUCTION corpus layout: bucketed+sorted on
        # image_id (write_corpus_bucketed), so the fetch join is
        # bucket-prunable at any slice size out of the box
        from moca_spark.store.lakehouse import (
            read_corpus_bucketed,
            write_corpus_bucketed,
        )

        args.corpus_buckets = args.corpus_buckets or 16
        corpus = f"{args.checkpoint}/demo-corpus"
        # a corpus an earlier run wrote with this bucket count is
        # reused (its meta file is written last, after the data): a
        # resumed demo fetches from the corpus its journal was written
        # against, and does not pay the write again
        try:
            with open(f"{corpus}/_corpus_meta.json") as f:
                reuse = json.load(f).get("n_buckets") == args.corpus_buckets
        except (OSError, ValueError):
            reuse = False
        images = (read_corpus_bucketed(spark, corpus) if reuse else
                  write_corpus_bucketed(spark, images_distributed(spark, urls),
                                        corpus, n_buckets=args.corpus_buckets))
        works = [Work("demo", "http://host0.test/p0", CriteriaSpec(max_depth=3))]
    else:
        links = spark.read.parquet(args.links)
        images = spark.read.parquet(args.images)
        seeds, named = read_seed_file(spark, args.seeds)
        works = seeds_to_works(seeds, named)

    robots = spark.read.parquet(args.robots) if args.robots else None
    eng = CrawlEngine(
        spark, links, images, robots,
        budget=args.budget, checkpoint_dir=args.checkpoint,
        durable="eventlog",
        use_bloom=False if args.bloom == "off" else args.bloom,
        bloom_capacity=args.bloom_capacity, fold_every=args.fold_every,
        links_canonical=args.links_canonical,
        corpus_buckets=args.corpus_buckets,
    )
    eng.add_works(works)
    res = eng.run(max_waves=args.max_waves, resume=args.resume)
    # both counts off the per-host metrics view, in one action:
    # results hold every scheduled row, failed fetches included
    scheduled, fetched = (0, 0) if res.metrics is None else (
        res.metrics.agg(F.sum("scheduled"), F.sum("fetched")).first())
    summary = {
        "waves": res.waves,
        "scheduled": scheduled,
        "fetched": fetched,
        "seen": res.seen.count(),
        "pending": res.frontier.count(),
        "checkpoint": args.checkpoint,
    }
    print("CRAWL_SUMMARY " + json.dumps(summary))


if __name__ == "__main__":
    main()
