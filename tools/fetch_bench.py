"""Fetch-join pruning microbench: per-wave fetch cost must be
independent of corpus size.

Drives the engine's fetch-corpus pruning (crawl/engine.py
CrawlEngine._pruned_images) against corpora at S and 8S rows and
reports corpus rows READ (scan numOutputRows) + wall time per shape:

    full          — no pruning, plain parquet (the round-2 shape)
    single_in     — the same <= fetch_prune-row slice pushed as one In
                    into a bucketed+sorted+bloom corpus
                    (store/lakehouse.py write_corpus_bucketed)
    bucket_level  — a 24-row slice above fetch_prune=16: only its
                    buckets' files are read

Evidence target: `full` rows-read grows 8x with the corpus;
`single_in` rows-read stays ~flat (O(slice x row-group)). Usage:

    python tools/fetch_bench.py [base_corpus_rows] [slice_rows<=256]
"""

from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402

from moca_spark.crawl.engine import CrawlEngine  # noqa: E402
from moca_spark.session import get_spark  # noqa: E402
from moca_spark.sources.synth import scale_frontier  # noqa: E402
from moca_spark.store.lakehouse import write_corpus_bucketed  # noqa: E402

REPS = 5


def scan_rows_read(df) -> int:
    """Sum numOutputRows over every parquet scan in the executed plan."""
    jp = df._jdf.queryExecution().executedPlan()
    if jp.nodeName() == "AdaptiveSparkPlan":
        jp = jp.executedPlan()
    total, stack = 0, [jp]
    while stack:
        n = stack.pop()
        name = n.nodeName()
        if "FileSourceScan" in name or name.startswith("Scan parquet"):
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
        # AQE wraps materialized stages in leaf QueryStageExec nodes;
        # their subtree hangs off .plan(), not .children()
        if "QueryStage" in name:
            try:
                stack.append(n.plan())
            except Exception:
                pass
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return total


def measure(spark, sliced, images, prune_threshold: int,
            corpus_buckets: int = 0) -> dict:
    """The engine's exact fetch-join shape + pruning code path."""
    links0 = spark.createDataFrame(
        [("http://h.test/a", "http://h.test/b")], ["src_url", "dst_url"])
    eng = CrawlEngine(spark, links0, images, durable=False,
                      fetch_prune=prune_threshold,
                      corpus_buckets=corpus_buckets)
    n_rows = sliced.count()

    def joined():
        return sliced.withColumn(
            "image_id", F.sha1(F.encode("url", "UTF-8"))
        ).join(eng._pruned_images(sliced, n_rows), "image_id", "left")

    times = []
    for _ in range(REPS):
        t0 = time.time()
        joined().write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    # rows-read metric from an executed QueryExecution (untimed rep)
    last = joined().drop("bytes")
    last.collect()
    return {"sec": round(statistics.median(times), 3),
            "rows_read": scan_rows_read(last)}


def corpus_of(pages):
    # bytes padded to 512 B so row groups hold realistic row counts
    # (a 100-byte row makes every row group span too many rows for
    # point-lookup skipping to be measurable at sandbox scale)
    return pages.select(
        F.sha1(F.encode("url", "UTF-8")).alias("image_id"),
        F.encode(F.rpad(F.substring("url", 1, 8), 512, "x"), "UTF-8")
        .alias("bytes"),
        F.lit(8).alias("w"), F.lit(8).alias("h"), F.lit("png").alias("fmt"),
        F.concat(F.lit("c-"), F.substring(F.sha1(F.encode("url", "UTF-8")),
                                          1, 12)).alias("caption"),
        F.xxhash64("url").alias("phash"),
    )


def main() -> None:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_slice = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    spark = get_spark(app_name="fetch-bench", master="local[4]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"slice_rows": n_slice, "reps": REPS, "sizes": {}}
    for mult in (1, 8):
        n = base * mult
        with tempfile.TemporaryDirectory(prefix=f"fetchbench-{n}-") as tmp:
            pages = scale_frontier(spark, n, 2_000, 16).select("url")
            corpus_of(pages).write.mode("overwrite").parquet(f"{tmp}/plain")
            plain = spark.read.parquet(f"{tmp}/plain")
            # 1 MB row groups: point lookups want granular skipping units
            bucketed = write_corpus_bucketed(spark, plain, f"{tmp}/bucketed", 64,
                                             row_group_bytes=1024 * 1024)
            # fixed slice: uniform sample of the corpus's URL space, same
            # size at both corpus scales (the wave slice does not grow with
            # the corpus)
            sliced = (
                pages.sample(2.0 * n_slice / n, seed=7).limit(n_slice)
                .localCheckpoint(eager=True)
            )
            # bucket-LEVEL pruning regime (slices above fetch_prune): only
            # the slice's buckets' files are read. Uniform sha1 ids cover
            # all B buckets once |slice| >> B, so the mechanism pays off
            # only when B exceeds the slice size — which is exactly the
            # production layout (B = corpus_bytes / target_file_size, e.g.
            # 10 TB / 100 MB = 10^5 buckets vs 10^4-10^5-URL slices). The
            # sandbox scales both down: a 24-id slice over 64 buckets
            # touches ~20 of them; rows_read must be ~1/3 of `full`.
            bucket_slice = (
                pages.sample(100.0 / n, seed=11).limit(24)
                .localCheckpoint(eager=True)
            )
            out["sizes"][n] = {
                "full": measure(spark, sliced, plain, prune_threshold=0),
                "single_in": measure(spark, sliced, bucketed,
                                     prune_threshold=n_slice, corpus_buckets=64),
                "bucket_level": measure(spark, bucket_slice, bucketed,
                                        prune_threshold=16, corpus_buckets=64),
            }
    s1, s8 = (out["sizes"][base * m] for m in (1, 8))
    out["rows_read_growth_8x"] = {
        k: round(s8[k]["rows_read"] / max(s1[k]["rows_read"], 1), 2)
        for k in s1
    }
    out["sec_growth_8x"] = {
        k: round(s8[k]["sec"] / max(s1[k]["sec"], 1e-9), 2) for k in s1
    }
    # bucket-level pruning reads a FRACTION (touched/B) of the corpus
    # at any scale — report it against the full scan
    out["bucket_level_read_fraction"] = {
        str(base * m): round(
            out["sizes"][base * m]["bucket_level"]["rows_read"]
            / max(out["sizes"][base * m]["full"]["rows_read"], 1), 3)
        for m in (1, 8)
    }
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
