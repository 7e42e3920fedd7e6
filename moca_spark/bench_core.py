"""Shared benchmark kernels (used by bench.py and tools/scaling_bench.py).

The north-star metric (BASELINE.json) is *frontier URLs
scheduled+deduped per second* on a synthetic Zipf-skewed frontier. The
kernel below calls the crawl engine's own wave phases
(crawl/engine.py), so it times the engine's hot path, not a copy:

  schedule: slice_phase (dedup + salted two-phase top-K per host +
            split, operators/wave.py slice_split) + seen_delta
  dedup:    consolidate_admit (candidate consolidation + admission vs
            the seen state, J1/J2) + merge (the lazy rest ∪ fresh
            frontier union)
  fold:     SeenState.fold, amortized over fold_every waves

Inputs are generated lazily with ``spark.range`` (sources/synth.py
scale_frontier) — zero driver memory, any scale. Work is forced with a
``noop`` write so we time compute + shuffle, not a sink.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moca_spark.crawl.engine import (
    CrawlEngine,
    SeenState,
    _aqe_off,
    consolidate_admit,
    fold_frontier,
    merge,
    seen_delta,
    slice_phase,
)
from moca_spark.functions.urls import url_host
from moca_spark.sources.synth import scale_frontier


def _force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _free_rdds_since(spark: SparkSession, before: set[int]) -> None:
    """Unpersist every RDD persisted after ``before`` was snapshotted
    (round 6): each kernel rep localCheckpoints ~8M rows of state that
    nothing frees until JVM GC gets around to it — by the time
    bench.py's crawl and query phases run, the block manager is
    holding several reps' worth of dead state. Scoped to the ids
    created in between, so callers' own caches are untouched."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in set(jmap.keySet()) - before:
        try:
            jmap.get(rid).unpersist(False)
        except Exception:
            pass


def frontier_schedule_dedup(
    spark: SparkSession,
    n_frontier: int = 2_000_000,
    n_candidates: int = 2_000_000,
    n_hosts: int = 20_000,
    budget: int = 100,
    partitions: int = 64,
    materialize_dir: str | None = None,
    fold_every: int = 8,
) -> dict:
    """One full scheduling+dedup wave at scale; returns throughput.

    The timed region calls the crawl engine's own phases
    (crawl/engine.py) on synthetic state, on the big-state exact path:
    slice_phase and seen_delta (schedule), consolidate_admit and merge
    (dedup+merge), and SeenState.fold (timed once, amortized over
    ``fold_every`` waves). The state is what previous waves leave
    behind: the seen base folded (hash-partitioned and sorted by the
    state keys, so the admission join runs exchange-free/sort-free on
    the base side) and the LSM frontier as last wave's deduped rest
    PLUS an unmerged fresh layer (n_frontier//8 rows — steady-state
    admit ratio). The candidates stand in for the expand output, and
    consolidate_admit fuses their consolidation into the admission
    (the engine checkpoints them first only when the seen state holds
    a filter and on slices above ``EXPAND_BROADCAST_MAX``, where the
    expand join keeps AQE).

    With ``materialize_dir`` the synthetic inputs are written to parquet
    first (untimed) and state tables are prepared from table scans —
    the cluster-faithful shape. State prep (the fold result carried
    from previous waves) is untimed."""
    # engine hot-loop schema (engine._trim_state): rows carry the
    # 64-bit politeness key instead of the host string AND the dense
    # run ordinal instead of the run_id string (the _key is computed
    # from the STRING, as at the engine's creation sites); slice_phase
    # re-derives both strings on the budget-bounded slice
    _rdds_at_entry = _persistent_rdd_ids(spark)

    def _state(df):
        return (df.withColumn("run_id", F.lit("bench"))
                .withColumn("_key", CrawlEngine._seen_key())
                .withColumn("run_id", F.lit(0)))

    def _trim_host(df):
        return df.withColumn("host_key", F.xxhash64("host")).drop("host")

    frontier = _state(
        scale_frontier(spark, n_frontier, n_hosts, partitions, seed=1))
    # seen = half the candidate id space -> ~50% dedup hit rate
    seen = _state(
        scale_frontier(spark, n_candidates // 2, n_hosts, partitions, seed=2)
        .select("url", F.col("depth").alias("best_depth")))
    # the expand output's shape (engine._expand): the run_id string
    # plus the ordinal as a real column — trimming after the parquet
    # round-trip instead would leave a foldable literal whose
    # constant-folded consolidation partitioning (_key, 0, url) can
    # never satisfy the admission join's clustering, forcing a second
    # O(candidates) exchange the engine does not pay (round 6)
    candidates = (
        scale_frontier(spark, n_candidates, n_hosts, partitions, seed=2)
        .select(F.lit("bench").alias("run_id"), F.lit(0).alias("_run_ord"),
                F.col("url").alias("dst_url"),
                F.col("host").alias("dst_host"), "depth",
                (F.col("seq") % 100 + 1).alias("parent_rank"))
    )
    # steady-state fresh layer riding unmerged on the LSM frontier
    # (~admit ratio of a mid-crawl wave); not counted in `processed`
    # (conservative: the kernel does MORE rows per reported URL)
    fresh_prev = _state(
        scale_frontier(spark, max(n_frontier // 8, 1), n_hosts, partitions,
                       seed=3))
    if materialize_dir:
        # The synthetic inputs are deterministic (fixed seeds/sizes),
        # so when the SAME dir is passed for several reps (bench.py
        # hands one mkdtemp to its warmup + 3 reps) the parquet only
        # needs writing once — a marker records the generation params;
        # any mismatch (or absence) rewrites (round 6: untimed-prep
        # cost only; the timed region still computes everything from
        # the parquet, and the dir is a fresh tempdir per invocation).
        import json as _json
        import os as _os

        params = {"n_frontier": n_frontier, "n_candidates": n_candidates,
                  "n_hosts": n_hosts, "partitions": partitions}
        marker = f"{materialize_dir}/_INPUTS_OK"
        have = False
        try:
            with open(marker) as fh:
                have = _json.load(fh) == params
        except (OSError, ValueError):
            have = False
        if not have:
            # drop the stale marker first: a crash mid-rewrite must not
            # leave old params validating half-overwritten inputs
            if _os.path.exists(marker):
                _os.remove(marker)
            for name, df in (("frontier", frontier), ("seen", seen),
                             ("candidates", candidates),
                             ("fresh_prev", fresh_prev)):
                df.write.mode("overwrite").parquet(
                    f"{materialize_dir}/{name}")
            tmp_marker = marker + ".tmp"
            with open(tmp_marker, "w") as fh:
                _json.dump(params, fh)
            _os.replace(tmp_marker, marker)  # atomic: no torn marker
        frontier = spark.read.parquet(f"{materialize_dir}/frontier")
        seen = spark.read.parquet(f"{materialize_dir}/seen")
        candidates = spark.read.parquet(f"{materialize_dir}/candidates")
        fresh_prev = spark.read.parquet(f"{materialize_dir}/fresh_prev")

    # ---- state prep (untimed): the shape previous waves left behind —
    # the seen base folded (SeenState.fold: KEYS-partitioned,
    # KEYS-sorted, AQE-off checkpoint); the frontier a deduped
    # claim-free checkpoint (last slice_split's ranked rest) plus the
    # unmerged fresh layer
    seen_state = SeenState(seen.filter(F.lit(False)), [seen])
    seen_state.fold()
    with _aqe_off(spark):
        fr_state = (
            _trim_host(fold_frontier(frontier)).localCheckpoint(eager=True)
            .unionByName(_trim_host(fresh_prev).localCheckpoint(eager=True))
        )

    # SCHEDULE: politeness-bounded per-host queue heads (AQE on);
    # seen_delta's count is the action that materializes the slice
    t0 = time.time()
    sliced, rest = slice_phase(fr_state, budget, 16, url_host, ["bench"])
    try:
        seen_delta(sliced, seen_state)
        t_sched = time.time() - t0

        # DEDUP+MERGE: consolidate, admit vs base + this wave's delta,
        # then force the lazy rest ∪ fresh (the engine consumes it
        # inside next wave's slice exchange, so this force over-charges
        # the kernel by one read)
        t1 = time.time()
        fresh = consolidate_admit(candidates, seen_state, 1, url_host)
        _force(merge(rest, fresh))
        t_dedup = time.time() - t1

        # FOLD (timed once, amortized /fold_every)
        t2 = time.time()
        seen_state.fold()
        t_fold = time.time() - t2
    finally:
        sliced.unpersist()
        # free this rep's checkpointed state (untimed; see
        # _free_rdds_since) so later reps and bench phases don't run
        # against a block manager full of dead state
        _free_rdds_since(spark, _rdds_at_entry)

    total = t_sched + t_dedup + t_fold / fold_every
    processed = n_frontier + n_candidates
    return {
        "mode": "lsm",  # kept: bench.py's kernel record keys are stable
        "n_frontier": n_frontier,
        "n_candidates": n_candidates,
        "n_hosts": n_hosts,
        "schedule_sec": round(t_sched, 2),
        "dedup_merge_sec": round(t_dedup, 2),
        "fold_sec": round(t_fold, 2),
        "fold_amortized_sec": round(t_fold / fold_every, 2),
        "total_sec": round(total, 2),
        "urls_per_sec": round(processed / total),
    }


def crawl_end_to_end(spark: SparkSession, n_hosts: int = 12,
                     pages_per_host: int = 40) -> dict:
    """Small end-to-end crawl (engine, memory mode) on a Zipf graph."""
    from moca_spark.criteria.dsl import CriteriaSpec, Work
    from moca_spark.crawl.engine import CrawlEngine
    from moca_spark.sources.synth import links_df, zipf_graph

    _rdds_at_entry = _persistent_rdd_ids(spark)
    edges = zipf_graph(n_hosts=n_hosts, pages_per_host=pages_per_host)
    links = links_df(spark, edges)
    # fixture-scale corpus (~1k rows): generate driver-side and ship
    # via Arrow createDataFrame — identical rows to the distributed
    # generator (same per-url crc32 lossy rule), but no Python stage
    # in the timed region for a corpus this small (round 6; the
    # mapInPandas generator remains the at-scale path — entry() and
    # engine_scale_run still exercise it)
    import zlib

    import pandas as pd

    from moca_spark.sources.synth import IMAGES_SCHEMA, make_image_row

    urls = sorted({u for e in edges for u in e})
    rows = [make_image_row(u, lossy=(zlib.crc32(u.encode()) % 7 == 3))
            for u in urls]
    # the corpus is scanned every wave: cache it (stand-in for the
    # Iceberg table scan; PNG synthesis must not re-run per wave)
    images = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA]),
        schema=IMAGES_SCHEMA,
    ).cache()
    images.count()
    eng = CrawlEngine(spark, links, images, budget=20, durable=False, n_salts=4)
    eng.add_works([Work(f"w{i}", f"http://host{i}.test/p0", CriteriaSpec(max_depth=4))
                   for i in range(6)])
    t0 = time.time()
    res = eng.run(max_waves=8)
    n = res.results.count()
    dt = time.time() - t0
    # drop the crawl's caches/checkpoints before the query phases run
    # (untimed; see _free_rdds_since)
    _free_rdds_since(spark, _rdds_at_entry)
    return {"fetched": n, "waves": res.waves, "sec": round(dt, 2),
            "fetch_per_sec": round(n / dt, 1)}


def synthetic_web(spark: SparkSession, n_pages: int, n_hosts: int,
                  partitions: int = 64):
    """Lazy large-scale web: Zipf-hosted pages, chain + skip links, and
    a lightweight corpus (1-row-per-page images table with tiny bytes —
    scheduling semantics need the join, not real pixels)."""
    pages = scale_frontier(spark, n_pages, n_hosts, partitions).select(
        "url", "seq"
    )
    nxt = scale_frontier(spark, n_pages, n_hosts, partitions).select(
        F.col("url").alias("dst_url"), (F.col("seq")).alias("nseq")
    )
    links = (
        pages.withColumn("nseq", (F.col("seq") + 1) % n_pages)
        .join(nxt, "nseq")
        .select(F.col("url").alias("src_url"), "dst_url")
        .unionByName(
            pages.withColumn("nseq", (F.col("seq") * 7 + 13) % n_pages)
            .join(nxt, "nseq")
            .select(F.col("url").alias("src_url"), "dst_url")
        )
    )
    images = pages.select(
        F.sha1(F.encode("url", "UTF-8")).alias("image_id"),
        F.encode(F.substring("url", 1, 8), "UTF-8").alias("bytes"),
        F.lit(8).alias("w"), F.lit(8).alias("h"),
        F.lit("png").alias("fmt"),
        F.concat(F.lit("caption-"), F.substring(F.sha1(F.encode("url", "UTF-8")), 1, 12)).alias("caption"),
        F.xxhash64("url").alias("phash"),
    )
    seeds = pages.orderBy("seq").limit(200).select("url")
    return links, images, seeds


def engine_scale_run(spark: SparkSession, n_pages: int = 2_000_000,
                     n_hosts: int = 20_000, budget: int = 50,
                     waves: int = 3, materialize_dir: str | None = None,
                     durable="memory", checkpoint_dir: str | None = None,
                     ) -> dict:
    """Run the REAL engine for a few waves on a large synthetic web;
    report per-wave wall clock + frontier throughput."""
    from moca_spark.criteria.dsl import CriteriaSpec, Work
    from moca_spark.crawl.engine import CrawlEngine

    links, images, seeds = synthetic_web(spark, n_pages, n_hosts)
    if materialize_dir:
        links.write.mode("overwrite").parquet(f"{materialize_dir}/links")
        images.write.mode("overwrite").parquet(f"{materialize_dir}/images")
        links = spark.read.parquet(f"{materialize_dir}/links")
        images = spark.read.parquet(f"{materialize_dir}/images")
    seed_urls = [r.url for r in seeds.collect()]

    eng = CrawlEngine(spark, links, images, budget=budget,
                      durable=False if durable == "memory" else durable,
                      checkpoint_dir=checkpoint_dir,
                      n_salts=16, use_bloom="sharded",
                      bloom_capacity=n_pages)
    eng.add_works([
        Work(f"w{i}", u, CriteriaSpec(max_depth=10**6))
        for i, u in enumerate(seed_urls)
    ])
    t0 = time.time()
    res = eng.run(max_waves=waves)
    dt = time.time() - t0
    fetched = res.results.count()
    pending = res.frontier.count()
    return {
        "durable": str(durable),
        "n_pages": n_pages, "n_hosts": n_hosts, "budget": budget,
        "waves": res.waves, "fetched": fetched, "pending": pending,
        "sec": round(dt, 1), "sec_per_wave": round(dt / max(res.waves, 1), 1),
        "fetched_per_sec": round(fetched / dt, 1),
    }
