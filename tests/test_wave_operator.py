"""Unit tests for the wave-slice operator (the PartitionScheduler
analog): salted two-phase top-K must EQUAL the naive single-window
formulation on arbitrary frontiers — ranks included."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from moca_spark.operators.wave import ORDER_COLS, slice_split, top_k_per_host


def naive_topk(frontier, k):
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in ORDER_COLS])
    return frontier.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= k)


def random_frontier(spark, n, n_hosts, seed):
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("http://h"),
                     F.pmod(F.xxhash64(F.col("id") + seed), F.lit(n_hosts)),
                     F.lit(".test/p"), F.col("id")).alias("url"),
            F.concat(F.lit("h"),
                     F.pmod(F.xxhash64(F.col("id") + seed), F.lit(n_hosts)),
                     F.lit(".test")).alias("host"),
            F.pmod(F.xxhash64(F.col("id") + seed + 1), F.lit(5)).cast("int")
            .alias("depth"),
            F.pmod(F.xxhash64(F.col("id") + seed + 2), F.lit(1000))
            .alias("seq"),
            F.lit("r1").alias("run_id"),
        )
    )


@pytest.mark.parametrize("n,n_hosts,k,salts,seed", [
    (500, 7, 3, 8, 1),      # hot hosts, small k
    (500, 100, 5, 4, 2),    # many hosts
    (200, 1, 10, 16, 3),    # single giant host (max skew)
    (50, 60, 2, 8, 4),      # more hosts than rows
])
def test_salted_topk_equals_naive(spark, n, n_hosts, k, salts, seed):
    fr = random_frontier(spark, n, n_hosts, seed)
    got = sorted(
        tuple(r) for r in
        top_k_per_host(fr, k, n_salts=salts)
        .select("host", "rank", "url", "depth", "seq").collect()
    )
    want = sorted(
        tuple(r) for r in
        naive_topk(fr, k).select("host", "rank", "url", "depth", "seq").collect()
    )
    assert got == want


def dup_frontier(spark, n, n_hosts, seed):
    """Frontier with duplicate (run_id, url) rows at different
    (depth, seq) — the LSM shape slice_split must min-merge."""
    base = random_frontier(spark, n, n_hosts, seed)
    dups = base.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0).select(
        "url", "host",
        (F.col("depth") + 2).alias("depth"),
        (F.col("seq") + 7).alias("seq"),
        "run_id",
    )
    shallower = base.filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0).select(
        "url", "host",
        F.greatest(F.col("depth") - 1, F.lit(0)).alias("depth"),
        (F.col("seq") + 1).alias("seq"),
        "run_id",
    )
    return base.unionByName(dups).unionByName(shallower)


def min_merge(frontier):
    return (
        frontier.groupBy("run_id", "url")
        .agg(F.min(F.struct("depth", "seq")).alias("m"),
             F.first("host").alias("host"))
        .select("run_id", "url", "host",
                F.col("m.depth").alias("depth"), F.col("m.seq").alias("seq"))
    )


@pytest.mark.parametrize("n,n_hosts,k,salts,seed", [
    (400, 7, 3, 8, 1),      # hot hosts with dups
    (300, 60, 4, 4, 2),     # many hosts with dups
    (150, 1, 6, 16, 3),     # single giant host with dups
])
def test_slice_split_equals_merge_then_topk(spark, n, n_hosts, k, salts, seed):
    """slice_split(F) must equal (top_k(min_merge(F)),
    min_merge(F) - top_k(min_merge(F))) — sliced ranks included."""
    fr = dup_frontier(spark, n, n_hosts, seed)
    merged = min_merge(fr)
    sliced, rest = slice_split(fr, k, n_salts=salts)
    got_slice = sorted(
        tuple(r) for r in
        sliced.select("host", "rank", "url", "depth", "seq").collect()
    )
    want_slice = sorted(
        tuple(r) for r in
        top_k_per_host(merged, k, n_salts=salts)
        .select("host", "rank", "url", "depth", "seq").collect()
    )
    assert got_slice == want_slice
    got_rest = sorted(
        tuple(r) for r in
        rest.select("host", "url", "depth", "seq").collect()
    )
    want_keys = {(r.host, r.url) for r in top_k_per_host(merged, k).collect()}
    want_rest = sorted(
        tuple(r) for r in merged.select("host", "url", "depth", "seq").collect()
        if (r.host, r.url) not in want_keys
    )
    assert got_rest == want_rest


def test_slice_split_single_exchange_for_frontier(spark):
    """The O(frontier) path must cross exactly ONE exchange (the
    (host, salt) repartition): the dedup and phase-1 windows reuse it,
    and rest is a filter over the same checkpointed data (zero
    exchanges in its incremental plan)."""
    fr = random_frontier(spark, 5_000, 40, 1).withColumn(
        "_key", F.xxhash64(F.concat_ws("\x00", "run_id", "url")))
    sliced, rest = slice_split(fr, 5, n_salts=8)
    # phase-2's exact-rank window over the tiny survivor set is the
    # only exchange downstream of the checkpointed split point: the
    # O(frontier) phase-1-loser branch of rest is a pure filter
    p_rest = rest._jdf.queryExecution().executedPlan().toString()
    assert p_rest.count("Exchange hashpartitioning") == 1, p_rest
    p_sl = sliced._jdf.queryExecution().executedPlan().toString()
    assert p_sl.count("Exchange hashpartitioning") == 1, p_sl


def test_topk_duplicate_order_keys(spark):
    """Ties on (depth, seq) resolve deterministically by (run_id, url)
    — idempotent-add semantics of the scheduler (J6)."""
    rows = [("r1", f"http://h.test/{c}", "h.test", 1, 5) for c in "dcba"]
    fr = spark.createDataFrame(
        rows, "run_id string, url string, host string, depth int, seq long"
    )
    got = [r.url for r in top_k_per_host(fr, 2, n_salts=4)
           .orderBy("rank").collect()]
    assert got == ["http://h.test/a", "http://h.test/b"]
