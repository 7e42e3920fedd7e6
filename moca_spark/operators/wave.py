"""Wave slicing: the per-host priority queue as DataFrame ops.

The reference's PartitionScheduler keeps ≤1 in-flight task per host
(role/master/scheduler/PartitionScheduler.scala:9-63) and Minion fetches
its FIFO head one URL per 5 s (role/worker/Minion.scala:70-90,
role/Task.scala:12). In the rebuild both collapse into one operator:
every wave takes the top-``budget`` frontier rows per host in
(depth, seq, run_id, url) order — the host's exclusive, politeness-
bounded, BFS-ordered slice.

The naive formulation — ``row_number() over (partition by host order
by ...)`` — sorts EVERY pending row of a host on one task. A hot host
with 10^8 pending URLs (Zipf head at the 10^10-frontier target) turns
that into a single-task sort. This module implements salted two-phase
top-K instead:

  phase 1: rank within (host, salt) — salt = crc-ish hash of url into
           ``n_salts`` buckets, so a hot host's sort spreads over
           ``n_salts`` tasks; keep rank <= K per salted group;
  phase 2: exact rank over the surviving <= n_salts*K rows per host —
           a tiny window — keep rank <= K.

Result is EXACTLY the unsalted top-K (phase 1 can never drop a row
phase 2 would keep), with the skew broken. Ordering-sensitive work
stays keyed by the politeness partition; salting applies only inside
the reduction — the pattern the north rule prescribes for hot-host
skew.

De-stringed hot path (round-5): the windows partition on the 64-bit
``xxhash64(host)`` (``_partition_key``) and the order breaks
remaining (depth, seq) ties on the frontier's 64-bit ``_key`` before
(run_id, url), so the DRAM-bound rank sorts compare 8-byte longs
essentially always — the host and url STRINGS are payload. Two
contract consequences, both mirrored by crawl/oracle.py in lockstep:

- the politeness partition IS the hash group: an xxhash64 collision
  merges two hosts into one politeness bucket (they share a budget —
  never LESS polite, and with ~10^8 hosts the chance of any colliding
  pair is ~3e-4; the oracle groups by the same hash, so engine ==
  oracle row-for-row even then);
- slice ties break on (_key, run_id, url). _key is a deterministic
  function of (run_id, url), so the order stays total and
  deterministic; run_id/url REMAIN behind it, so a _key collision can
  never make the order ambiguous. Frontiers without a _key column
  (generic callers, q32's gate oracle) keep the plain (run_id, url)
  tie-break — the DuckDB twin stays expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ["depth", "seq", "run_id", "url"]


def _order_cols(frontier: DataFrame) -> list[Column]:
    """(depth, seq) then the tie-break: ``_key``-led when the frontier
    carries the 64-bit state key (engine frontiers always do), so tie
    comparisons — common, every multi-child expansion emits siblings
    with identical (depth, seq) — resolve on one long instead of the
    run_id/url strings."""
    tie = (["_key", "run_id", "url"] if "_key" in frontier.columns
           else ["run_id", "url"])
    return [F.col(c) for c in ("depth", "seq", *tie)]


def _partition_key(frontier: DataFrame, host_col: str) -> Column:
    """The politeness-partition expression: the frontier's own 64-bit
    ``host_key`` column when present (the engine carries it instead of
    the host string), else xxhash64 of the host column. Windows on the
    host STRING (the round-4 shape) were measured slower and removed
    (tools/host_key_ab.py of commit 7671410)."""
    if "host_key" in frontier.columns:
        return F.col("host_key")
    return F.xxhash64(F.col(host_col))


def top_k_per_host(
    frontier: DataFrame, k: int, n_salts: int = 16, host_col: str = "host"
) -> DataFrame:
    """Top-``k`` rows per politeness partition by (depth, seq,
    [_key,] run_id, url), with exact per-partition ``rank`` (1..k =
    politeness fetch order) — salted two-phase. The partition key and
    tie-break follow the module-docstring contract (hash-led)."""
    order = _order_cols(frontier)
    pkey = _partition_key(frontier, host_col)
    if n_salts > 1:
        salt = F.pmod(F.xxhash64("url"), F.lit(n_salts))
        w1 = Window.partitionBy(pkey, salt).orderBy(*order)
        pre = (
            frontier.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= k)
            .drop("_r1")
        )
    else:
        pre = frontier
    w2 = Window.partitionBy(pkey).orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def slice_split(
    frontier: DataFrame, k: int, n_salts: int = 16, host_col: str = "host",
    eager: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Slice AND split in ONE frontier exchange: returns
    ``(sliced, rest)`` where ``sliced`` is exactly
    ``top_k_per_host(min_merge(frontier), k)`` and ``rest`` is
    ``min_merge(frontier)`` minus the slice — ``min_merge`` keeping the
    min-(depth, seq) row per (run_id, url), the J2 frontier-dedup rule.

    This is the engine's LSM-frontier hot path: the per-wave frontier may carry duplicate (run, url) rows (last wave's
    ``rest`` unioned with its admitted ``fresh`` — never merged), and
    this operator folds the dedup INTO the (host, salt) exchange the
    slice must pay anyway. The salt is a deterministic function of the
    url, so all duplicates of a URL land in the same (host, salt)
    partition and a partition-local window collapses them — no extra
    shuffle. Splitting (rather than anti-joining the slice back out of
    the frontier) makes ``rest`` a filter over the same exchanged data:
    the engine's former per-wave O(frontier) merge exchange, its hash
    aggregation, the slice anti-join, and the claim-preserving sorted
    checkpoint all disappear. Consumed rows leave via the split;
    re-admits re-enter via ``fresh`` — exactly the add/consume event
    algebra of the journal (store/lakehouse.py).

    Plan shape (tools/plan_audit.py asserts it): one
    ``repartition(host, salt)`` exchange satisfies both the dedup and
    the rank step (their keys are supersets of (host, salt), and
    HashPartitioning(host, salt) satisfies any clustering whose key
    set contains its expressions). The stage is
    exchange→dedup-window→rank-window over one _key-led sort plus the
    rank re-sort, all inside the one exchange; only the ≤ n_salts·k
    phase-1 survivors per host cross the second (tiny) exchange for
    the exact rank.

    The dedup window partitions by (_key, run_id, url, host, salt) and
    so LEADS its sort with the uniform 64-bit _key: the sorter's
    8-byte prefix is radix-friendly and almost every comparison
    resolves on one long instead of first scanning host/url strings
    that share their "http://" prefix. Only the within-group (depth,
    seq) order matters to the dedup, so the order of the partition
    keys is semantically free. Measured and rejected (the A/B is
    tools/slice_dedup_ab.py of commit 0248288, local[32], 8M rows):
    a host-led window sort; a groupBy-min SortAggregate (12.2 s vs
    10.3 s kernel total); and (depth, seq) packed into one long for a
    HashAggregate (11.9 s vs 10.8 s) — probing a hash table of ~N
    mostly-unique keys is memory-bound and loses to the radix-prefix
    sort (Analyzing Vectorized Hash Tables Across CPU Architectures,
    VLDB 2023).

    The ranked split point is localCheckpoint-ed here — it is the
    wave's single O(frontier) materialization (both returned frames
    filter it; without it the exchange would run once per consumer).
    ``eager=False`` defers that materialization to the caller's FIRST
    full-scan action over either returned frame (the engine's
    seen-delta count is one), merging the checkpoint job into an
    action the caller pays anyway — callers whose first action is NOT
    a full scan of one branch (e.g. a union of both) must keep
    ``eager=True`` or the exchange may run once per branch.
    """
    order = _order_cols(frontier)
    # pmod(·, 1) == 0: degenerate salt keeps the plan shape uniform
    # (and non-literal — window partition specs reject bare literals)
    salt = F.pmod(F.xxhash64("url"), F.lit(max(n_salts, 1)))
    rep = frontier.withColumn("_salt", salt)
    # politeness group column for the exchange + windows: the
    # frontier's own host_key when present, else a derived _hk column,
    # so the exchange hashes and the window sorts compare one long.
    # Dedup keys lead with _key when present (see docstring)
    dkeys = (["_key"] if "_key" in frontier.columns else []) + ["run_id", "url"]
    if "host_key" in frontier.columns:
        gcol = "host_key"
        dkeys += [gcol, "_salt"]
    else:
        rep = rep.withColumn("_hk", F.xxhash64(F.col(host_col)))
        gcol = "_hk"
        # _hk is a function of host: grouping by both = grouping by host
        dkeys += [gcol, "_salt", host_col]
    rep = rep.repartition(F.col(gcol), F.col("_salt"))
    w1 = Window.partitionBy(gcol, "_salt").orderBy(*order)
    w_d = Window.partitionBy(*dkeys).orderBy("depth", "seq")
    ranked = (
        rep.withColumn("_rd", F.row_number().over(w_d))
        .filter(F.col("_rd") == 1)
        .withColumn("_r1", F.row_number().over(w1))
        .drop("_rd", "_salt", "_hk")
        .localCheckpoint(eager=eager)
    )
    # phase 2 — exact rank over <= n_salts*k survivors per host (the
    # phase-1 cutoff is over DEDUPED rows, so the two-phase proof in
    # the module docstring applies unchanged)
    # the derived _hk is dropped before the checkpoint (rest feeds the
    # next wave's frontier union — no payload growth); the tiny phase-2
    # window re-derives the partition key over <= n_salts*k survivors
    # per group
    w2 = Window.partitionBy(_partition_key(ranked, host_col)).orderBy(*order)
    p2 = (
        ranked.filter(F.col("_r1") <= k).drop("_r1")
        .withColumn("rank", F.row_number().over(w2))
    )
    sliced = p2.filter(F.col("rank") <= k)
    # rest = phase-1 losers (big, exchange-free filter) + phase-2
    # losers (phase-1 survivors beyond the exact top-k — tiny)
    rest = ranked.filter(F.col("_r1") > k).drop("_r1").unionByName(
        p2.filter(F.col("rank") > k).drop("rank")
    )
    return sliced, rest
