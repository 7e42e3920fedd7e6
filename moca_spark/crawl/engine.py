"""The distributed crawl engine: iterative BFS waves over a global
frontier, all DataFrame ops.

One wave (= the reference's "every host's current task makes progress
for one politeness window") is ``CrawlEngine._step``, which runs these
phases in order, each with explicit inputs and outputs:

  slice_phase   top-budget rows per host in (depth, seq) order — the
                per-host politeness-bounded queue head (PartitionScheduler
                + Minion FIFO; operators/wave.py) — and the rest;
  seen_delta    the slice's min-depth rows pushed onto the seen state
                (SeenState; PgRunControl.scala:344-364);
  _fetch        left equi-join slice -> images corpus on image_id, the
                stand-in for HTTP GET (Minion.scala:110-117); missing
                row = fetch failure (URL consumed, no links);
  _expand       parents with depth < max_depth join the links graph
                (AHrefCriteria.scala:16-21), then the compiled criteria
                chain (criteria/stages.py);
  consolidate_admit  min (depth, parent_rank) per (run, url), then
                SeenState.admit: the optional bloom/cuckoo pre-filter
                (SeenFilter, filters/seen_filter.py), then exact
                classification vs seen — admit unseen or strictly-
                smaller depth (re-crawl, T8);
  merge         frontier = rest ∪ fresh, unmerged: the next slice's
                exchange keeps min (depth, seq) per (run, url) (J2);
  _commit       append the wave's results and events
                (store/lakehouse.py, the Akka journal analog), fold the
                seen state (its deltas and its filter's) every
                ``fold_every`` waves. Memory mode
                (durable=False: localCheckpoint, no resume — tests/
                bench) or the append-only event journal (durable=
                "eventlog", the default): O(delta) writes per wave while
                the live state chains in memory via localCheckpoint,
                re-aggregated only on resume/compaction, and a
                compaction is the snapshot (EventLogStore docstring).

bench_core.frontier_schedule_dedup (the north-star kernel) runs
slice_phase, seen_delta, consolidate_admit, merge and SeenState.fold on
synthetic state.

Scale notes (the 100 TB story):
- No unbounded per-host window anywhere: slicing is salted two-phase
  top-K; fresh-candidate seq needs no numbering at all (see
  crawl/oracle.py ordering contract).
- State joins/sorts are led by a 64-bit hash key (STATE_KEYS) with the
  URL string demoted to payload+tiebreak; AQE handles skew on the
  expand path; the links-graph join broadcasts the (small) parent side
  at runtime.
- The SEEN table (the 10^10 monster) is an LSM: folded base + per-wave
  deltas (SeenState), with its optional approximate filter kept in the
  same holder as a second LSM over the same keys (sharded shard-table
  base + stacked key deltas, folded with the seen deltas). The base is
  hash-partitioned and
  sorted by STATE_KEYS, preserved through AQE-off localCheckpoints
  (_materialize), so the per-wave admission join runs with ZERO
  exchange and ZERO sort on the base side (tools/plan_audit.py asserts
  this on the physical plan). Folds amortize the O(|seen|) rewrite
  over fold_every waves, and only the deltas shuffle.
- Per-wave frontier cost: one O(|frontier|) shuffle, the salted slice
  exchange that also dedups (operators/wave.py slice_split); the
  frontier is orders of magnitude smaller than seen at steady state.
- The runs/criteria table and robots rules are broadcast.
- Lineage is cut per wave (localCheckpoint), so plans stay one scan
  deep regardless of wave count.
- Python appears only in Arrow UDFs, and none of them in the wave
  loop: canonicalize and the PSL domain run once per engine over the
  link graph, whose src_domain/dst_domain columns the criteria read
  off the joined link rows (_link_graph). The exception is a
  canonical links table without domain columns (warned). Everything
  else is codegen'd JVM.
"""

from __future__ import annotations

import zlib
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moca_spark.criteria.dsl import Work
from moca_spark.criteria.stages import apply_criteria
from moca_spark.filters.seen_filter import SeenFilter, seen_filter
from moca_spark.functions.urls import (
    canonicalize_str,
    canonicalize_udf,
    domain_udf,
    url_host,
)
from moca_spark.operators.fetch import fetch_with_token_bucket
from moca_spark.operators.wave import slice_split
from moca_spark.store.lakehouse import EventLogStore, _reconstruct_state

SEQ_WAVE_STRIDE = 1 << 32
POLITENESS_INTERVAL_S = 5  # reference default, role/Task.scala:12
# run_id dictionary trim (round 5, after the host-string trim): run_id
# is tiny-cardinality (one per Work), so the hot loop carries a dense
# int ordinal assigned in SORTED run_id order instead of the string.
# (run_ord, url) <-> (run_id, url) is a bijection within one run()
# execution, so exact-identity joins stay exact, and sorted assignment
# makes ORDER BY (depth, seq, _key, run_ord, url) the SAME total order
# as the ordering contract's (depth, seq, _key, run_id, url) — no
# oracle change needed. Strings are re-attached on the budget-bounded
# slice and at every boundary (journal, CrawlResult), exactly like the
# host string. Same-JVM interleaved A/B (tools/runid_ab.py of commit
# 4424178, 8M rows): trim/carry 1.12 at local[8], 1.25 at local[32].
# Above this many runs the reverse-map array literal would bloat every
# plan — the trim disables itself (strings carried, still correct).
RUNID_TRIM_MAX_RUNS = 4096
# (round 6) a wave whose slice holds at most this many rows gets an
# EXPLICIT broadcast hint on the parent side of the expand join (the
# parent count is bounded by the slice count, which the wave measures
# exactly via the seen-delta checkpoint), and — on the plain exact
# path, where the consolidated candidates have a single consumer — the
# whole expand→consolidate→admit chain fuses into the one `fresh`
# materialization instead of paying a separate cand2 checkpoint job.
# 200k rows ~ tens of MB broadcast. Bigger waves keep the AQE-planned
# checkpointed shape (runtime broadcast + skew-join handling).
EXPAND_BROADCAST_MAX = 200_000

# Canonical state key: a 64-bit hash LEADS every state join/group/sort
# so per-row comparisons and sorts touch an 8-byte long first and the
# ~80-byte URL string only on hash-equal rows; run_id+url stay in the
# key set, so a hash collision can never merge distinct URLs.
STATE_KEYS = ["_key", "run_id", "url"]


def fold_frontier(frontier: DataFrame) -> DataFrame:
    """Min-merge a frontier that may carry duplicate (run, url) rows
    down to one min-(depth, seq) row each — the compaction step of the
    LSM frontier at run end."""
    return (
        frontier
        .groupBy(*STATE_KEYS)
        .agg(
            F.min(F.struct("depth", "seq")).alias("m"),
            F.first("host").alias("host"),
        )
        .select("_key", "run_id", "url", "host",
                F.col("m.depth").alias("depth"),
                F.col("m.seq").alias("seq"))
    )


@contextmanager
def _aqe_off(spark: SparkSession):
    """Plan with AQE off inside the block, restoring the conf on exit
    and on error (session-global; see _materialize). Also what makes a
    ``localCheckpoint(eager=False)`` actually lazy: under AQE, planning
    the checkpoint materializes every intermediate query stage eagerly
    (getFinalPhysicalPlan)."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _materialize(df: DataFrame, sort: bool = False,
                 aqe_off: bool = True) -> DataFrame:
    """localCheckpoint planned with AQE OFF: under AQE the
    checkpointed LogicalRDD reports UnknownPartitioning (the
    AdaptiveSparkPlan hides the final plan's partitioning), so every
    later state join would re-shuffle the big side. Planned without
    AQE, the checkpoint keeps outputPartitioning AND outputOrdering
    — downstream same-key joins/aggregations skip the exchange (and
    with ``sort=True`` the sort-merge sort) on this side entirely.
    State-merge plans are uniform hash-keyed shapes; they don't need
    AQE's skew handling (the expand/slice stages keep AQE).

    NOTE: this briefly mutates the session-global AQE conf — the
    engine assumes a single-threaded driver (one crawl loop per
    SparkSession, the deployment shape of jobs/crawl_job.py). A
    concurrent query planned on the same session during the window
    would plan without AQE; run concurrent workloads on their own
    SparkSession (``spark.newSession()``) if needed.

    ``aqe_off=False`` (round 6) keeps AQE for checkpoints whose
    partitioning claim nothing downstream needs — e.g. the admit
    output while the seen state is small enough that its joins
    broadcast (SeenState.small): AQE then coalesces the tiny stages
    instead of running full-width exchanges."""
    if sort:
        df = df.sortWithinPartitions(*STATE_KEYS)
    if not aqe_off:
        return df.localCheckpoint(eager=True)
    with _aqe_off(df.sparkSession):
        return df.localCheckpoint(eager=True)


@dataclass
class SeenState:
    """The seen-state LSM: the (monotonically growing, 10^10-target)
    seen table kept as a big folded ``base`` plus a stack of per-wave
    consume ``deltas``; the deltas fold into the base every
    ``fold_every`` waves. Per-wave work on the seen side is then
    O(delta) — the base is never unioned or re-shuffled per wave.

    ``rows_bound`` (round 6) is an exact upper bound on the state's row
    count — Σ of the per-wave slice counts the engine already measures;
    None when the size is unknown (a resumed state). While it stays
    under ``broadcast_max`` the admission joins BROADCAST the base and
    delta stack (guide §3.1: hint what you can prove small) and the
    admit materialization keeps AQE — coalesced tiny stages instead of
    full-width AQE-off exchanges. Once it crosses (the 10^10
    trajectory, immediately on any real crawl) the exchange-free
    sorted-base sort-merge path is used unchanged. Row bound, not
    bytes: ~100 B/row ⇒ 500k rows ~ 50 MB broadcast.

    ``filter`` (the engine's ``use_bloom``; filters/seen_filter.py) is
    the optional approximate summary of the same keys, kept in step
    here: ``push`` stacks the delta's keys on it, ``fold`` folds it,
    ``admit`` probes it."""

    base: DataFrame
    deltas: list[DataFrame] = field(default_factory=list)
    rows_bound: int | None = None
    broadcast_max: int = 0
    filter: SeenFilter | None = None

    def small(self) -> bool:
        """True while the state is PROVABLY tiny: the admission joins
        may broadcast and the admit materialization may keep AQE."""
        return self.rows_bound is not None and self.rows_bound <= self.broadcast_max

    def push(self, delta: DataFrame, n_rows: int) -> None:
        """Stack one wave's consume delta of ``n_rows`` rows, and its
        keys on the filter: a projection of the delta's checkpoint, no
        extra materialization."""
        self.deltas.append(delta)
        if self.rows_bound is not None:
            self.rows_bound += n_rows
        if self.filter is not None:
            self.filter.add(delta.select(F.col("_key").alias("k")), n_rows)

    def admit(self, cand: DataFrame, cols: list) -> DataFrame:
        """``cand``'s admitted rows, projected to ``cols``: the exact
        rule (admit_unseen), behind the filter when there is one (J1
        north rule). A filter MISS is definitive — those rows are
        admitted without touching the seen table; HITs go to the exact
        join, which alone decides (false positives cost join work,
        never correctness). The deletable cuckoo then evicts the keys
        it re-admits (T8), so its hit set stays tight under re-crawls;
        a deleted entry re-routes future candidates into the frontier
        min-merge (harmless dup), never drops one, and the URL is
        re-inserted when its re-crawl is sliced."""
        if self.filter is None:
            return self.admit_unseen(cand).select(*cols)
        tagged = self.filter.probe(cand)
        new = tagged.filter(~F.col("_maybe_seen")).select(*cols)
        checked = self.admit_unseen(tagged.filter(F.col("_maybe_seen")))
        if self.filter.deletable:
            # small: filter-hit admissions; with a big state AQE-off
            # keeps the base side of the admit join exchange-free
            checked = _materialize(checked, aqe_off=not self.small())
            self.filter.evict(checked.filter(F.col("_was_seen"))
                              .select(F.col("_key").alias("k")))
        return new.unionByName(checked.select(*cols))

    def admit_unseen(self, df: DataFrame) -> DataFrame:
        """The J1/T8 admission rule over the base+delta seen state:
        keep rows never seen, or seen only at a strictly larger depth
        (re-crawl, marked ``_was_seen`` for the cuckoo's eviction; a
        projection without it prunes it from the plan). One left join against the (big) base — which is
        hash-partitioned AND sorted by STATE_KEYS from the fold, so it
        joins with no exchange and no sort — and one against the
        (small) delta stack. While the whole state is provably small
        both sides take an explicit broadcast hint instead — same rows
        out, zero exchange and zero sort on the candidate side."""
        small = self.small()
        base = self.base.withColumnRenamed("best_depth", "_bd_base")
        out = df.join(F.broadcast(base) if small else base,
                      STATE_KEYS, "left")
        if self.deltas:
            d = self.deltas[0]
            for extra in self.deltas[1:]:
                d = d.unionByName(extra)
            d_min = d.groupBy(*STATE_KEYS).agg(
                F.min("best_depth").alias("_bd_delta")
            )
            out = out.join(F.broadcast(d_min) if small else d_min,
                           STATE_KEYS, "left")
        else:
            out = out.withColumn("_bd_delta", F.lit(None).cast("int"))
        bd = F.least("_bd_base", "_bd_delta")
        out = out.filter(bd.isNull() | (F.col("depth") < bd))
        return out.withColumn("_was_seen", bd.isNotNull()) \
            .drop("_bd_base", "_bd_delta")

    def fold(self) -> DataFrame:
        """Fold the filter's deltas, then the pending deltas into the
        base (min best_depth per (run, url)) — the LSM compaction. The
        base is already hash-partitioned by STATE_KEYS from the
        previous fold, so only the deltas shuffle; the rewrite cost is
        O(|seen|) local work, amortized over ``fold_every`` waves.
        Returns the new base."""
        if self.filter is not None:
            self.filter.fold()
        if not self.deltas:
            return self.base
        merged = self.base
        for d in self.deltas:
            merged = merged.unionByName(d)
        self.base = _materialize(
            merged.groupBy(*STATE_KEYS)
            .agg(F.min("best_depth").alias("best_depth")),
            sort=True,
        )
        self.deltas = []
        return self.base


def _rehost(df: DataFrame, partition_selector,
            drop_key: bool = False) -> DataFrame:
    """Re-derive the host string of a trimmed frame from its url
    (host ≡ partition_selector(url) for every frontier row — both
    creation sites compute exactly that)."""
    out = df.withColumn("host", partition_selector(F.col("url")))
    return out.drop("host_key") if drop_key else out


def _rerun_id(df: DataFrame, run_ords: list[str] | None) -> DataFrame:
    """Reverse of CrawlEngine._trim_runids: re-attach the run_id STRING
    from the carried ordinal (O(1) array index per row). The ordinal is
    KEPT as ``_run_ord`` so ord-space projections (seen delta,
    candidate consolidation) stay string-free; explicit-column
    boundary selects never pick it up."""
    if run_ords is None or dict(df.dtypes).get("run_id") == "string":
        return df
    arr = F.array(*[F.lit(r) for r in run_ords])
    return (
        df.withColumnRenamed("run_id", "_run_ord")
        .withColumn("run_id", F.element_at(arr, F.col("_run_ord") + 1))
    )


# -- the wave's phases shared with the north-star kernel ------------------

def slice_phase(frontier: DataFrame, budget: int, n_salts: int,
                partition_selector, run_ords: list[str] | None,
                ) -> tuple[DataFrame, DataFrame]:
    """(sliced, rest): the per-host politeness-bounded queue heads and
    the rest of the frontier — dedup + slice + split in the slice's own
    exchange; rest is a filter over the checkpointed ranked split
    point. eager=False: the split-point checkpoint materializes inside
    seen_delta's count (a full scan of sliced), not as its own job
    (round 6).

    The hot loop dropped the host + run_id strings (_trim_state);
    everything downstream of the slice (fetch politeness groups,
    results/events schemas) wants them — re-derived on the
    budget-bounded slice only (the ordinal rides along as _run_ord for
    the ord-space seen delta). ``sliced`` is cached: the caller
    unpersists it at the end of the wave."""
    sliced, rest = slice_split(frontier, budget, n_salts, eager=False)
    sliced = _rehost(_rerun_id(sliced, run_ords), partition_selector).cache()
    return sliced, rest


def seen_delta(sliced: DataFrame, seen: SeenState) -> int:
    """The row count of the slice's consume delta, which is pushed onto
    ``seen`` (and its filter) unless empty. Its count job is the wave's
    cache-populating action on the slice, and the count doubles as the
    loop's emptiness signal (an empty slice ⟺ an empty frontier, so
    run() needs no per-wave isEmpty action) and picks the fetch-prune
    shape (_pruned_images).
    Lazy checkpoint + count(): the count job IS the materialization
    (eager=True would run the same job internally), so the row count
    comes for free."""
    delta = sliced.select(
        "_key",
        # ord space when trimming: the delta folds into the ord-space
        # seen base and feeds the STATE_KEYS admit join
        (F.col("_run_ord").alias("run_id")
         if "_run_ord" in sliced.columns else F.col("run_id")),
        "url", F.col("depth").alias("best_depth")
    ).localCheckpoint(eager=False)
    n_rows = delta.count()
    if n_rows:
        seen.push(delta, n_rows)
    return n_rows


def consolidate_admit(cand: DataFrame, seen: SeenState, wave: int,
                      partition_selector, checkpoint: bool = False) -> DataFrame:
    """The wave's admitted ``fresh`` frontier rows, materialized:
    expand candidates (``run_id``, ``dst_url``, ``dst_host``,
    ``depth``, ``parent_rank``, and ``_run_ord`` in trim mode)
    consolidated per (run, url) to min (depth, parent_rank), then
    classified against ``seen`` (re-crawl on strictly smaller depth).

    Consolidation groups by EXACTLY the state keys (round 6): dst_host
    is a pure function of dst_url (url_host), so it rides as first()
    instead of a group key — the aggregate's output partitioning (_key,
    run, url) then matches the admit join's clustering, and its
    SortAggregate ordering doubles as the join's sort: in the fused
    plan the candidates cross ONE exchange between expansion and
    admission, with zero extra sort. The state key is computed BEFORE
    consolidation (it needs the run_id STRING, still on cand rows); in
    trim mode the groupBy runs in ord space — the run_id string never
    enters the consolidation exchange. Grouping by (_run_ord, dst_url)
    is the same partition of rows as (run_id, dst_url): the ordinal <->
    run_id map is a bijection.

    The consolidated candidates are materialized on their own (AQE on)
    before admission when ``checkpoint`` asks (a slice above
    EXPAND_BROADCAST_MAX, whose skew-prone expand join keeps AQE) or
    when ``seen`` has a filter (SeenState.admit probes them AND routes
    both halves onward). Otherwise they have ONE consumer, the
    admission join, and expand → criteria → consolidate → admit →
    project fuse into the one ``fresh`` materialization (one job
    instead of two per wave). The materialization plans the admit
    joins (SeenState.admit): with a big state
    the AQE-off planning keeps the base side exchange-free/sort-free
    (see _materialize); with a provably small state the joins broadcast
    instead and AQE stays on to coalesce the tiny stages. It also makes
    ``fresh`` single-compute for its two consumers (merge + events)."""
    rcol = "_run_ord" if "_run_ord" in cand.columns else "run_id"
    cand2 = (
        cand.withColumn("_key", CrawlEngine._seen_key(url_col="dst_url"))
        .groupBy("_key", rcol, "dst_url")
        .agg(F.min(F.struct("depth", "parent_rank")).alias("m"),
             F.first("dst_host").alias("dst_host"))
        .select(
            F.col(rcol).alias("run_id"),
            F.col("dst_url").alias("url"),
            F.col("dst_host").alias("host"),
            F.col("m.depth").alias("depth"),
            F.col("m.parent_rank").alias("parent_rank"),
            "_key",
        )
    )
    if checkpoint or seen.filter is not None:
        cand2 = cand2.localCheckpoint(eager=True)
    fresh_cols = [
        "_key", "run_id", "url",
        # the hot loop carries the politeness hash only
        # (host ≡ partition_selector(url))
        F.xxhash64(partition_selector(F.col("url"))).alias("host_key"),
        "depth",
        (F.lit(wave * SEQ_WAVE_STRIDE) + F.col("parent_rank")).alias("seq"),
    ]
    return _materialize(seen.admit(cand2, fresh_cols),
                        aqe_off=not seen.small())


def merge(rest: DataFrame, fresh: DataFrame) -> DataFrame:
    """The next wave's frontier. It keeps min (depth, seq) per (run,
    url), deferred into the next wave's slice_split: the union is lazy
    over two checkpoints (ranked rest + fresh), so no per-wave merge
    exchange, aggregate or materialization."""
    return rest.unionByName(fresh)


@dataclass
class CrawlResult:
    frontier: DataFrame
    seen: DataFrame
    results: DataFrame | None
    waves: int

    @property
    def metrics(self) -> DataFrame | None:
        """Per-wave, per-partition counts (A7/S4): ``results`` grouped
        by (wave, host) — ``host`` is the moca partition
        (``partition_selector``) — with ``scheduled`` rows and
        ``fetched`` successes. A view: nothing stores it."""
        if self.results is None:
            return None
        return self.results.groupBy("wave", "host").agg(
            F.count("*").alias("scheduled"),
            F.sum(F.col("fetched").cast("long")).alias("fetched"),
        )

    def crawl_order(self) -> DataFrame:
        """Per-host fetch order (host, pos, url, depth) — golden shape
        (FIXTURES.md §6). pos = position within the host across waves."""
        from pyspark.sql import Window

        w = Window.partitionBy("host").orderBy("wave", "rank")
        return self.results.select(
            "host", "wave", "rank", "url", "depth", "run_id"
        ).withColumn("pos", F.row_number().over(w))

    def final_links(self, run_id: str) -> DataFrame:
        """GetLinks (entry point 3, Master.scala:208-216 +
        PgRunControl.scala:209-211): the combined ContentLinks transfer
        of a work — every fetched (url, depth, content_uri, content_hash)
        row; a re-crawled URL keeps its LATEST fetch (the reference's
        combined transfer concatenates partials in order and readers
        take the last occurrence — CombinedLinksTransfer.scala:5-9)."""
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(F.desc("wave"), F.desc("rank"))
        return (
            self.results.filter(F.col("run_id") == run_id)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url", "depth", "content_uri", "content_hash")
        )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        links: DataFrame,
        images: DataFrame,
        robots: DataFrame | None = None,
        budget: int = 8,
        checkpoint_dir: str | None = None,
        n_salts: int = 16,
        durable: bool | str = "eventlog",
        use_bloom: bool | str = False,
        bloom_capacity: int = 1_000_000,
        use_token_bucket: bool = False,
        partition_selector=None,
        verify_fetch: bool = False,
        compact_every: int = 0,
        links_canonical: bool = False,
        fold_every: int = 8,
        fetch_prune: int = 200,
        corpus_buckets: int = 0,
        state_broadcast_max: int = 500_000,
    ):
        self.spark = spark
        self.images = images
        self.robots = robots
        self.budget = budget
        self.n_salts = n_salts
        # durable: "eventlog" (append-only delta journal +
        # reconstruction, O(delta) writes per wave; store/lakehouse.py
        # EventLogStore) | False (localCheckpoint, no store, no resume
        # — tests/bench)
        if durable not in (False, "eventlog"):
            raise ValueError(
                f"durable={durable!r}: use 'eventlog' or False (the "
                "full-state snapshot layout was removed)")
        if use_bloom not in (False, "sharded", "cuckoo"):
            raise ValueError(
                f"use_bloom={use_bloom!r}: use False, 'sharded' or "
                "'cuckoo' (the broadcast monolith bloom was removed)")
        self.durable = durable
        self.bloom_capacity = bloom_capacity
        self.use_token_bucket = use_token_bucket
        # fetch_prune=N: a wave of <= N slice rows pushes its image-ids
        # as one literal In filter into the corpus scan, so the fetch
        # join reads O(slice) instead of the whole corpus table — THE
        # 100 TB fetch story. N stays under the session's
        # parquet.pushdown.inFilterThreshold (256), above which parquet
        # degrades the In to a min/max range. Larger waves read only
        # their buckets' files on a bucketed corpus, else the full
        # table; 0 disables (_pruned_images).
        self.fetch_prune_threshold = fetch_prune
        # corpus_buckets=B: the images table was written by
        # write_corpus_bucketed(n_buckets=B), so a wave above
        # fetch_prune reads only the files of the buckets its ids hash
        # to (pmod(hash(id), B) — F.hash IS Spark's bucketing hash,
        # Murmur3 seed 42)
        self.corpus_buckets = corpus_buckets
        self._corpus_bucket_files: dict[int, list[str]] | None = None
        self._warned_unbucketed = False
        # use_bloom: False | "sharded" (per-hash-range bitmap table —
        # the 10^10 layout where one broadcast bloom would be ~18 GB) |
        # "cuckoo" (deletable variant, same layout): the seen state's
        # filter (SeenState.filter, filters/seen_filter.py), built per
        # run()
        self.bloom_mode = use_bloom
        # input_hint per-row invariant enforced DURING the crawl:
        # decode each fetched image, PSNR >= 40 dB vs source pixels
        self.verify_fetch = verify_fetch
        self.compact_every = compact_every  # eventlog: fold journal every N waves
        # seen-state LSM (SeenState), built per run(); its deltas fold
        # into the base every `fold_every` waves
        self.fold_every = max(1, fold_every)
        self._seen: SeenState | None = None
        # LSM frontier: the per-wave frontier is last wave's ``rest``
        # unioned with its admitted ``fresh`` — NEVER min-merged per
        # wave. Dedup happens inside the slice's own (host, salt)
        # exchange (operators/wave.py slice_split), and rest comes back
        # as a filter over the same exchanged data, so frontier rows
        # cross the wire ONCE per wave. Duplicates are at most one
        # fresh layer deep (rest is dedup output, fresh is unique per
        # (run, url)); a full min-merge fold runs only at run end,
        # journal compaction, and resume reconstruction. The hot loop
        # carries run ordinals, not run_id strings (RUNID_TRIM_MAX_RUNS).
        # state_broadcast_max (round 6): the seen state's admission
        # joins broadcast while its exact row bound stays under this
        # threshold (SeenState.small; None after a resume)
        self.state_broadcast_max = state_broadcast_max
        self._run_ords: list[str] | None = None
        self._run_criteria: dict[str, F.Column] | None = None
        # U3 partition selector (partition/PartitionSelector.scala:6-16;
        # default = ByHostPartitionSelector): Column -> partition key.
        # The frontier 'host' column IS the partition key; criteria
        # filters keep using the real URL host/domain.
        self.partition_selector = partition_selector or url_host
        self._results_acc: list[DataFrame] = []
        # memory mode keeps its results increments in _results_acc
        # and has no store at all; the journal needs a dir the caller
        # owns (a temp dir nothing deletes would leak a journal per
        # engine)
        if durable and not checkpoint_dir:
            raise ValueError(
                "durable='eventlog' journals into checkpoint_dir: pass "
                "checkpoint_dir, or use durable=False for an in-memory "
                "crawl without a journal")
        self.store: EventLogStore | None = (
            EventLogStore(spark, checkpoint_dir) if durable else None
        )
        # Canonicalize the graph once: both endpoints normalized, invalid
        # dropped (R9 scheme whitelist happens inside canonicalize).
        # The graph is re-joined every wave. Two input shapes:
        # - raw links (default): canonicalize once per engine, into a
        #   local checkpoint the first wave materializes (the
        #   pandas-UDF normalization must not re-run per wave);
        # - links_canonical=True: the table is already normalized —
        #   typically a parquet dir PARTITIONED BY src_host, which lets
        #   the per-wave expand join prune to the scheduled hosts'
        #   partitions via dynamic partition pruning instead of
        #   scanning the whole web graph (the 10^10 expand-join story).
        #   Optional src_domain/dst_domain columns (the ingest layout)
        #   are used as they are; without them the PSL domains are
        #   derived on the pruned link rows (_link_graph warns once).
        # Either way the wave loop reads src_domain/dst_domain off the
        # joined link rows (url/Url.scala:25-26: the domain is a
        # derived field of the URL) and never calls the domain UDF.
        self.links_canonical = links_canonical
        self.prune_hosts_threshold = 10_000
        if links_canonical:
            self.links = links
            if "src_host" not in self.links.columns:
                self.links = self.links.withColumn(
                    "src_host", url_host(F.col("src_url"))
                )
        else:
            self.links = (
                links.select(
                    canonicalize_udf("src_url").alias("src_url"),
                    canonicalize_udf("dst_url").alias("dst_url"),
                )
                .filter(F.col("src_url").isNotNull() & F.col("dst_url").isNotNull())
                .distinct()
                .withColumn("src_host", url_host(F.col("src_url")))
            )
        # raw links materialize once, in the first run (_link_graph)
        self._links_checkpointed = False
        self.runs: list[dict] = []
        self.custom_by_name: dict[str, tuple[str, ...]] = {}

    # -- entry point 1: AddWork (SeedInputParser -> PgRunControl.add) ----
    def add_works(self, works: list[Work]) -> int:
        """Register works; duplicate work ids are skipped (A6,
        PgRunControl.scala:71-74). Returns number actually added.

        Seed URLs are canonicalized here (the reference canonicalizes at
        Url construction, url/Url.scala) so programmatic Works behave
        like file-parsed ones — links and corpus are keyed by canonical
        URLs, so a raw 'http://Example.com/a#f' seed would otherwise
        silently never fetch. Invalid seeds raise, mirroring
        parse_seed_lines."""
        existing = {r["run_id"] for r in self.runs}
        added = 0
        for w in works:
            if w.work_id in existing:
                continue
            seed = canonicalize_str(w.seed_url)
            if seed is None:
                raise ValueError(f"invalid seed url: {w.seed_url!r}")
            existing.add(w.work_id)
            spec = w.criteria
            self.runs.append(
                {
                    "run_id": w.work_id,
                    "seed_url": seed,
                    "seed_seq": len(self.runs),
                    **spec.as_row(),
                }
            )
            if spec.custom_filters:
                self.custom_by_name[spec.name] = spec.custom_filters
            added += 1
        return added

    def _trim_state(self, frontier: DataFrame,
                    seen: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Boundary-loaded (frontier, seen) -> the hot-loop schema:
        host string -> ``host_key`` on the frontier (below) and run_id
        string -> dense ordinal on both (_trim_runids).

        LSM hot-loop schema (round 5): demote the host STRING out of
        the per-wave frontier payload, carrying the 64-bit politeness
        key ``host_key = xxhash64(host)`` instead. The string rode the
        (host_key, salt) exchange, both rank-window sorts, the ranked
        checkpoint and the rest∪fresh union purely as payload — ~20% of
        the UnsafeRow bytes — since the partition key is already its
        hash (operators/wave.py) and ``host`` is a deterministic
        function of url (``partition_selector``), so it is re-derived
        on the budget-bounded slice (``_rehost``) and at
        run-end/journal boundaries only. Same-JVM interleaved A/B
        (tools/payload_ab.py of commit 8fa23d2, 8M rows): +9% at
        local[8], and at local[32] the schedule stage dropped
        11.3→4.8 s — the wider rows were crossing the per-task
        execution-memory threshold under 32-way concurrency. Stored
        schemas are unchanged: the journal and CrawlResult still carry
        ``host``."""
        if "host_key" not in frontier.columns:
            frontier = (frontier
                        .withColumn("host_key", F.xxhash64(F.col("host")))
                        .drop("host"))
        seen_t = self._trim_runids(seen)
        if seen_t is not seen:
            # the trim rewrote the base: materialize ONCE (sorted,
            # AQE-off) so the mapping join never re-plans inside the
            # per-wave admission join — it would otherwise re-exchange
            # + re-sort the base EVERY wave until the first fold
            # (measured: +2 s/wave on the e2e bench)
            seen_t = _materialize(seen_t, sort=True)
        return self._trim_runids(frontier), seen_t

    def _trim_runids(self, df: DataFrame) -> DataFrame:
        """run_id string -> dense int ordinal (sorted-run_id order; see
        the constructor comment). Boundary-loaded state may only carry
        run_ids the caller re-registered via add_works — the contract
        every resume path already obeys (criteria come from self.runs)
        — and this is enforced LOUDLY: an unknown run_id raises at scan
        time instead of silently dropping rows."""
        if self._run_ords is None or dict(df.dtypes).get("run_id") != "string":
            return df
        # via pandas: the Arrow createDataFrame path plans a JVM-only
        # scan; the list path would plan a PythonRDD that runs pickle
        # workers on every later read (round 6, see sources/synth.py)
        ords = self.spark.createDataFrame(
            pd.DataFrame({"run_id": list(self._run_ords),
                          "_ord": range(len(self._run_ords))}),
            "run_id string, _ord int",
        )
        return (
            df.join(F.broadcast(ords), "run_id", "left")
            .withColumn(
                "_ord",
                F.coalesce(
                    F.col("_ord"),
                    F.raise_error(F.concat(
                        F.lit("state row carries a run_id absent from "
                              "this engine's runs (re-add_works before "
                              "resume): "), F.col("run_id"))).cast("int"),
                ),
            )
            .drop("run_id")
            .withColumnRenamed("_ord", "run_id")
        )

    def _criteria_lookups(self) -> dict[str, F.Column]:
        """Per-run criteria as O(1) literal-array lookups on the
        carried run ordinal (trim mode, round 6): the criteria are
        driver-side constants, so the expand phase attaches them
        without the per-wave runs broadcast join. Built once per
        run(), next to ``_run_ords``; bounded by RUNID_TRIM_MAX_RUNS
        literals per array, exactly like _rerun_id."""
        by_id = {r["run_id"]: r for r in self.runs}
        return {
            c: F.element_at(
                F.array(*[F.lit(by_id[rid][c]) for rid in self._run_ords]),
                F.col("_run_ord") + 1)
            for c in ("criteria_name", "max_depth", "same_host",
                      "same_domain", "robots_txt")
        }

    def _runs_df(self) -> DataFrame:
        cols = ["run_id", "seed_url", "seed_seq", "criteria_name",
                "max_depth", "same_host", "same_domain", "robots_txt"]
        # via pandas for the Arrow createDataFrame path (no PythonRDD
        # pickle scan on the per-wave reads; round 6)
        return self.spark.createDataFrame(
            pd.DataFrame([[r[c] for c in cols] for r in self.runs],
                         columns=cols),
            "run_id string, seed_url string, seed_seq long, "
            "criteria_name string, max_depth int, same_host boolean, "
            "same_domain boolean, robots_txt boolean",
        )

    def _initial_state(self) -> tuple[DataFrame, DataFrame]:
        runs = self._runs_df()
        frontier = runs.select(
            "run_id",
            F.col("seed_url").alias("url"),
            self.partition_selector(F.col("seed_url")).alias("host"),
            F.lit(0).alias("depth"),
            F.col("seed_seq").alias("seq"),
        ).withColumn("_key", self._seen_key())
        seen = frontier.select("_key", "run_id", "url", "depth") \
            .filter(F.lit(False)) \
            .withColumnRenamed("depth", "best_depth")
        return frontier, seen

    # -- entry point 2: the crawl loop (SELECT) ---------------------------
    def run(self, max_waves: int = 10_000, resume: bool = False) -> CrawlResult:
        if resume and not self.durable:
            raise ValueError(
                "resume=True needs durable='eventlog': a memory-mode "
                "engine has no journal to resume from")
        if resume and self.store.latest_wave() is not None:
            # loaded state of unknown size: disable the small-state
            # broadcast fast path (the sorted-base SMJ shape is always
            # correct; see SeenState)
            rows_bound = None
            start = self.store.latest_wave()
            frontier, seen = self._reconstruct()
        else:
            start = 0
            rows_bound = 0  # empty seen state
            frontier, seen = self._initial_state()
            if self.durable:
                self.store.append_events(
                    0,
                    frontier.select(
                        "run_id", "url", "host", "depth", "seq",
                        F.lit("add").alias("kind"), F.lit(0).alias("wave"),
                    ),
                )
                frontier, seen = self._reconstruct()
            else:
                frontier = frontier.localCheckpoint(eager=True)
                seen = seen.localCheckpoint(eager=True)
        # hot-loop schema: host string -> 64-bit host_key, run_id
        # string -> dense ordinal (see _trim_state/_trim_runids); the
        # boundaries (journal, resume loads) carry the string schema.
        # The dictionary is rebuilt per run(): a stale one from a
        # previous run() must never leak into this one
        rids = sorted({r["run_id"] for r in self.runs})
        self._run_ords = rids if len(rids) <= RUNID_TRIM_MAX_RUNS else None
        self._run_criteria = (
            self._criteria_lookups() if self._run_ords is not None else None
        )
        frontier, seen = self._trim_state(frontier, seen)
        # a resumed state rebuilds its filter from the seen keys (T5)
        self._seen = SeenState(
            seen, rows_bound=rows_bound,
            broadcast_max=self.state_broadcast_max,
            filter=seen_filter(self.bloom_mode, self.bloom_capacity,
                               seen if rows_bound is None else None))

        runs_b = F.broadcast(self._runs_df())
        links = self._link_graph()
        wave = start
        self.wave_times: list[float] = []
        import time as _time

        while wave < max_waves:
            _t0 = _time.monotonic()
            # no per-wave isEmpty action: _step's own slice count (a
            # job every wave pays anyway) doubles as the emptiness
            # signal — it returns None on an exhausted frontier before
            # committing anything (round 6, one fewer action per wave)
            stepped = self._step(wave + 1, frontier, runs_b, links)
            if stepped is None:
                break
            wave += 1
            frontier = stepped
            self.wave_times.append(_time.monotonic() - _t0)
            if (self.durable and self.compact_every
                    and wave % self.compact_every == 0):
                self.store.compact(wave)
                frontier, seen = self._trim_state(*self._reconstruct())
                self._seen = SeenState(seen, rows_bound=self._seen.rows_bound,
                                       broadcast_max=self.state_broadcast_max,
                                       filter=self._seen.filter)

        seen = self._seen.fold()
        # compact the one-fresh-layer-deep LSM view down to the merged
        # contract shape callers (and the oracle) see — re-deriving the
        # host + run_id strings the hot loop dropped
        frontier = fold_frontier(_rehost(
            _rerun_id(frontier, self._run_ords).drop("_run_ord"),
            self.partition_selector, drop_key=True))
        seen = _rerun_id(seen, self._run_ords).drop("_run_ord")
        results = (self.store.all_results() if self.durable
                   else self._union_acc(self._results_acc))
        return CrawlResult(frontier, seen, results, wave)

    def _union_acc(self, acc: list[DataFrame]) -> DataFrame | None:
        if not acc:
            return None
        out = acc[0]
        for df in acc[1:]:
            out = out.unionByName(df)
        return out

    def _needs_domains(self) -> bool:
        """True iff some run's criteria (same-domain) or any registered
        custom filter could read the domain columns."""
        return bool(self.custom_by_name) or any(
            r["same_domain"] for r in self.runs
        )

    def _link_graph(self) -> DataFrame:
        """The link graph one run() expands over, carrying
        ``src_domain``/``dst_domain`` columns, so the criteria read
        them off the joined link rows and the wave loop never crosses
        the Arrow boundary for PSL domains. Called once per run():

        - a table that has both columns (canonical ingest layout, or
          derived by an earlier run of this engine) is used as is;
        - no run reads domains: null literals, free;
        - raw links: canonicalization and the domain UDF run once per
          engine, into a LAZY local checkpoint — the first wave's job
          materializes it, so run() start stays free of Python work.
          A checkpoint, not ``cache()``: the cache manager shares
          cached data between equal plans, so another engine over the
          same input (or anyone unpersisting its blocks) could turn
          this graph back into a per-wave recomputation;
        - canonical links without the columns: derived on the scan,
          so the UDF runs per wave on the host-pruned link rows only
          (warned, once: the derived frame replaces ``self.links``).
        """
        links = self.links
        if (self._needs_domains()
                and not {"src_domain", "dst_domain"} <= set(links.columns)):
            if self.links_canonical:
                import warnings

                warnings.warn(
                    "links_canonical table has no src_domain/dst_domain "
                    "columns but a run needs domains (same_domain "
                    "criteria or a custom filter): the PSL domain UDF "
                    "now runs on the pruned link rows every wave. Write "
                    "the domains into the links table to take it out "
                    "of the wave loop",
                    stacklevel=3,
                )
            links = links.withColumns({
                "src_domain": domain_udf(F.col("src_host")),
                "dst_domain": domain_udf(url_host(F.col("dst_url"))),
            })
            self._links_checkpointed = False
        if not (self.links_canonical or self._links_checkpointed):
            with _aqe_off(self.spark):  # AQE would run the distinct's
                # shuffle stage at planning time (see _aqe_off)
                links = links.localCheckpoint(eager=False)
            self._links_checkpointed = True
        self.links = links
        if "dst_domain" not in links.columns:
            none = F.lit(None).cast("string")
            links = links.withColumns({"src_domain": none, "dst_domain": none})
        return links

    def _reconstruct(self) -> tuple[DataFrame, DataFrame]:
        """(frontier, seen) from the committed journal — called only
        after wave 0 committed, so the log exists (read_log raises on a
        committed wave whose events are gone). The journal itself stays
        hash-free; the state key is recomputed here (one projection
        over the aggregated state)."""
        frontier, seen = _reconstruct_state(self.store.read_log())
        return (
            frontier.withColumn("_key", self._seen_key()),
            seen.withColumn("_key", self._seen_key()),
        )

    @staticmethod
    def _seen_key(run_col: str = "run_id", url_col: str = "url") -> F.Column:
        """64-bit bloom key over (run, url) — xxhash64, JVM-side."""
        return F.xxhash64(F.concat_ws("\x00", F.col(run_col), F.col(url_col)))

    def _pruned_links(self, sliced: DataFrame, n_rows: int,
                      parents: DataFrame, links: DataFrame) -> DataFrame:
        """The links-graph side (``links``, the run's _link_graph) of
        the expand join, pruned to the wave's scheduled hosts. Joining
        on (src_url, src_host) —
        src_url alone determines the match; the redundant src_host key
        enables partition pruning on a src_host-partitioned links
        table. The hosts come from the cached ``sliced`` of ``n_rows``
        rows (a superset of the ``parents``' hosts, so the rows are the
        same; collecting them from ``parents`` would run the fetch join
        again): a plain narrow collect while ``n_rows`` bounds their
        count, else at most prune_hosts_threshold + 1 distinct ones.
        With links_canonical, two pruning shapes by host count:

        - <= prune_hosts_threshold hosts: a literal host-list filter —
          static PartitionFilters on the scan, each wave reads only the
          scheduled hosts' graph partitions, not the whole web;
        - above the threshold (a literal list that big would bloat
          every plan and the driver): a broadcast LEFT SEMI join on the
          distinct scheduled hosts — on a partitioned links table Spark
          inserts a dynamicpruningexpression into the scan's
          PartitionFilters (DPP), so pruning survives ANY host count
          instead of silently disappearing (tools/plan_audit.py
          asserts the DPP shape). The semi join keeps ``parents`` as
          its host side: DPP needs a selective filter there, and the
          cached slice shows the optimizer none."""
        if not self.links_canonical:
            return links
        hosts_df = sliced.select(url_host(F.col("url")).alias("src_host"))
        if n_rows > self.prune_hosts_threshold:
            hosts_df = hosts_df.distinct().limit(self.prune_hosts_threshold + 1)
        hosts = sorted({r.src_host for r in hosts_df.collect()} - {None})
        if 0 < len(hosts) <= self.prune_hosts_threshold:
            return links.filter(F.col("src_host").isin(hosts))
        if hosts:
            return links.join(
                F.broadcast(parents.select("src_host").distinct()),
                "src_host", "left_semi",
            )
        return links

    def _pruned_images(self, sliced: DataFrame, n_rows: int) -> DataFrame:
        """The corpus side of the fetch join, pruned to this wave's
        slice of ``n_rows`` rows — per-wave fetch reads O(slice),
        independent of corpus size (the round-2 scale-killer: the old
        shape scanned the whole corpus table every wave). Three shapes:

        - ``n_rows`` <= fetch_prune_threshold: the slice's ids (at most
          ``n_rows``, so a plain narrow collect of the cached slice)
          are pushed into the corpus scan as ONE literal In filter,
          under the session's parquet.pushdown.inFilterThreshold, so
          parquet applies it exactly: a bucketed corpus reads only the
          bucket files the ids hash to, and sorted image_id row-group
          stats and bloom filters skip inside them;
        - a larger slice on a bucketed corpus (corpus_buckets): only the
          touched buckets' files (_bucket_pruned_images), bounded at any
          slice size;
        - anything else, or fetch_prune_threshold=0: the full join (an
          unbucketed corpus warns once).

        Every shape feeds the left fetch join a superset of the slice's
        corpus rows, so the choice moves cost, never rows.
        tools/plan_audit.py asserts the plan shapes; tools/fetch_bench.py
        measures rows read under 8x corpus growth."""
        if not self.fetch_prune_threshold:
            return self.images
        if n_rows <= self.fetch_prune_threshold:
            ids = sorted({
                r.image_id for r in sliced.select(
                    F.sha1(F.encode("url", "UTF-8")).alias("image_id")
                ).collect()
            })
            return self.images.filter(F.col("image_id").isin(ids))
        if self.corpus_buckets:
            return self._bucket_pruned_images(sliced, n_rows)
        if not self._warned_unbucketed:
            import warnings

            self._warned_unbucketed = True
            warnings.warn(
                "a wave scheduled more than fetch_prune="
                f"{self.fetch_prune_threshold} URLs against an "
                "UNBUCKETED corpus: every such wave rescans the "
                "whole corpus table. Write the corpus with "
                "store.lakehouse.write_corpus_bucketed and pass "
                "corpus_buckets= so big waves prune to the touched "
                "buckets' files instead",
                stacklevel=2,
            )
        return self.images

    def _bucket_files(self) -> dict[int, list[str]]:
        """bucket id -> parquet files of the bucketed corpus, parsed
        from the Spark bucketed-file naming convention
        (``part-<task>-<uuid>_<bucket:05d>.c000...``). Built once per
        engine — the corpus is immutable during a crawl. Empty dict =
        layout not recognized OR not consistent with ``corpus_buckets``
        (caller falls back to the correct-by-construction full join).

        The constructor's ``corpus_buckets`` is correctness-bearing on
        this path (a wrong value silently prunes real fetches into
        misses), so the layout hypothesis is VALIDATED, once, before
        any pruning:

        - every parsed bucket id must be < corpus_buckets (catches a
          configured count smaller than the physical one);
        - a sample of rows from a few files must hash to their file's
          bucket id under pmod(hash(image_id), corpus_buckets)
          (catches a larger configured count and a corpus bucketed on
          a different column — each sampled row of a mis-declared
          layout agrees only by 1/k chance, so ~20 rows make a false
          pass negligible)."""
        if self._corpus_bucket_files is None:
            import re as _re

            mapped: dict[int, list[str]] = {}
            for f in self.images.inputFiles():
                m = _re.search(r"_(\d{5})\.c000", f)
                if not m:
                    mapped = {}
                    break
                mapped.setdefault(int(m.group(1)), []).append(f)
            if mapped and not self._validate_bucket_layout(mapped):
                mapped = {}
            self._corpus_bucket_files = mapped
        return self._corpus_bucket_files

    def _validate_bucket_layout(self, mapped: dict[int, list[str]]) -> bool:
        import warnings

        if max(mapped) >= self.corpus_buckets:
            warnings.warn(
                f"corpus_buckets={self.corpus_buckets} but the corpus "
                f"layout has bucket ids up to {max(mapped)} — bucket "
                "pruning disabled, falling back to the full fetch join "
                "(pass the n_buckets the corpus was actually written "
                "with; see store.lakehouse.write_corpus_bucketed)",
                stacklevel=3,
            )
            return False
        # sample rows from up to 8 files; every row must land in its
        # file's bucket under the declared (column, count) hypothesis.
        # F.hash IS Spark's bucketing hash (Murmur3 seed 42).
        # Buckets are sampled evenly ACROSS the parsed range (not the
        # first 8) and the probed file is a deterministic pseudo-random
        # pick per bucket (round-5 advice: first-file-of-first-buckets
        # sampling could pass a corpus with files appended later under
        # a different layout). Bounded: still <= 8 file reads. Mixed
        # layouts that dodge this sample — same filename convention,
        # consistent ids only in the probed files — remain out of
        # scope; append to a bucketed corpus only via
        # write_corpus_bucketed with the same n_buckets.
        items = sorted(mapped.items())
        stride = max(1, len(items) // 8)
        sample = [
            (b, fs[zlib.crc32(str(b).encode()) % len(fs)])
            for b, fs in items[::stride][:8]
        ]
        for b, f in sample:
            rows = (
                self.spark.read.schema(self.images.schema).parquet(f)
                .select(
                    F.pmod(F.hash("image_id"), F.lit(self.corpus_buckets))
                    .alias("_b"))
                .limit(20).collect()
            )
            if any(r._b != b for r in rows):
                warnings.warn(
                    f"corpus file for bucket {b} holds rows hashing "
                    f"elsewhere under pmod(hash(image_id), "
                    f"{self.corpus_buckets}) — the corpus was bucketed "
                    "with a different count or column; bucket pruning "
                    "disabled, falling back to the full fetch join",
                    stacklevel=3,
                )
                return False
        return True

    def _bucket_pruned_images(self, sliced: DataFrame, n_rows: int) -> DataFrame:
        """Bucket-level corpus pruning for slices ABOVE
        fetch_prune_threshold (a production wave at the 10^10 target
        schedules ~10^5-10^6 URLs, far past what one pushed In can
        carry).
        Collecting the slice's distinct BUCKET ids is bounded at
        <= corpus_buckets values for ANY slice size, so the driver
        cost stays O(buckets); reading only those buckets' files makes
        the fetch scan O(touched_buckets/B x corpus) instead of
        O(corpus). The file-list read loses the catalog's bucket
        metadata (no bucketed-join claim), which the fetch join never
        relied on — the slice side broadcasts. On Iceberg this is the
        ``bucket(B, image_id)`` partition-transform prune (README
        divergence #6).

        From 8 rows per bucket on, the collect is skipped: n ids leave
        each of B buckets untouched with chance (1 - 1/B)^n <= e^(-n/B),
        at most e^-8 here, so its answer would be "every bucket"."""
        files_by_bucket = self._bucket_files()
        if not files_by_bucket or n_rows >= 8 * self.corpus_buckets:
            return self.images
        id_col = F.sha1(F.encode("url", "UTF-8"))
        # F.hash IS Spark's bucketing hash (Murmur3 seed 42)
        buckets = sorted(
            r._b for r in sliced.select(
                F.pmod(F.hash(id_col), F.lit(self.corpus_buckets))
                .alias("_b")
            ).distinct().collect()
        )
        if not buckets or len(buckets) >= len(files_by_bucket):
            return self.images
        files = [f for b in buckets for f in files_by_bucket.get(b, [])]
        if not files:  # slice ids hash only to empty buckets: nothing
            # can match; the left fetch join sees an empty corpus
            return self.images.filter(F.lit(False))
        return self.spark.read.schema(self.images.schema).parquet(*files)

    def _step(
        self, wave: int, frontier: DataFrame, runs_b: DataFrame,
        links: DataFrame,
    ) -> DataFrame | None:
        """One wave: the phases of the module docstring, in order.
        Returns the next frontier, or None on an exhausted frontier
        (the slice of a deduped frontier is empty iff the frontier is),
        before committing anything for this wave."""
        sliced, rest = slice_phase(frontier, self.budget, self.n_salts,
                                   self.partition_selector, self._run_ords)
        n_delta = seen_delta(sliced, self._seen)
        if n_delta == 0:
            sliced.unpersist()
            return None
        fetched = self._fetch(wave, sliced, n_delta)
        cand = self._expand(sliced, fetched, runs_b, links, n_delta)
        # the broadcast hint in _expand keeps a fused expand join sane
        # without AQE while the parent side is provably small; above
        # the bound the candidates checkpoint so the skew-prone expand
        # join keeps AQE
        fresh = consolidate_admit(
            cand, self._seen, wave, self.partition_selector,
            checkpoint=n_delta > EXPAND_BROADCAST_MAX)
        frontier_new = merge(rest, fresh)
        self._commit(wave, fetched, sliced, fresh)
        sliced.unpersist()
        return frontier_new

    def _fetch(self, wave: int, sliced: DataFrame, n_delta: int) -> DataFrame:
        """The slice left-joined to the image+caption corpus on
        image_id, pruned to the slice's ids (O(slice) corpus reads;
        _pruned_images — ``n_delta`` picks the shape). A null
        ``bytes`` is a fetch failure."""
        fetched = sliced.withColumn("image_id", F.sha1(F.encode("url", "UTF-8"))) \
            .join(self._pruned_images(sliced, n_delta), "image_id", "left")
        if self.use_token_bucket:
            fetched = fetch_with_token_bucket(
                fetched, POLITENESS_INTERVAL_S, wave, self.budget
            )
        if self.verify_fetch:
            # per-row image invariant (input_hint): decode + PSNR gate,
            # Arrow-batched mapInPandas (pipeline/multimodal.py)
            from moca_spark.pipeline.multimodal import verify_images

            v = verify_images(
                fetched.filter(F.col("bytes").isNotNull())
                .select("image_id", "bytes", "w", "h", "fmt", "phash")
            ).select("image_id", "psnr", "psnr_ok")
            return fetched.join(v, "image_id", "left")
        return fetched.withColumn("psnr_ok", F.lit(None).cast("boolean"))

    def _expand(self, sliced: DataFrame, fetched: DataFrame,
                runs_b: DataFrame, links: DataFrame,
                n_delta: int) -> DataFrame:
        """The fetched parents' out-links that pass the criteria: one
        candidate row per (parent, link). Max-depth gates the PARENT
        (MaxDepthCriteria). The cached ``sliced`` sizes the links prune
        (_pruned_links)."""
        parents_src = fetched.filter(F.col("bytes").isNotNull())
        if self._run_criteria is not None:
            # trim mode: literal-array lookups on the carried ordinal,
            # built once per run (_criteria_lookups)
            parents_src = parents_src.withColumns(self._run_criteria)
        else:
            parents_src = parents_src.join(
                runs_b.drop("seed_url", "seed_seq"), "run_id")
        parents = (
            parents_src
            .filter((F.col("max_depth") < 0) | (F.col("depth") < F.col("max_depth")))
            .select(
                "run_id", "criteria_name", "same_host", "same_domain",
                "robots_txt",
                F.col("url").alias("src_url"),
                # the REAL host (criteria R3 compares hosts) — the
                # frontier 'host' column is the partition key, which
                # differs under a non-default partition_selector (U3)
                url_host(F.col("url")).alias("src_host"),
                (F.col("depth") + 1).alias("depth"),
                F.col("rank").alias("parent_rank"),
                # ord passthrough (trim mode): candidates inherit the
                # parent's run ordinal so the consolidation needs no
                # string keys and no extra mapping join
                *([F.col("_run_ord")]
                  if "_run_ord" in fetched.columns else []),
            )
        )
        links = self._pruned_links(sliced, n_delta, parents, links)
        # deliberate join strategy (round 6): the parent side is
        # bounded by the slice (n_delta rows, known exactly) — when it
        # is provably small, hint the broadcast instead of leaving the
        # strategy to AQE's runtime size estimate. Above the bound the
        # AQE path (runtime broadcast + skew join) stands.
        if n_delta <= EXPAND_BROADCAST_MAX:
            parents = F.broadcast(parents)
        # src_domain/dst_domain come with the link rows (_link_graph)
        cand = (
            parents.join(links, ["src_url", "src_host"])
            .withColumn("dst_host", url_host(F.col("dst_url")))
        )
        return apply_criteria(cand, self.robots, self.custom_by_name)

    def _commit(self, wave: int, fetched: DataFrame, sliced: DataFrame,
                fresh: DataFrame) -> None:
        """The wave's results increment, then its events + marker (the
        atomic journal commit); every ``fold_every`` waves the seen
        state folds (its filter too). Per-host metrics are a view over the
        results (CrawlResult.metrics), so a wave writes nothing else."""
        results_w = fetched.select(
            "run_id",
            F.lit(wave).alias("wave"),
            "host",
            "rank",
            "url",
            "depth",
            F.col("bytes").isNotNull().alias("fetched"),
            F.sha1(F.col("bytes")).alias("content_hash"),
            "caption",
            "phash",
            "psnr_ok",
            F.concat_ws("/", "run_id", F.lit(wave).cast("string"), "image_id")
            .alias("content_uri"),
            # politeness schedule: rank-th fetch of this host's wave
            (
                F.col("fetch_time_s")
                if self.use_token_bucket
                else (
                    F.lit((wave - 1) * self.budget * POLITENESS_INTERVAL_S)
                    + (F.col("rank") - 1) * POLITENESS_INTERVAL_S
                ).cast("double")
            ).alias("fetch_offset_s"),
        )
        if self.durable:
            self.store.write_increment(wave, results_w)
            # O(delta) durable append; the live state is chained in
            # memory (localCheckpoint) — the journal is read back ONLY
            # on resume and after compaction, never per wave (a
            # per-wave O(|log|) re-aggregation would dominate at scale).
            events = sliced.select(
                "run_id", "url", "host", "depth", "seq",
                F.lit("consume").alias("kind"), F.lit(wave).alias("wave"),
            ).unionByName(
                # the journal schema keeps the host + run_id strings
                # (cross-version replay); fresh is trimmed — re-derive
                # on the O(delta) add rows at append time
                _rehost(_rerun_id(fresh, self._run_ords),
                        self.partition_selector, drop_key=True).select(
                    "run_id", "url", "host", "depth", "seq",
                    F.lit("add").alias("kind"), F.lit(wave).alias("wave"),
                )
            )
            self.store.append_events(wave, events)
        else:
            # memory mode checkpoints LAZILY (round 6): nothing reads
            # the results until run end, so all waves' increments
            # materialize together in the first action that touches
            # them, each branch a narrow read over its wave's
            # already-checkpointed slice — no per-wave job. AQE-off
            # planning makes the checkpoint ACTUALLY lazy (else its
            # broadcast/shuffle stages would run per wave; _aqe_off);
            # the plan is a projection over the cached slice and a
            # broadcast fetch join — nothing AQE helps with.
            with _aqe_off(self.spark):
                self._results_acc.append(results_w.localCheckpoint(eager=False))
        if len(self._seen.deltas) >= self.fold_every:
            self._seen.fold()
