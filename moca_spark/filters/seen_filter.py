"""The approximate seen-set filter kept next to the seen set: one LSM
for both sharded kinds (``use_bloom="sharded"`` | ``"cuckoo"``).

The BASE is a shard table (filters/sharded_bloom.py or
filters/sharded_cuckoo.py), rewritten only at fold time; in between,
each wave stacks its (tiny) key frames — ``add`` for the slice's seen
delta, ``del`` for the cuckoo's re-admitted keys — and the probe tests
the add stack exactly. Round 3 rewrote and re-serialized the WHOLE
shard table every wave: at the 10^10 target that is GBs of filter
blobs shuffled per wave, growing with capacity, forever.

The crawl engine's SeenState (crawl/engine.py) owns one of these: its
``push`` stacks the delta's keys here, its ``fold`` folds this filter
too, and its ``admit`` probes it (a miss is admitted at once, a hit
goes to the exact join, which alone decides).

The shard functions are looked up through their modules at call time,
so wrappers installed on ``sharded_bloom``'s names (crawlbench tracing)
see every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import moca_spark.filters.sharded_bloom as sharded_bloom
import moca_spark.filters.sharded_cuckoo as sharded_cuckoo

KINDS = ("sharded", "cuckoo")
N_SHARDS = 64
# The unfolded add stack is probed via BROADCAST — bounded in the
# common case at fold_every x (budget x active hosts) 8-byte keys, but
# at 10^6 active hosts x budget 8 x fold_every 8 that is ~0.5 GB per
# wave, past the comfortable broadcast range. The bound is ENFORCED:
# ``add`` counts the stacked keys (from the count the seen delta
# already pays) and folds early once they cross it, so the broadcast
# never exceeds ~DELTA_MAX_KEYS x 8 bytes (~80 MB).
DELTA_MAX_KEYS = 10_000_000


def seen_filter(kind: str | bool, capacity: int,
                seen: DataFrame | None = None) -> SeenFilter | None:
    """The filter for the engine's ``use_bloom=kind`` — None for False
    (exact admission only). Given a ``seen`` state (resume, T5), its
    base is built at once from the state's ``_key`` column: without
    it a pre-resume seen URL would probe as a definitive MISS and be
    admitted without the exact join, breaking the depth-qualified
    re-crawl rule. One distributed groupBy-build; never a pass over the
    seen set through the driver."""
    if not kind:
        return None
    filt = SeenFilter(kind, capacity)
    if seen is not None:
        filt.add(seen.select(F.col("_key").alias("k")), 0)
        filt.fold()
    return filt


class SeenFilter:
    """Shard-table base + stacked ``(kind, keys)`` deltas, keys in a
    ``k`` column. ``kind`` "sharded" is a bloom (no delete); "cuckoo"
    is the deletable variant: fingerprints of re-admitted URLs are
    EVICTED so the hit set stays tight under re-crawls, inserts run
    per shard on executors, and a saturated shard degrades itself to
    the exact path while healthy shards keep prefiltering."""

    def __init__(self, kind: str, capacity: int):
        if kind not in KINDS:
            raise ValueError(f"filter kind {kind!r}: use one of {KINDS}")
        self.kind = kind
        self.capacity = capacity
        self.shards: DataFrame | None = None
        self.deltas: list[tuple[str, DataFrame]] = []
        self.delta_keys = 0

    @property
    def deletable(self) -> bool:
        return self.kind == "cuckoo"

    def add(self, keys: DataFrame, n_keys: int) -> None:
        """Stack ``n_keys`` inserted keys; fold early past
        DELTA_MAX_KEYS stacked keys (the probe-broadcast bound)."""
        self.deltas.append(("add", keys))
        self.delta_keys += n_keys
        if self.delta_keys > DELTA_MAX_KEYS:
            self.fold()

    def evict(self, keys: DataFrame) -> None:
        """Stack a delete delta (cuckoo), applied per shard at fold.
        Stacked unconditionally: deciding emptiness would cost a driver
        action, and an empty frame touches no shard at fold time."""
        self.deltas.append(("del", keys))

    def probe(self, cand: DataFrame) -> DataFrame:
        """Tag ``cand`` with ``_maybe_seen`` on its ``_key``: BASE
        shard-table probe OR exact membership in the add stack.
        PASS-only by construction: stack membership only ADDS
        maybe-hits (routed to the exact join, which alone decides);
        pending del deltas are ignored until fold — a stale maybe costs
        join work, never correctness."""
        if self.shards is None:  # no base yet: the stack IS the filter
            tagged = cand.withColumn("_maybe_seen", F.lit(False))
        else:
            probe = (sharded_cuckoo.probe_sharded_cuckoo if self.deletable
                     else sharded_bloom.probe_sharded_bloom)
            tagged = probe(cand, "_key", self.shards, N_SHARDS)
        adds = [keys for kind, keys in self.deltas if kind == "add"]
        if not adds:
            return tagged
        d = adds[0]
        for extra in adds[1:]:
            d = d.unionByName(extra)
        d = d.distinct().withColumn("_in_delta", F.lit(True))
        return (
            tagged.join(F.broadcast(d), tagged["_key"] == d["k"], "left")
            .drop("k")
            .withColumn("_maybe_seen", F.col("_maybe_seen")
                        | F.coalesce(F.col("_in_delta"), F.lit(False)))
            .drop("_in_delta")
        )

    def fold(self) -> None:
        """Fold the stacked deltas into the base shard table — the
        filter-side LSM compaction, rewriting only the shards the
        deltas touch. With no base yet it builds one from the stack
        (the resume rebuild is one fold of the seen keys)."""
        if self.deltas:
            apply = (sharded_cuckoo.apply_cuckoo_deltas if self.deletable
                     else sharded_bloom.apply_bloom_deltas)
            self.shards = apply(self.shards, self.deltas, "k", N_SHARDS,
                                self.capacity).localCheckpoint(eager=True)
        self.deltas = []
        self.delta_keys = 0
