"""Sharded cuckoo filter: the DELETABLE approximate seen-set as a
distributed table — no driver-side insert loops.

Round-2's cuckoo mode kept one driver-side CuckooFilter and funneled
every wave's slice keys (and, on resume, the ENTIRE seen set) through
``toLocalIterator`` — a real driver bottleneck past moderate scale.
This module gives the cuckoo filter the same layout as
filters/sharded_bloom.py, and shares its ``shard_of``, probe and
touched-shard fold: key space sharded by ``pmod(key, n_shards)``, one
serialized CuckooFilter (filters/cuckoo.py) per shard stored as a
DataFrame row ``(shard int, bits binary, ok boolean)``:

- build:  groupBy(shard) -> applyInPandas constructs each shard's
  filter from its keys only (distributed, used for resume rebuild);
- fold:   an ORDERED stack of add/delete key deltas is unioned with
  the touched shards' rows and re-grouped; each shard applies its rows
  in stack order inside one pandas call — inserts stay sequential
  (partial-key cuckoo kicks need that) but PER SHARD on executors,
  never on the driver. The seen-state holder stacks per-wave key
  deltas and folds every ``fold_every`` waves (probing the stack
  exactly in between; filters/seen_filter.py), so per-wave
  maintenance is O(delta), not a whole-table rewrite;
- probe:  shard-key join brings each candidate batch together with its
  one filter row; vectorized membership per Arrow batch.

Per-shard saturation degrades gracefully: a shard whose filter
overflows flips ``ok=false`` and its probes return maybe-seen for
every candidate (the exact join decides) — PASS-only discipline holds
per shard while healthy shards keep prefiltering. Insert order within
a delta is sorted for determinism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moca_spark.filters.cuckoo import CuckooFilter
from moca_spark.filters.sharded_bloom import (
    fold_touched_shards,
    probe_shards,
    shard_of,
)

SHARD_SCHEMA = "shard int, bits binary, ok boolean"


def _apply_group(per_shard_capacity: int):
    """applyInPandas fn over a union of one optional filter row
    (kind='bits') and ordered delta key rows (kind='add'/'del').
    Delta rows apply in (ord, kind, k) order — ``ord`` is the delta's
    position in the caller's stack — so folding a multi-wave stack in
    one call reproduces exactly the filter that per-wave incremental
    updates would have built (adds before dels within a wave, sorted
    keys within a kind for determinism)."""

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        bits_rows = pdf[pdf["kind"] == "bits"]
        if len(bits_rows):
            cf = CuckooFilter.from_bytes(bytes(bits_rows["bits"].iloc[0]))
            ok = bool(bits_rows["ok"].iloc[0])
        else:
            cf = CuckooFilter(per_shard_capacity)
            ok = True
        if ok:  # a degraded shard routes everything to the exact join;
            # further maintenance is pointless
            delta = pdf[pdf["kind"] != "bits"] \
                .sort_values(["ord", "kind", "k"])
            for k, kind in zip(delta["k"], delta["kind"]):
                if kind == "add":
                    if not cf.add(int(k)):
                        ok = False
                        break
                else:
                    cf.delete(int(k))
        return pd.DataFrame(
            {"shard": [shard], "bits": [cf.to_bytes()], "ok": [ok]})

    return apply


def _delta_rows(keys: DataFrame, key_col: str, n_shards: int,
                kind: str, ord_: int = 0) -> DataFrame:
    return keys.select(
        shard_of(F.col(key_col), n_shards).alias("shard"),
        F.lit(None).cast("binary").alias("bits"),
        F.lit(None).cast("boolean").alias("ok"),
        F.col(key_col).cast("long").alias("k"),
        F.lit(kind).alias("kind"),
        F.lit(ord_).cast("long").alias("ord"),
    )


def apply_cuckoo_deltas(
    shards: DataFrame | None, deltas: list[tuple[str, DataFrame]],
    key_col: str, n_shards: int, n_expected: int,
) -> DataFrame:
    """Fold an ORDERED stack of ('add'|'del', keys) deltas into the
    shard table in one distributed groupBy — the LSM filter compaction
    (SeenFilter.fold). ``shards=None`` builds from scratch. Only the
    shards the deltas touch pass through the applyInPandas rewrite
    (fold_touched_shards); per-wave maintenance is just stacking the
    (tiny) key frames, and the rewrite amortizes over the waves whose
    deltas are stacked."""
    per_shard = max(n_expected // n_shards, 1)
    drows = None
    for i, (kind, keys) in enumerate(deltas):
        d = _delta_rows(keys, key_col, n_shards, kind, ord_=i)
        drows = d if drows is None else drows.unionByName(d)

    def rewrite(touched):
        rows = drows
        if touched is not None:
            # k=0 sentinel (never read for bits rows): a NULL long
            # would turn the pandas column float64 and silently
            # truncate 64-bit keys to 53 bits of mantissa
            rows = touched.select(
                "shard", "bits", "ok",
                F.lit(0).cast("long").alias("k"),
                F.lit("bits").alias("kind"),
                F.lit(-1).cast("long").alias("ord"),
            ).unionByName(drows)
        return rows.groupBy("shard").applyInPandas(
            _apply_group(per_shard), SHARD_SCHEMA)

    return fold_touched_shards(shards, drows, "k", n_shards, rewrite)


def build_sharded_cuckoo(
    keys: DataFrame, key_col: str, n_shards: int, n_expected: int,
) -> DataFrame:
    """(shard, bits, ok) table built from scratch — the resume path."""
    return apply_cuckoo_deltas(None, [("add", keys)], key_col, n_shards,
                               n_expected)


def probe_sharded_cuckoo(
    candidates: DataFrame, key_col: str, shards: DataFrame, n_shards: int,
) -> DataFrame:
    """Tag candidates with ``_maybe_seen`` (probe_shards). Missing
    shard row = shard never saw a key = definitively new; degraded
    shard (ok=false) = maybe-seen for all its candidates (exact join
    decides)."""
    return probe_shards(
        candidates, key_col, shards, n_shards,
        lambda grp, blob: True if not bool(grp["ok"].iloc[0])
        else CuckooFilter.from_bytes(blob).contains_many(
            grp[key_col].to_numpy()))
