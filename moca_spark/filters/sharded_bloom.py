"""Sharded bloom filter: the seen-set pre-filter that actually scales
to 10^10 URLs.

A monolithic bloom for 10^10 keys at fpp 1e-3 is ~18 GB — far past
broadcast limits. The scalable layout shards the key space by
``shard = pmod(key, n_shards)`` and stores one bitmap per shard as a
ROW of a DataFrame/table (shard int, bits binary):

- build: groupBy(shard) -> applyInPandas builds each shard's bitmap
  from its keys only (bitmap sized for n_expected/n_shards);
- probe: candidates carry the same shard column; a shard-key join
  brings each candidate batch together with exactly its one bitmap
  row (co-partitioned — every executor holds only the shards it
  probes), then a vectorized numpy membership test per Arrow batch;
- maintain: new keys build a delta table the same way; OR-merge by
  shard is a groupBy on (shard) of a few-KB binaries, and only the
  shards the keys touch are rewritten (apply_bloom_deltas).

Same discipline as filters/bloom.py: a MISS is definitive, a HIT goes
to the exact anti-join. Parity with the monolithic filter is tested.

The layout primitives both sharded filters share live here:
``shard_of``, the one mapInPandas probe (``probe_shards``) and the one
touched-shard fold (``fold_touched_shards``); filters/sharded_cuckoo.py
plugs its own membership test and shard rewrite into them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moca_spark.filters.bloom import BloomFilter

SHARD_SCHEMA = "shard int, bits binary"


def shard_of(key_col: F.Column, n_shards: int) -> F.Column:
    return F.pmod(key_col, F.lit(n_shards)).cast("int")


def probe_shards(candidates: DataFrame, key_col: str, shards: DataFrame,
                 n_shards: int, member) -> DataFrame:
    """Tag candidates with ``_maybe_seen`` against a shard table. The
    join is a shard-key equi-join: each candidate partition meets
    exactly one filter row per shard (filters total MBs across the
    cluster, never one broadcast blob), then ``member(grp, blob)``
    gives the membership of one shard's candidates in that shard's
    serialized filter, per Arrow batch. Candidates whose shard has no
    row yet are definitively new."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    tagged = candidates.withColumn("shard", shard_of(F.col(key_col), n_shards))
    joined = tagged.join(shards, "shard", "left")
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("_maybe_seen", BooleanType())]
    )
    table_cols = list(shards.columns)

    def probe(pdfs):
        for pdf in pdfs:
            groups = []
            # group by the int shard id (unique per filter row), never
            # by the multi-KB serialized blob
            for _shard, grp in pdf.groupby("shard", sort=False):
                blob = grp["bits"].iloc[0]
                if blob is None or (isinstance(blob, float) and pd.isna(blob)):
                    grp = grp.assign(_maybe_seen=False)
                else:
                    grp = grp.assign(_maybe_seen=member(grp, bytes(blob)))
                groups.append(grp)
            res = pd.concat(groups) if groups else pdf.assign(_maybe_seen=False)
            yield res.drop(columns=table_cols)

    return joined.mapInPandas(probe, out_schema)


def fold_touched_shards(shards: DataFrame | None, keys: DataFrame,
                        key_col: str, n_shards: int, rewrite) -> DataFrame:
    """Fold delta ``keys`` into a shard table, rewriting only the
    shards they touch: ``rewrite(touched)`` returns the new rows of the
    ``touched`` base shards (None: no base yet, build from the keys
    alone). The touched set is a bounded collect (<= n_shards values)
    over the key frames; base shards with no delta keys union through
    unchanged, so the fold costs O(touched shards), not O(shard table)
    — at the 10^10 target the base is GBs of filter blobs and a fold's
    keys usually land in a fraction of the shards."""
    if shards is None:
        return rewrite(None)
    touched = sorted(r.s for r in keys.select(
        shard_of(F.col(key_col), n_shards).alias("s")).distinct().collect())
    if not touched:
        return shards
    return shards.filter(~F.col("shard").isin(touched)).unionByName(
        rewrite(shards.filter(F.col("shard").isin(touched))))


def build_sharded_bloom(
    keys: DataFrame, key_col: str, n_shards: int, n_expected: int,
    fpp: float = 1e-3,
) -> DataFrame:
    """(shard, bits) table; each shard bitmap sized for its share."""
    per_shard = max(n_expected // n_shards, 16)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bf = BloomFilter(per_shard, fpp)
        bf.add_many(pdf["k"].to_numpy())
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "bits": [bf.to_bytes()]})

    return (
        keys.select(F.col(key_col).alias("k"),
                    shard_of(F.col(key_col), n_shards).alias("shard"))
        .groupBy("shard")
        .applyInPandas(build, SHARD_SCHEMA)
    )


def merge_sharded_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two shard tables (per-wave delta maintenance)."""

    def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = BloomFilter.from_bytes(pdf["bits"].iloc[0])
        for blob in pdf["bits"].iloc[1:]:
            merged.merge(BloomFilter.from_bytes(blob))
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "bits": [merged.to_bytes()]})

    return a.unionByName(b).groupBy("shard").applyInPandas(or_merge, SHARD_SCHEMA)


def probe_sharded_bloom(
    candidates: DataFrame, key_col: str, shards: DataFrame, n_shards: int,
) -> DataFrame:
    """Tag candidates with ``_maybe_seen`` (probe_shards over bloom
    bitmaps)."""
    return probe_shards(
        candidates, key_col, shards, n_shards,
        lambda grp, blob: BloomFilter.from_bytes(blob).contains_many(
            grp[key_col].to_numpy()))


def apply_bloom_deltas(
    shards: DataFrame | None, deltas: list[tuple[str, DataFrame]],
    key_col: str, n_shards: int, n_expected: int,
) -> DataFrame:
    """Fold a stack of ('add', keys) deltas into the shard table: one
    bloom table built over the stacked keys, OR-merged into the touched
    shards only (fold_touched_shards); ``shards=None`` builds from
    scratch. A bloom cannot delete, so 'del' deltas are ignored — a
    stale hit costs exact-join work, never a dropped URL."""
    adds = [keys for kind, keys in deltas if kind == "add"]
    keys = adds[0]
    for extra in adds[1:]:
        keys = keys.unionByName(extra)

    def rewrite(touched):
        delta = build_sharded_bloom(keys, key_col, n_shards, n_expected)
        return delta if touched is None else merge_sharded_blooms(touched, delta)

    return fold_touched_shards(shards, keys, key_col, n_shards, rewrite)
