"""Bloom + cuckoo filter tests: the may-only-pass-never-drop discipline."""

from __future__ import annotations

import numpy as np

from moca_spark.filters.bloom import BloomFilter
from moca_spark.filters.cuckoo import CuckooFilter


def test_bloom_no_false_negatives_and_low_fpp():
    rng = np.random.RandomState(7)
    inserted = rng.randint(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.randint(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = np.setdiff1d(other, inserted)
    bf = BloomFilter(n_expected=20_000, fpp=1e-3)
    bf.add_many(inserted)
    assert bf.contains_many(inserted).all()  # zero false negatives
    fpp = bf.contains_many(other).mean()
    assert fpp < 5e-3


def test_bloom_serialize_merge():
    a, b = BloomFilter(1000), BloomFilter(1000)
    ka = np.arange(0, 500, dtype=np.int64)
    kb = np.arange(500, 1000, dtype=np.int64)
    a.add_many(ka)
    b.add_many(kb)
    merged = BloomFilter.from_bytes(a.to_bytes()).merge(b)
    assert merged.contains_many(np.arange(0, 1000, dtype=np.int64)).all()


def test_cuckoo_add_contains_delete():
    cf = CuckooFilter(n_expected=5000)
    keys = list(range(-2000, 2000, 3))
    for k in keys:
        assert cf.add(k)
    assert all(cf.contains(k) for k in keys)
    # delete half, they must disappear (no false negatives on the rest)
    for k in keys[::2]:
        assert cf.delete(k)
    assert all(cf.contains(k) for k in keys[1::2])
    miss = sum(cf.contains(k) for k in keys[::2])
    assert miss < len(keys[::2]) * 0.05  # deleted keys mostly gone


def test_cuckoo_vectorized_matches_scalar():
    cf = CuckooFilter(n_expected=2000)
    ins = np.arange(0, 1000, dtype=np.int64) * 7919
    for k in ins:
        cf.add(int(k))
    probe = np.concatenate([ins, ins + 1])
    vec = cf.contains_many(probe)
    scalar = np.array([cf.contains(int(k)) for k in probe])
    assert (vec == scalar).all()


def test_cuckoo_roundtrip():
    cf = CuckooFilter(n_expected=100)
    for k in range(50):
        cf.add(k)
    back = CuckooFilter.from_bytes(cf.to_bytes())
    assert all(back.contains(k) for k in range(50))
    assert back.size == cf.size


def test_sharded_bloom_parity(spark):
    """Sharded bloom == monolithic bloom discipline: zero false
    negatives; probe output matches per-key contains_many."""
    import numpy as np
    from pyspark.sql import functions as F

    from moca_spark.filters.sharded_bloom import (
        build_sharded_bloom,
        merge_sharded_blooms,
        probe_sharded_bloom,
    )

    seen = spark.range(0, 3000, 1, 4).select(F.xxhash64("id").alias("k"))
    shards = build_sharded_bloom(seen, "k", n_shards=8, n_expected=3000)
    assert shards.count() == 8

    cand = spark.range(1500, 4500, 1, 4).select(
        F.col("id").alias("orig"), F.xxhash64("id").alias("k")
    )
    probed = probe_sharded_bloom(cand, "k", shards, n_shards=8).collect()
    # all truly-seen keys (orig < 3000) MUST be flagged maybe-seen
    assert all(r._maybe_seen for r in probed if r.orig < 3000)
    # unseen keys mostly pass as definitively-new (fpp small)
    unseen = [r for r in probed if r.orig >= 3000]
    fp = sum(r._maybe_seen for r in unseen) / len(unseen)
    assert fp < 0.02

    # delta merge: add keys 4000-4500, then they must flag as seen
    delta = spark.range(4000, 4500, 1, 2).select(F.xxhash64("id").alias("k"))
    shards2 = merge_sharded_blooms(
        shards, build_sharded_bloom(delta, "k", n_shards=8, n_expected=3000)
    )
    probed2 = probe_sharded_bloom(cand, "k", shards2, n_shards=8).collect()
    assert all(r._maybe_seen for r in probed2 if r.orig >= 4000)


def test_sharded_bloom_empty_shard_is_definitive_miss(spark):
    from pyspark.sql import functions as F

    from moca_spark.filters.sharded_bloom import (
        build_sharded_bloom,
        probe_sharded_bloom,
    )

    # keys only in shard pmod==0 -> other shards have no bitmap row
    seen = spark.range(0, 100).select((F.col("id") * 64).alias("k"))
    shards = build_sharded_bloom(seen, "k", n_shards=64, n_expected=100)
    cand = spark.range(0, 100).select((F.col("id") * 64 + 1).alias("k"))
    probed = probe_sharded_bloom(cand, "k", shards, n_shards=64).collect()
    assert not any(r._maybe_seen for r in probed)


def test_sharded_cuckoo_build_probe_update(spark):
    """Sharded cuckoo == monolith discipline: zero false negatives on
    probe; delete delta evicts; healthy shards keep prefiltering."""
    import time

    from pyspark.sql import functions as F

    from moca_spark.filters.sharded_cuckoo import (
        apply_cuckoo_deltas,
        build_sharded_cuckoo,
        probe_sharded_cuckoo,
    )

    seen = spark.range(0, 3000, 1, 4).select(F.xxhash64("id").alias("k"))
    shards = build_sharded_cuckoo(seen, "k", n_shards=8, n_expected=6000)
    rows = shards.collect()
    assert len(rows) == 8 and all(r.ok for r in rows)

    cand = spark.range(1500, 4500, 1, 4).select(
        F.col("id").alias("orig"), F.xxhash64("id").alias("k"))
    probed = probe_sharded_cuckoo(cand, "k", shards, n_shards=8).collect()
    assert all(r._maybe_seen for r in probed if r.orig < 3000)  # no FN
    unseen = [r for r in probed if r.orig >= 3000]
    assert sum(r._maybe_seen for r in unseen) / len(unseen) < 0.02

    # add delta: 4000-4500 become maybe-seen
    delta = spark.range(4000, 4500, 1, 2).select(F.xxhash64("id").alias("k"))
    shards2 = apply_cuckoo_deltas(shards, [("add", delta)], "k", 8, 6000)
    probed2 = probe_sharded_cuckoo(cand, "k", shards2, n_shards=8).collect()
    assert all(r._maybe_seen for r in probed2 if r.orig >= 4000)

    # delete delta: evicted keys mostly pass as definitively-new again
    dels = spark.range(0, 3000, 2, 2).select(F.xxhash64("id").alias("k"))
    shards3 = apply_cuckoo_deltas(shards2, [("del", dels)], "k", 8, 6000)
    probed3 = probe_sharded_cuckoo(
        spark.range(0, 3000, 2, 2).select(
            F.col("id").alias("orig"), F.xxhash64("id").alias("k")),
        "k", shards3, n_shards=8).collect()
    assert sum(r._maybe_seen for r in probed3) / len(probed3) < 0.05

    # resume-rebuild speed: 10^5 keys build distributed (one shuffle,
    # no driver iteration by construction)
    big = spark.range(0, 100_000, 1, 8).select(F.xxhash64("id").alias("k"))
    t0 = time.time()
    build_sharded_cuckoo(big, "k", n_shards=64, n_expected=200_000) \
        .localCheckpoint(eager=True)
    assert time.time() - t0 < 30  # one distributed job, not a driver loop


def test_sharded_cuckoo_fold_touches_only_delta_shards(spark):
    """apply_cuckoo_deltas rewrites ONLY the shards the deltas touch:
    untouched base rows pass through byte-identical (no pandas
    re-serialization), an empty delta frame touches nothing, and
    membership holds for base + delta keys after the split fold."""
    from pyspark.sql import functions as F

    from moca_spark.filters.sharded_cuckoo import (
        apply_cuckoo_deltas,
        build_sharded_cuckoo,
        probe_sharded_cuckoo,
    )

    # raw ids as keys: every shard 0..7 deterministically populated
    base_keys = spark.range(0, 800, 1, 4).select(F.col("id").alias("k"))
    base = build_sharded_cuckoo(base_keys, "k", n_shards=8, n_expected=4000) \
        .localCheckpoint(eager=True)
    base_bits = {r.shard: bytes(r.bits) for r in base.collect()}
    assert set(base_bits) == set(range(8))

    # delta lands in exactly shard 3 (pmod(k, 8) == 3)
    delta = spark.range(0, 50).select((F.col("id") * 8 + 1003 * 8 + 3).alias("k"))
    folded = apply_cuckoo_deltas(base, [("add", delta)], "k", 8, 4000)
    out_bits = {r.shard: bytes(r.bits) for r in folded.collect()}
    assert set(out_bits) == set(range(8))
    assert out_bits[3] != base_bits[3]
    for s in range(8):
        if s != 3:
            assert out_bits[s] == base_bits[s]  # untouched: byte-identical

    probed = probe_sharded_cuckoo(
        base_keys.unionByName(delta), "k", folded, n_shards=8).collect()
    assert all(r._maybe_seen for r in probed)  # no false negatives

    # empty delta frame: empty touched set, base returned unchanged
    same = apply_cuckoo_deltas(
        base, [("del", delta.filter(F.lit(False)))], "k", 8, 4000)
    assert {r.shard: bytes(r.bits) for r in same.collect()} == base_bits


def test_sharded_cuckoo_saturated_shard_degrades_to_exact(spark):
    """An overflowing shard flips ok=false and its probes return
    maybe-seen for EVERYTHING (exact join decides) — PASS-only holds
    per shard while other shards keep filtering."""
    from pyspark.sql import functions as F

    from moca_spark.filters.sharded_cuckoo import (
        build_sharded_cuckoo,
        probe_sharded_cuckoo,
    )

    # capacity 8 total over 8 shards -> per-shard filters of ~1 slot
    # saturate on 1000 keys
    seen = spark.range(0, 1000, 1, 4).select(F.xxhash64("id").alias("k"))
    shards = build_sharded_cuckoo(seen, "k", n_shards=8, n_expected=8)
    assert shards.filter("not ok").count() > 0
    cand = spark.range(5000, 6000, 1, 4).select(F.xxhash64("id").alias("k"))
    probed = probe_sharded_cuckoo(cand, "k", shards, n_shards=8)
    bad = shards.filter("not ok").select("shard")
    # every candidate landing on a degraded shard must be maybe-seen
    from moca_spark.filters.sharded_cuckoo import shard_of

    on_bad = probed.withColumn("shard", shard_of(F.col("k"), 8)) \
        .join(bad, "shard", "left_semi")
    assert on_bad.filter("not _maybe_seen").count() == 0
