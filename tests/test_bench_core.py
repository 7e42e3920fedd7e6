"""The north-star kernel (bench_core.frontier_schedule_dedup) at toy
scale: bench.py and tools/scaling_bench.py read its record."""

from __future__ import annotations

import pytest

from moca_spark.bench_core import _persistent_rdd_ids, frontier_schedule_dedup

KERNEL_KEYS = {
    "mode", "n_frontier", "n_candidates", "n_hosts", "schedule_sec",
    "dedup_merge_sec", "fold_sec", "fold_amortized_sec", "total_sec",
    "urls_per_sec",
}


@pytest.mark.parametrize("materialize", [False, True])
def test_kernel_record_and_no_leaked_rdds(spark, tmp_path, materialize):
    before = _persistent_rdd_ids(spark)
    rec = frontier_schedule_dedup(
        spark, n_frontier=2_000, n_candidates=2_000, n_hosts=50,
        partitions=4,
        materialize_dir=str(tmp_path / "mat") if materialize else None)
    assert set(rec) == KERNEL_KEYS
    assert rec["urls_per_sec"] > 0 and rec["total_sec"] > 0
    # every checkpoint and cache of the rep is freed (_free_rdds_since)
    assert _persistent_rdd_ids(spark) == before
