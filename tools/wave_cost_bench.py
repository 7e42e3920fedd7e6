"""Per-wave cost flatness microbench (eventlog mode).

Round-1 eventlog mode re-read and re-aggregated the WHOLE journal every
wave: per-wave cost grew linearly with wave count (O(|log|) reads).
Round 2 chains the live state in memory and reads the journal only on
resume/compaction, so per-wave cost must be FLAT in the wave count.

This drives a long chain crawl (1 URL per wave — worst case for
per-wave overhead, best case for exposing growth) in eventlog mode and
reports mean wall time of the first vs last third of waves.

An optional second arg enables the sharded approximate filters
(``sharded`` | ``cuckoo``): round-3 rewrote the WHOLE shard table
every wave (per-wave maintenance O(|filter|), growing forever); the
round-4 LSM layout stacks per-wave key deltas and folds every
``fold_every`` waves, so the growth_ratio must stay flat in these
modes too.

Run: python tools/wave_cost_bench.py [n_waves] [sharded|cuckoo]
(idle box only)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moca_spark.crawl.engine import CrawlEngine  # noqa: E402
from moca_spark.criteria.dsl import CriteriaSpec, Work  # noqa: E402
from moca_spark.session import get_spark  # noqa: E402
from moca_spark.sources.synth import chain_graph, images_for_urls, links_df  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 90
    use_bloom = sys.argv[2] if len(sys.argv) > 2 else False
    if use_bloom not in (False, "sharded", "cuckoo"):
        raise SystemExit(f"unknown filter mode {use_bloom!r}")
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    edges = chain_graph(n=n)
    urls = sorted({u for e in edges for u in e})
    with tempfile.TemporaryDirectory(prefix="wavecost-") as chk:
        eng = CrawlEngine(
            spark, links_df(spark, edges), images_for_urls(spark, urls),
            budget=1, durable="eventlog", checkpoint_dir=chk, n_salts=2,
            use_bloom=use_bloom, bloom_capacity=1_000_000,
        )
        eng.add_works([Work("w1", urls[0], CriteriaSpec(max_depth=10_000))])
        res = eng.run()
    ts = eng.wave_times
    third = max(1, len(ts) // 3)
    head, tail = ts[:third], ts[-third:]
    out = {
        "filter": use_bloom or "none",
        "waves": res.waves,
        "first_third_mean_s": round(sum(head) / len(head), 3),
        "last_third_mean_s": round(sum(tail) / len(tail), 3),
        "growth_ratio": round((sum(tail) / len(tail)) / (sum(head) / len(head)), 3),
        "all_wave_s": [round(t, 2) for t in ts],
    }
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
