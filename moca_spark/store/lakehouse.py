"""Wave journal store: exactly-once resumable crawl state.

The reference gets durability from Akka persistence (event journal +
snapshots, role/master/Master.scala:47-87,160-181; per-task replay,
role/worker/Minion.scala:46-66) and PostgreSQL transactions
(store/control/PgRunControl.scala). The Spark-native equivalent here is
an append-only event log with periodic compaction — a compaction IS
the snapshot. Every wave appends only its DELTA of frontier events plus
its results increment, then atomically publishes a commit marker.
Resume = re-aggregate the committed events; a re-run of a
half-finished wave is invisible (its directory lacks the marker and is
overwritten).

On a production cluster this is a merge-on-read Iceberg table with
periodic ``rewriteDataFiles``; this module implements the identical
protocol on plain Parquet directories so it runs hermetically here:

    <root>/wave=<n>/events/...     the wave's add/consume events
    <root>/wave=<n>/results/...    per-wave increment (append semantics)
    <root>/wave=<n>/_COMMIT        atomic rename publishes the wave;
                                   {"wave": n[, "compacted": true]}

The commit marker is written last; readers ignore uncommitted waves, so
a crash at any point resumes from the previous wave with no duplicate
or lost state (the reference's exactly-once recovery guarantee, T3-T5).
A committed wave whose events are missing is an error, never an empty
delta (read_log). Any other dir in a wave (the ``metrics/`` journals
written before per-host metrics became a view over results) is ignored.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession


def _corpus_table_name(path: str) -> str:
    slug = re.sub(r"[^0-9a-zA-Z]+", "_", path).strip("_").lower()
    return f"moca_corpus_{slug}"


def write_corpus_bucketed(
    spark: SparkSession, images: DataFrame, path: str, n_buckets: int = 64,
    row_group_bytes: int = 8 * 1024 * 1024,
) -> DataFrame:
    """Write the fetch corpus as a bucketed table on ``image_id``,
    sorted by ``image_id`` within buckets, with parquet row-group bloom
    filters on image_id — the layout that makes the engine's per-wave
    fetch join read O(slice) (engine._pruned_images pushes the slice
    ids; tools/fetch_bench.py measures the flatness):

    - bucket pruning: a small wave's pushed In filter, or a large
      wave's bucket-file read, selects only the bucket files the
      wave's ids hash to (``SelectedBucketsCount``);
    - row-group skipping: sorted image_id gives tight min/max stats
      per row group, so a pushed In of k ids touches ~k row groups;
      the bloom filters skip on exact membership even where stats are
      loose. Row groups are capped at ``row_group_bytes``
      (point lookups want granular skipping, not 128 MB scan units).

    One file per bucket (repartition matches the bucket hash). On a
    real deployment this is an Iceberg table with a ``bucket(N,
    image_id)`` partition transform + sorted data files (README
    divergence #6). Returns the re-read table."""
    tbl = _corpus_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        images.repartition(n_buckets, "image_id")
        .write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "image_id").sortBy("image_id")
        .option("parquet.bloom.filter.enabled#image_id", "true")
        .option("parquet.block.size", str(row_group_bytes))
        .option("path", path)
        .saveAsTable(tbl)
    )
    with open(os.path.join(path, "_corpus_meta.json"), "w") as f:
        json.dump({"n_buckets": n_buckets}, f)
    return spark.table(tbl)


def read_corpus_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Re-register a bucketed corpus written by ``write_corpus_bucketed``
    in a fresh session (the in-memory catalog does not survive
    restarts; the bucketed layout on disk does)."""
    tbl = _corpus_table_name(path)
    if not spark.catalog.tableExists(tbl):
        with open(os.path.join(path, "_corpus_meta.json")) as f:
            n_buckets = json.load(f)["n_buckets"]
        schema = spark.read.parquet(path).schema
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
            f"CLUSTERED BY (image_id) SORTED BY (image_id) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    return spark.table(tbl)


class EventLogStore:
    """Append-only event-log layout — the write path that survives a
    10^10-row frontier.

    Rewriting the FULL frontier + seen tables every wave (the removed
    snapshot layout) costs O(|frontier|) write amplification per wave,
    untenable at the north-star scale. This layout appends only the
    wave's DELTA as events and reconstructs state by aggregation:

        event: (run_id, url, host, depth, seq, kind, wave)
          kind 'add'     — URL admitted to the frontier at (depth, seq)
          kind 'consume' — URL fetched at depth (incl. fetch failures)

    Reconstruction exploits the invariant that a URL's depth strictly
    decreases through its lifecycle (admission requires depth <
    best-seen; J1/T8):

        am = min over adds of (depth, seq);  cd = min over consume depth
        pending iff cd is null or am.depth < cd   -> frontier row
        seen    iff cd not null, best_depth = cd  -> seen row

    Per wave: write O(|slice| + |fresh|) and read NOTHING — the engine
    chains the live state in memory (localCheckpoint); reconstruction
    by aggregation runs only on resume and after ``compact()``. The log
    IS the journal (T3): the commit marker publishes the wave's events
    atomically; replay = re-aggregate committed events. This mirrors a
    merge-on-read Iceberg/Hudi table with periodic compaction."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _wave_dir(self, wave: int) -> str:
        return os.path.join(self.root, f"wave={wave}")

    def _marker(self, wave: int) -> dict:
        with open(os.path.join(self._wave_dir(wave), "_COMMIT")) as f:
            return json.load(f)

    def committed_waves(self) -> list[int]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for name in os.listdir(self.root):
            if name.startswith("wave="):
                w = int(name.split("=", 1)[1])
                if os.path.exists(os.path.join(self.root, name, "_COMMIT")):
                    out.append(w)
        return sorted(out)

    def latest_wave(self) -> int | None:
        waves = self.committed_waves()
        return waves[-1] if waves else None

    def write_increment(self, wave: int, results: DataFrame) -> None:
        """Write wave ``wave``'s results ahead of its commit marker."""
        results.write.mode("overwrite").parquet(
            os.path.join(self._wave_dir(wave), "results"))

    def all_results(self) -> DataFrame | None:
        """Every committed wave's results (None before any)."""
        paths = [
            os.path.join(self._wave_dir(w), "results")
            for w in self.committed_waves()
            if os.path.isdir(os.path.join(self._wave_dir(w), "results"))
        ]
        return self.spark.read.parquet(*paths) if paths else None

    def append_events(self, wave: int, events: DataFrame,
                      extra: dict | None = None) -> None:
        """Write wave ``wave``'s events and publish its marker. The
        events land in a staging dir first and are swapped in by
        rename, so a committed wave's log (the one compaction rewrites)
        is never overwritten in place: a failed write leaves it intact,
        and a crash between the two renames leaves it as
        ``events.old``, which read_log falls back to."""
        d = self._wave_dir(wave)
        final = os.path.join(d, "events")
        old = os.path.join(d, "events.old")
        staging = os.path.join(d, "events.staging")
        events.write.mode("overwrite").parquet(staging)
        if os.path.isdir(final):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(final, old)
        os.rename(staging, final)
        tmp = os.path.join(d, "_COMMIT.tmp")
        with open(tmp, "w") as f:
            json.dump({"wave": wave, **(extra or {})}, f)
        os.rename(tmp, os.path.join(d, "_COMMIT"))
        shutil.rmtree(old, ignore_errors=True)

    def _events_dir(self, wave: int) -> str | None:
        """A committed wave's events dir: ``events``, else the
        ``events.old`` a crash between append_events' renames left."""
        for name in ("events", "events.old"):
            p = os.path.join(self._wave_dir(wave), name)
            if os.path.isdir(p):
                return p
        return None

    def read_log(self) -> DataFrame | None:
        """The committed events (None before wave 0 commits). Raises if
        a committed wave at or after the latest compacted marker (wave
        0 if none) has lost its events: replaying the rest would drop
        that wave's URLs without a word."""
        waves = self.committed_waves()
        base = max((w for w in waves if self._marker(w).get("compacted")),
                   default=0)
        missing = [w for w in waves if w >= base and not self._events_dir(w)]
        if missing:
            raise RuntimeError(
                f"event log under {self.root} is incomplete: committed "
                f"wave(s) {missing} have no events (neither events nor "
                "events.old), so replay would silently drop URLs. "
                "Snapshot-layout checkpoints (per-wave frontier/seen "
                "dirs) are no longer readable; start a fresh checkpoint "
                "dir instead")
        paths = [p for p in map(self._events_dir, waves) if p]
        return self.spark.read.parquet(*paths) if paths else None

    def compact(self, wave: int) -> None:
        """Fold the whole log into a single minimal event set (one add
        per pending url, one consume per seen url) written as wave
        ``wave``'s events; older wave dirs are dropped. The periodic
        compaction of the merge-on-read layout.

        Crash-safe at every step: the compacted set replaces the wave's
        committed events by rename (append_events), and the older
        waves' events are deleted only after that. A crash before the
        deletes leaves them beside the compacted set, which already
        subsumes them — re-reading them is harmless, because
        reconstruction takes mins and is idempotent."""
        from pyspark.sql import functions as F

        log = self.read_log()
        if log is None:
            return
        state = _reconstruct_state(log)
        frontier, seen = state
        adds = frontier.select(
            "run_id", "url", "host", "depth", "seq",
            F.lit("add").alias("kind"), F.lit(wave).alias("wave"),
        )
        consumes = seen.select(
            "run_id", "url",
            F.lit(None).cast("string").alias("host"),
            F.col("best_depth").alias("depth"),
            F.lit(None).cast("long").alias("seq"),
            F.lit("consume").alias("kind"), F.lit(wave).alias("wave"),
        )
        compacted = adds.unionByName(consumes).localCheckpoint(eager=True)
        old = self.committed_waves()
        self.append_events(wave, compacted, extra={"compacted": True})
        # drop only the EVENT deltas of older waves — their markers and
        # results increments remain (they are the crawl output)
        for w in old:
            if w != wave:
                for name in ("events", "events.old"):
                    shutil.rmtree(os.path.join(self._wave_dir(w), name),
                                  ignore_errors=True)


def _reconstruct_state(log: DataFrame):
    """(frontier, seen) from the event log — two mins per (run, url)."""
    from pyspark.sql import functions as F

    state = log.groupBy("run_id", "url").agg(
        F.min(
            F.when(F.col("kind") == "add", F.struct("depth", "seq"))
        ).alias("am"),
        F.min(
            F.when(F.col("kind") == "consume", F.col("depth"))
        ).alias("cd"),
        F.max(F.when(F.col("kind") == "add", F.col("host"))).alias("host"),
    )
    frontier = (
        state.filter(
            F.col("am").isNotNull()
            & (F.col("cd").isNull() | (F.col("am.depth") < F.col("cd")))
        )
        .select("run_id", "url", "host",
                F.col("am.depth").alias("depth"), F.col("am.seq").alias("seq"))
    )
    seen = state.filter(F.col("cd").isNotNull()).select(
        "run_id", "url", F.col("cd").alias("best_depth")
    )
    return frontier, seen
