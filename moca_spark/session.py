"""SparkSession factory with scale-oriented defaults.

Local testing runs a single JVM (``local[N]``); the configuration is
written for a 1000-executor cluster reading 100 TB:

- AQE on (runtime coalesce + skew-join splitting) — hot hosts in a
  crawl frontier are exactly the skew AQE's skew-join handles for the
  order-insensitive stages; order-sensitive stages are explicitly
  salted instead (see operators/wave.py).
- Arrow transport on, with a bounded batch size so pandas-UDF stages
  have predictable executor memory.
- Shuffle partition count is a knob (default 32 locally; a real
  cluster sets it near 2-3x total cores, or leaves AQE to coalesce).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_package_zip: str | None = None


def ship_package(spark: SparkSession) -> str:
    """Make ``moca_spark`` importable on executors regardless of cwd:
    zip the package and ``addPyFile`` it — the programmatic equivalent
    of ``spark-submit --py-files moca_spark.zip`` (the north rule's
    deployment mode). Python workers unpickling pandas UDFs import
    from this archive.

    One zip per process, whatever the number of sessions: Spark's file
    server serves the original path while a context lives, so the zip
    stays until interpreter exit, which removes its dir."""
    global _package_zip
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # already running from a --py-files zip: executors got it from
        # spark-submit, nothing to ship
        return pkg_dir
    if _package_zip is None:
        d = tempfile.mkdtemp(prefix="moca-pyfiles-")
        atexit.register(shutil.rmtree, d, True)
        root = os.path.dirname(pkg_dir)
        z = os.path.join(d, "moca_spark.zip")
        with zipfile.ZipFile(z, "w") as f:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    # .dat: the full public-suffix list (functions/psl.py
                    # reads it via importlib.resources, which resolves
                    # inside the zip on executors)
                    if fn.endswith((".py", ".dat")):
                        p = os.path.join(dirpath, fn)
                        f.write(p, os.path.relpath(p, root))
        _package_zip = z
    spark.sparkContext.addPyFile(_package_zip)
    return _package_zip


def get_spark(
    app_name: str = "moca-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("MOCA_SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("MOCA_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fetch-prune point lookups (engine._pruned_images) push a
        # slice of <= fetch_prune (default 200) image-ids as one
        # parquet In filter for row-group skipping; past this
        # threshold Spark degrades In to a min/max range (useless over
        # uniform sha1 ids), and parquet evaluates In as a values-deep
        # Or recursion that stack-overflows near ~2000 values. Larger
        # slices read only their buckets' files on the bucketed corpus
        # (write_corpus_bucketed), which has no such limit.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
        # keep bucketed scans ON even when a query has no
        # shuffle-avoidance benefit: the corpus fetch join relies on
        # bucket PRUNING (SelectedBucketsCount) of the slice-id filter,
        # which the DisableUnnecessaryBucketedScan rule would otherwise
        # hide; all bucketed tables here (state, corpus) choose bucket
        # counts >= cluster parallelism, so the scan-parallelism cap is
        # moot
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # scan-parallelism floor for small inputs (round 6): the split
        # planner charges every file openCostInBytes, so a single
        # ~10 MB parquet file yields only 2-3 scan tasks and the
        # map-side sort/agg of every small-table query runs on 3 of N
        # cores. 512 KB only binds when bytes-per-core < 4 MB — big
        # scans still split by maxPartitionBytes / bytesPerCore, so
        # the 100 TB layout is unaffected (measured: q13 -12% at
        # sf0.1, nothing slower).
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.driver.memory", os.environ.get("MOCA_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
