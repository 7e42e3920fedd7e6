"""Crawl benchmark: one workload, one process, one JSON line.

    python3 crawlbench/run.py --workload fixture_journal --seed 1 \\
        --seconds 6 --trace 0

Run from the repository root. The process starts a ``local[4]`` Spark
session, generates the workload's inputs from ``--seed`` and makes one
crawl whose first waves are the untimed warm-up and whose remaining
waves are timed (``--trace 0``), or that crawl plus a traced one
(``--trace 1``). Every crawl's output is checked (workloads.py). The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The exit code is 1 when any row is wrong. Everything
the run writes lives under ``.crawlbench_work/`` in the working
directory and is removed at exit. See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

MB = 1024 * 1024
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8  # twice the cores
DRIVER_MEMORY = "1536m"


def process_tree() -> dict[int, str]:
    """pid -> command name of this process and all its descendants
    (the Spark JVM and the Python workers it forks)."""
    parent, name = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name[int(d)] = stat[stat.index("(") + 1:stat.rindex(")")]
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree[pid] = name.get(pid, "")
        frontier += [c for c, p in parent.items() if p == pid]
    return tree


def hwm_mb(tree: dict[int, str]) -> dict[int, float]:
    """pid -> kernel high-water mark of resident memory (VmHWM), MB."""
    out = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024
        except OSError:
            pass
    return out


def start_session(workdir: str, trace: bool):
    from moca_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("crawlbench", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def free_new_rdds(spark, before: set) -> None:
    """Unpersist what a crawl cached, so the next one starts alike."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in set(jmap.keySet()) - before:
        jmap.get(rid).unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def udf_rate(df, col: str, udf) -> float:
    """Rows per second of a public pandas UDF over ``df[col]``,
    forced with a noop sink; median of three passes."""
    from workloads import median

    df = df.select(col).localCheckpoint()
    n = df.count()
    times = []
    for _ in range(3):
        t0 = time.monotonic()
        df.select(udf(col)).write.format("noop").mode("overwrite").save()
        times.append(time.monotonic() - t0)
    return n / median(times)


def count_mismatched_waves(crawls) -> int:
    """Rows by which any crawl's per-wave fetched counts differ from
    the longest crawl's (same seed, same inputs: they must agree)."""
    ref = max((c.rows_per_wave for c in crawls), key=len)
    return sum(abs(a - b) for c in crawls
               for a, b in zip(c.rows_per_wave, ref))


def layer_metrics(wl, tracer, resume_tracer, traced, events, tree,
                  session_s, gen_s, rates) -> dict:
    from tracing import analyze

    n_waves = len(traced.rows_per_wave)
    timed = range(wl.ramp + 1, n_waves + 1)
    eng = analyze(events, tracer, timed)
    fetched = sum(traced.rows_per_wave)

    def plan_ms(name):
        calls = tracer.calls(name)
        return 1000 * tracer.total_s(name) / calls if calls else 0.0

    appends = tracer.spans_named("store.append_events")
    # an append inside a compaction writes the compacted log
    top_appends = [s for s in appends if s.parent is None]
    nested = [s for s in appends if s.parent is not None]
    dir_mb = getattr(wl, "journal_mb", 0.0)
    m = {
        "session.start_s": (session_s, "s"),
        "sources.gen_s": (gen_s, "s"),
        "engine.jobs_per_wave": (eng["jobs_per_wave"], "count"),
        "engine.stages_per_wave": (eng["stages_per_wave"], "count"),
        "engine.tasks_per_wave": (eng["tasks_per_wave"], "count"),
        "engine.driver_gap_s_per_wave": (eng["driver_gap_s_per_wave"], "s"),
        "engine.job_busy_s_per_wave": (eng["job_busy_s_per_wave"], "s"),
        "engine.shuffle_write_mb_per_wave":
            (eng["shuffle_write_mb_per_wave"], "MB"),
        "engine.shuffle_records_per_wave":
            (eng["shuffle_records_per_wave"], "count"),
        "engine.spill_mb": (eng["spill_mb"], "MB"),
        "engine.task_cpu_share": (eng["task_cpu_share"], "share"),
        "engine.gc_share": (eng["gc_share"], "share"),
        "engine.cached_mb_max": (eng["cached_mb_max"], "MB"),
        "engine.waves": (len(timed), "count"),
        "engine.slice_rows_per_wave":
            (traced.timed_rows / len(timed), "count"),
        "wave.slice_plan_ms": (plan_ms("wave.slice_split"), "ms"),
        "criteria.plan_ms": (plan_ms("criteria.apply_criteria"), "ms"),
        "filters.probe_plan_ms": (plan_ms("filters.probe"), "ms"),
        "filters.build_plan_ms": (plan_ms("filters.build"), "ms"),
        "filters.fold_calls": (tracer.calls("filters.build"), "count"),
        "functions.canonicalize_urls_per_s": (rates[0], "1/s"),
        "functions.domain_hosts_per_s": (rates[1], "1/s"),
        "functions.python_workers":
            (sum("python" in n for n in tree.values()) - 1, "count"),
        "store.append_s": (sum(s.end - s.start for s in top_appends), "s"),
        "store.append_mb":
            (sum(s.info.get("bytes", 0) for s in top_appends) / MB, "MB"),
        "store.increment_s": (tracer.total_s("store.write_increment"), "s"),
        "store.compact_calls": (tracer.calls("store.compact"), "count"),
        "store.compact_s": (tracer.total_s("store.compact"), "s"),
        "store.compact_mb":
            (sum(s.info.get("bytes", 0) for s in nested) / MB, "MB"),
        "store.read_log_s": (resume_tracer.total_s("store.read_log")
                             if resume_tracer else 0.0, "s"),
        "store.mb_per_kurl": (dir_mb / (fetched / 1000), "MB"),
        "store.dir_mb": (dir_mb, "MB"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}, eng


def check_hooks_fired(wl, tracer, resume_tracer) -> None:
    """A hook that never fires reports zeros; fail instead."""
    missing = [n for n in wl.traced_calls if not tracer.calls(n)]
    if resume_tracer is not None and not resume_tracer.calls("store.read_log"):
        missing.append("store.read_log (resume)")
    if missing:
        raise RuntimeError(f"traced names never called: {missing}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs")
    args = ap.parse_args(argv)
    load_start = os.getloadavg()[0]

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}; "
                 f"choose from {sorted(WORKLOADS)}")
    workdir = os.path.abspath(".crawlbench_work")
    shutil.rmtree(workdir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        return run(args, WORKLOADS[args.workload], workdir, load_start)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, workload_cls, workdir: str, load_start: float) -> int:
    from workloads import median

    spark = None
    try:
        t0 = time.monotonic()
        spark = start_session(workdir, bool(args.trace))
        session_s = time.monotonic() - t0
        wl = workload_cls(spark, workdir, args.seed, args.size == "tiny")
        t0 = time.monotonic()
        wl.generate()
        gen_s = time.monotonic() - t0
        n_timed = wl.timed_waves(args.seconds)
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        timed = wl.crawl(n_timed)
        setup_s = timed.start_age_s + timed.ramp_s
        crawls = [timed]
        tracer = resume_tracer = None
        if args.trace:
            from tracing import Tracer

            free_new_rdds(spark, before)
            tracer = Tracer(spark, "crawl")
            if wl.resumes:
                resume_tracer = Tracer(spark, "resume")
            crawls.append(wl.crawl(n_timed, tracer, resume_tracer))
            check_hooks_fired(wl, tracer, resume_tracer)
        wrong = sum(c.wrong_rows for c in crawls) + \
            count_mismatched_waves(crawls)
        checked = sum(c.checked_rows for c in crawls)

        rates = (0.0, 0.0)
        if args.trace:
            from moca_spark.functions.urls import canonicalize_udf, domain_udf

            urls, hosts = wl.urls_and_hosts()
            cap = 20_000 if args.size == "tiny" else 200_000
            rates = (udf_rate(urls.limit(cap), "url", canonicalize_udf),
                     udf_rate(hosts.limit(cap), "host", domain_udf))
        tree = process_tree()
        hwm = hwm_mb(tree)
    finally:
        if spark is not None:
            stop_session(spark)

    e2e = {
        "setup_s": (setup_s, "s"),
        "urls_per_s": (timed.timed_rows / timed.wall_s, "1/s"),
        "wave_p50_s": (median(timed.wave_times), "s"),
        "peak_rss_mb": (sum(hwm.values()), "MB"),
    }
    info = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "timed_waves": len(timed.wave_times),
        "rows_per_wave": timed.rows_per_wave,
        "wave_times": [round(t, 3) for t in timed.wave_times],
        "wrong_rows": wrong,
        "resume_s": (round(median(timed.resume_s), 4)
                     if timed.resume_s else None),
        "resume_samples": len(timed.resume_s),
        "hwm_mb": {f"{tree[p]}:{p}": round(v) for p, v in hwm.items()},
        "nproc": os.cpu_count(),
        "load1_start": load_start, "load1_end": os.getloadavg()[0],
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        from tracing import read_event_log

        traced = crawls[-1]
        events = read_event_log(os.path.join(workdir, "eventlog"))
        metrics, eng = layer_metrics(wl, tracer, resume_tracer, traced,
                                     events, tree, session_s, gen_s, rates)
        info["jobs_traced_crawl"] = eng["jobs_total"]
        # tracing overhead: the traced crawl against the untraced crawl
        # of the same process (the event log is on in both)
        info["trace_overhead"] = {
            "wave_p50_ratio":
                median(traced.wave_times) / median(timed.wave_times),
            "urls_per_s_ratio":
                (traced.timed_rows / traced.wall_s) / e2e["urls_per_s"][0],
        }
    print("crawlbench " + json.dumps(info))
    print(" ".join(f"{k}={v['value']:.4g}{v['unit']}"
                   for k, v in metrics.items()))
    print(json.dumps({"correct": wrong == 0, "attempted": max(checked, 1),
                      "failed": wrong, "metrics": metrics}))
    return 0 if wrong == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
