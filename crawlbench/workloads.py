"""The two crawl workloads: seeded inputs, one crawl, and the
correctness check of every crawl.

Every workload drives only the public engine API (``CrawlEngine(...)``,
``add_works``, ``run``, ``CrawlResult``, ``wave_times``) and only
engine modes meant to stay: memory mode or the event-log journal, the
LSM frontier default, the sharded bloom. A crawl is one ``run()`` of a
fresh engine over the workload's inputs. Its first ``ramp`` waves are
the untimed warm-up: they take the first (cold) wave of the process
and grow the frontier until the slice sits at its steady size. The
waves after the ramp are the timed waves, alike in size.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zlib
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moca_spark.criteria.dsl import CriteriaSpec, Work
from moca_spark.crawl.engine import CrawlEngine
from moca_spark.crawl.oracle import oracle_crawl
from moca_spark.sources.synth import images_for_urls, links_df, zipf_graph
from moca_spark.store.lakehouse import write_corpus_bucketed

from tracing import dir_bytes

RESULT_COLS = ["run_id", "wave", "host", "rank", "url", "depth", "fetched"]
GRAPH_SEED = 42  # the fixture graph's shape; --seed relabels it


@dataclass
class Crawl:
    """One crawl: timings plus the outcome of its checks."""

    start_age_s: float  # process age when run() was called
    ramp_s: float  # wall of the untimed ramp waves
    wall_s: float  # run() wall minus the ramp waves
    wave_times: list[float]  # timed waves only
    rows_per_wave: list[int]  # every wave, 1-based order
    timed_rows: int
    resume_s: list[float] = field(default_factory=list)
    wrong_rows: int = 0
    checked_rows: int = 0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _multiset_diff(got: list[tuple], want: list[tuple]) -> int:
    """Rows in one list and not the other, counted with multiplicity."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


class Workload:
    name = ""
    ramp = 2  # untimed waves at the start of every crawl
    nominal_wave_s = 1.0  # sizes the timed wave count from --seconds
    resumes = False  # whether a crawl ends with a resume from its journal
    # traced names (tracing.HOOKS) every traced crawl must call
    traced_calls = ("wave.slice_split", "criteria.apply_criteria")

    def __init__(self, spark: SparkSession, workdir: str, seed: int,
                 tiny: bool):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tiny = tiny

    def generate(self) -> None:
        raise NotImplementedError

    def timed_waves(self, seconds: float) -> int:
        return max(2, round(seconds / self.nominal_wave_s))

    def engine(self, **extra) -> CrawlEngine:
        raise NotImplementedError

    def check(self, res, waves: int) -> tuple[int, int]:
        """(wrong rows, rows checked) of one crawl's result."""
        raise NotImplementedError

    def crawl(self, timed: int, tracer=None, resume_tracer=None) -> Crawl:
        """One checked crawl of ``ramp + timed`` waves; ``tracer`` (a
        tracing.Tracer) covers it, ``resume_tracer`` its resume where
        the workload has one."""
        eng = self.engine()
        waves = self.ramp + timed
        start_age = process_age_s()
        with tracer or nullcontext():
            t0 = time.monotonic()
            res = eng.run(max_waves=waves)
            wall = time.monotonic() - t0
        c = self._crawl_record(eng, res, wall, start_age)
        c.wrong_rows, c.checked_rows = self.check(res, waves)
        return c

    def _crawl_record(self, eng, res, wall, start_age) -> Crawl:
        counts = dict(res.results.groupBy("wave").count().collect())
        rows = [counts.get(w, 0) for w in range(1, res.waves + 1)]
        ramp_s = sum(eng.wave_times[:self.ramp])
        return Crawl(start_age, ramp_s, wall - ramp_s,
                     list(eng.wave_times[self.ramp:]), rows,
                     sum(rows[self.ramp:]))

    def urls_and_hosts(self) -> tuple[DataFrame, DataFrame]:
        """The workload's own URLs and hosts, for the UDF-layer rates."""
        raise NotImplementedError


# --------------------------------------------------------------------
# fixture_journal: per-wave fixed cost and the event-log journal,
# checked row-for-row by the oracle, before and after a resume
# --------------------------------------------------------------------

class FixtureJournal(Workload):
    """~500-URL Zipf graph, a dozen works mixing max-depth, same-host,
    same-domain and robots criteria, budget 2, event-log journal with
    compaction. A wave fetches 10-20 URLs, so per-wave fixed cost
    (jobs, planning, the PSL domain UDF crossing the Arrow boundary,
    the journal's per-wave appends) sets every number. After the crawl
    a fresh engine resumes from a copy of the journal as it stood one
    wave before the end and commits the last wave again."""

    name = "fixture_journal"
    budget = 2
    ramp = 2  # the cold wave, and the one that warms the journal writes
    nominal_wave_s = 1.4
    compact_every = 3
    resumes = True
    traced_calls = Workload.traced_calls + (
        "store.append_events", "store.write_increment", "store.compact")

    def generate(self) -> None:
        """A fixed Zipf graph whose hosts and pages ``--seed`` relabels:
        every seed crawls an isomorphic web, so the work per wave stays
        the same while the hashes, partitions and tie-breaks that
        depend on the URL strings change. Works, robots rules and
        failed fetches are fixed in the graph's own labels."""
        n_hosts, per_host = (6, 6) if self.tiny else (20, 25)
        base = zipf_graph(n_hosts=n_hosts, pages_per_host=per_host,
                          seed=GRAPH_SEED)
        pages = sorted({u for e in base for u in e})
        hosts = sorted({u.split("/")[2] for u in pages})
        rng = np.random.RandomState(self.seed)
        host_no = dict(zip(hosts, rng.permutation(len(hosts))))
        page_no = dict(zip(pages, rng.permutation(len(pages))))

        def label(url: str) -> str:
            return (f"http://site{host_no[url.split('/')[2]]}.test"
                    f"/p{page_no[url]:04d}")

        fixed = np.random.RandomState(GRAPH_SEED)
        # fixed-width page labels: a disallowed path prefixes one page
        self.robots = [(label(u).split("/")[2], "/" + label(u).split("/", 3)[3])
                       for u in fixed.choice(pages, size=6, replace=False)]
        n_works = min(12, len(hosts))
        self.works = [
            Work(f"w{i:02d}", label(f"http://{h}/p0"), CriteriaSpec(
                max_depth=int(fixed.randint(3, 7)),
                same_host=i % 4 == 1, same_domain=i % 4 == 2,
                robots_txt=i % 4 in (0, 3)))
            for i, h in enumerate(fixed.choice(hosts, size=n_works,
                                               replace=False))
        ]
        # about one page in eight has no corpus row: a failed fetch
        seeds = {w.seed_url for w in self.works}
        self.corpus_urls = {label(u) for u in pages
                            if zlib.crc32(u.encode()) % 8 or label(u) in seeds}
        self.edges = [(label(s), label(d)) for s, d in base]
        self.links = links_df(self.spark, self.edges)
        self.images = images_for_urls(self.spark, sorted(self.corpus_urls)) \
            .cache()
        self.images.count()
        self.robots_df = self.spark.createDataFrame(
            self.robots, "host string, disallow_prefix string")

    def engine(self, **extra) -> CrawlEngine:
        eng = CrawlEngine(self.spark, self.links, self.images, self.robots_df,
                          budget=self.budget, n_salts=4, durable="eventlog",
                          compact_every=self.compact_every, **extra)
        eng.add_works(self.works)
        return eng

    def crawl(self, timed, tracer=None, resume_tracer=None) -> Crawl:
        # the last wave must not compact, so that the journal one wave
        # before the end is the wave dirs minus the last one
        if (self.ramp + timed) % self.compact_every == 0:
            timed += 1
        waves = self.ramp + timed
        chk = os.path.join(self.workdir, "journal")
        shutil.rmtree(chk, ignore_errors=True)
        eng = self.engine(checkpoint_dir=chk)
        start_age = process_age_s()
        with tracer or nullcontext():
            t0 = time.monotonic()
            res = eng.run(max_waves=waves)
            wall = time.monotonic() - t0
        self.journal_mb = dir_bytes(chk) / (1024 * 1024)
        c = self._crawl_record(eng, res, wall, start_age)
        c.wrong_rows, c.checked_rows = self.check(res, waves)

        copy = chk + "-resume"
        shutil.copytree(chk, copy, ignore=shutil.ignore_patterns(
            f"wave={waves}"))
        with resume_tracer or nullcontext():
            t0 = time.monotonic()
            resumed = self.engine(checkpoint_dir=copy).run(
                max_waves=waves, resume=True)
            c.resume_s.append(time.monotonic() - t0)
        wrong, checked = self.check(resumed, waves)
        c.wrong_rows += wrong
        c.checked_rows += checked
        shutil.rmtree(copy)
        shutil.rmtree(chk)
        return c

    def check(self, res, waves):
        """Row-for-row against crawl/oracle.py: results, per-host crawl
        order, seen set and wave count."""
        got = res.results.select(*RESULT_COLS).collect()
        order = res.crawl_order().select(
            "host", "pos", "url", "depth", "run_id", "wave").collect()
        seen = res.seen.select("run_id", "url", "best_depth").collect()
        want = oracle_crawl(self.works, self.edges, robots=self.robots,
                            budget=self.budget, corpus_urls=self.corpus_urls,
                            max_waves=waves)
        wrong = (
            _multiset_diff([tuple(r) for r in got],
                           [tuple(r[c] for c in RESULT_COLS)
                            for r in want.results])
            + _multiset_diff(
                [tuple(r) for r in order],
                [(r["host"], r["pos"], r["url"], r["depth"], r["run_id"],
                  r["wave"]) for r in want.crawl_order])
            + _multiset_diff([tuple(r) for r in seen],
                             [(k[0], k[1], d) for k, d in want.seen.items()])
            + abs(res.waves - want.waves))
        return wrong, len(got) + len(order) + len(seen)

    def urls_and_hosts(self):
        urls = sorted({u for e in self.edges for u in e})
        df = self.spark.createDataFrame(pd.DataFrame({"url": urls}))
        return df, df.select(F.parse_url("url", F.lit("HOST")).alias("host"))


# --------------------------------------------------------------------
# web_wide: generated web with Zipf hosts, out-degree 8, canonical
# links partitioned by source host, bucketed corpus
# --------------------------------------------------------------------

def _host_rank(id_col, n_hosts: int, seed: int):
    """Zipf(s=1) host of a page id by inverse CDF, as in
    sources.synth.scale_frontier: rank = n_hosts^u - 1."""
    u = (F.abs(F.xxhash64(id_col, F.lit(seed))) % F.lit(1_000_000)) \
        / F.lit(1_000_000.0)
    return F.least(F.lit(n_hosts - 1),
                   F.floor(F.pow(F.lit(float(n_hosts)), u)) - F.lit(1)) \
        .cast("long")


def _host(id_col, n_hosts, seed):
    return F.concat(F.lit("host"), _host_rank(id_col, n_hosts, seed),
                    F.lit(".test"))


def _url(id_col, n_hosts, seed):
    return F.concat(F.lit("http://"), _host(id_col, n_hosts, seed),
                    F.lit("/p"), id_col.cast("string"))


def generate_web(spark: SparkSession, root: str, seed: int, n_pages: int,
                 n_hosts: int, hubs: list[int], hub_degree: int,
                 out_degree: int = 8, corpus_buckets: int = 16):
    """Write the web to ``root``: links partitioned by src_host (one
    file per host) and a bucketed corpus with one tiny row per page.
    Every page links to ``out_degree`` random pages; the ``hubs`` (the
    crawl's seed pages, like site home pages) link to ``hub_degree``.
    Returns (links, images)."""
    ids = spark.range(0, n_pages, 1, 8)
    hub_ids = spark.createDataFrame(pd.DataFrame({"id": hubs}), "id long")
    fanout = (
        ids.select("id", F.explode(F.sequence(F.lit(0),
                                              F.lit(out_degree - 1)))
                   .alias("k"))
        .unionByName(hub_ids.select(
            "id", F.explode(F.sequence(F.lit(out_degree),
                                       F.lit(out_degree + hub_degree - 1)))
            .alias("k")))
    )
    dst = F.pmod(F.xxhash64(F.col("id"), F.col("k"), F.lit(seed + 1)),
                 F.lit(n_pages))
    links = (
        fanout.select(_url(F.col("id"), n_hosts, seed).alias("src_url"),
                      _url(dst, n_hosts, seed).alias("dst_url"),
                      _host(F.col("id"), n_hosts, seed).alias("src_host"))
        .filter(F.col("src_url") != F.col("dst_url"))
    )
    links_dir = os.path.join(root, "links")
    links.repartition(8, "src_host").write.mode("overwrite") \
        .partitionBy("src_host").parquet(links_dir)
    pages = ids.select(_url(F.col("id"), n_hosts, seed).alias("url"))
    images = pages.select(
        F.sha1(F.encode("url", "UTF-8")).alias("image_id"),
        F.encode(F.substring("url", 1, 8), "UTF-8").alias("bytes"),
        F.lit(8).alias("w"), F.lit(8).alias("h"), F.lit("png").alias("fmt"),
        F.concat(F.lit("caption-"),
                 F.substring(F.sha1(F.encode("url", "UTF-8")), 1, 12))
        .alias("caption"),
        F.xxhash64("url").alias("phash"),
    )
    images = write_corpus_bucketed(spark, images, os.path.join(root, "corpus"),
                                   n_buckets=corpus_buckets)
    return spark.read.parquet(links_dir), images


def check_invariants(results: DataFrame, budget: int) -> tuple[int, int]:
    """(wrong rows, rows checked) for the exact invariants of a
    generated-web crawl: every page has a corpus row, so every fetch
    succeeds; no host gets more than ``budget`` fetches in a wave; a
    (run, url) is fetched again only at a strictly smaller depth."""
    r = results.select(*RESULT_COLS)
    w = Window.partitionBy("run_id", "url").orderBy("wave") \
        .rowsBetween(Window.unboundedPreceding, -1)
    row = r.withColumn("_prev", F.min("depth").over(w)).agg(
        F.count("*").alias("n"),
        F.sum((~F.col("fetched")).cast("long")).alias("not_fetched"),
        F.sum((F.col("_prev").isNotNull()
               & (F.col("depth") >= F.col("_prev"))).cast("long"))
        .alias("refetch"),
    ).first()
    over = r.groupBy("wave", "host").count().agg(
        F.sum(F.greatest(F.col("count") - budget, F.lit(0))).alias("over")
    ).first().over
    return (row.not_fetched or 0) + (row.refetch or 0) + (over or 0), row.n


class WebWide(Workload):
    """Data work dominates: a handful of works over a generated web,
    the slice at its budget x hosts cap, sharded bloom, bucketed
    corpus, canonical host-partitioned links, memory mode, and the
    at-scale plan regimes (sort-merge admission, bucket-pruned fetch).
    The seed pages are hubs, so the slice nears its cap on wave 2; the
    ramp also covers the first wave at the cap."""

    name = "web_wide"
    budget = 16
    ramp = 3
    nominal_wave_s = 2.2
    n_works = 6
    traced_calls = Workload.traced_calls + ("filters.probe", "filters.build")

    def sizes(self) -> tuple[int, int, int]:
        """(pages, hosts, hub out-degree)."""
        return (20_000, 40, 256) if self.tiny else (40_000, 200, 1024)

    def generate(self) -> None:
        n_pages, n_hosts, hub_degree = self.sizes()
        rng = np.random.RandomState(self.seed)
        hubs = [int(i) for i in rng.choice(n_pages, size=self.n_works,
                                           replace=False)]
        self.links, self.images = generate_web(
            self.spark, os.path.join(self.workdir, "web"), self.seed,
            n_pages, n_hosts, hubs, hub_degree)
        urls = [r.url for r in self.spark.createDataFrame(
            pd.DataFrame({"id": hubs}), "id long")
            .select(_url(F.col("id"), n_hosts, self.seed).alias("url"))
            .collect()]
        self.works = [Work(f"w{i}", u, CriteriaSpec(max_depth=None))
                      for i, u in enumerate(urls)]
        self.n_pages = n_pages

    def engine(self, **extra) -> CrawlEngine:
        # Three thresholds are lowered so that slices of a few thousand
        # rows take the plan regimes a production slice of 10^5 rows
        # takes: the seen state passes the broadcast bound during the
        # ramp (timed waves admit by sort-merge join), slices fetch by
        # bucket pruning instead of chunked id lists, and the bloom base
        # folds every 3 waves (timed waves probe it).
        eng = CrawlEngine(
            self.spark, self.links, self.images,
            budget=self.budget, durable=False, n_salts=8,
            use_bloom="sharded", bloom_capacity=self.n_pages,
            fold_every=3,
            state_broadcast_max=self.budget * 40,
            fetch_prune=1000,
            links_canonical=True, corpus_buckets=16, **extra)
        eng.add_works(self.works)
        return eng

    def check(self, res, waves):
        return check_invariants(res.results, self.budget)

    def urls_and_hosts(self):
        urls = self.links.select(F.col("dst_url").alias("url"))
        return urls, self.links.select(F.col("src_host").alias("host"))


WORKLOADS = {w.name: w for w in (FixtureJournal, WebWide)}
