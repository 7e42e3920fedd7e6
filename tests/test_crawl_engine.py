"""Engine vs oracle parity on the fixture graphs (FIXTURES.md §2/§6,
mirroring PgRunControlTest.scala:42-243, WorkerTest.scala:35-178,
PartitionSchedulerTest.scala:10-97 semantics)."""

from __future__ import annotations

import pytest

from moca_spark.criteria.dsl import CriteriaSpec, Work
from moca_spark.crawl.engine import CrawlEngine, CrawlResult
from moca_spark.crawl.oracle import (
    oracle_corpus_urls,
    oracle_crawl,
    oracle_seen_rows,
)
from moca_spark.sources.synth import (
    chain_graph,
    cycle_graph,
    diamond_graph,
    handoff_graph,
    images_for_urls,
    links_df,
    zipf_graph,
)


def make_engine(spark, tmp_path, works, edges, robots=None, budget=8,
                corpus_urls=None, n_salts=4, **kw):
    urls = corpus_urls if corpus_urls is not None else oracle_corpus_urls(edges, works)
    images = images_for_urls(spark, sorted(urls))
    robots_sdf = (
        spark.createDataFrame(robots, ["host", "disallow_prefix"]) if robots else None
    )
    kw.setdefault("durable", False)  # memory mode: fast tests
    eng = CrawlEngine(
        spark,
        links_df(spark, edges),
        images,
        robots_sdf,
        budget=budget,
        checkpoint_dir=str(tmp_path / "chk"),
        n_salts=n_salts,
        **kw,
    )
    eng.add_works(works)
    return eng, urls


def run_both(spark, tmp_path, works, edges, robots=None, budget=8,
             corpus_urls=None, n_salts=4, **kw):
    eng, urls = make_engine(spark, tmp_path, works, edges, robots=robots,
                            budget=budget, corpus_urls=corpus_urls,
                            n_salts=n_salts, **kw)
    got = eng.run()
    want = oracle_crawl(works, edges, robots=robots, budget=budget,
                        corpus_urls=urls)
    return got, want


def assert_match(got, want):
    # per-host crawl order (golden crawl_order, FIXTURES.md §6)
    got_order = sorted(
        (r.host, r.pos, r.url, r.depth, r.run_id, r.wave)
        for r in got.crawl_order().collect()
    )
    want_order = sorted(
        (r["host"], r["pos"], r["url"], r["depth"], r["run_id"], r["wave"])
        for r in want.crawl_order
    )
    assert got_order == want_order
    # final seen set with best depths (golden seen_set)
    got_seen = sorted((r.run_id, r.url, r.best_depth) for r in got.seen.collect())
    want_seen = sorted(
        (r["run_id"], r["url"], r["best_depth"]) for r in oracle_seen_rows(want)
    )
    assert got_seen == want_seen
    assert got.waves == want.waves


W = lambda wid, url, **kw: Work(wid, url, CriteriaSpec(**kw))  # noqa: E731


def test_single_host_chain_bfs(spark, tmp_path):
    """WorkerTest BFS semantics: chain crawled in order, depths 0..n."""
    edges = chain_graph(n=6)
    works = [W("w1", "http://site0.test/0", max_depth=10)]
    got, want = run_both(spark, tmp_path, works, edges, budget=2)
    assert_match(got, want)
    # budget 2 over a 6-chain where each wave only uncovers one new url:
    # frontier never holds >1 url, so 6 waves
    assert want.waves == 6
    order = [r["url"] for r in want.crawl_order]
    assert order == [f"http://site0.test/{i}" for i in range(6)]


def test_two_host_handoff(spark, tmp_path):
    """Cross-partition handoff (D5): siteB URLs crawled by siteB slices."""
    works = [W("w1", "http://sitea.test/a", max_depth=5)]
    got, want = run_both(spark, tmp_path, works, handoff_graph(), budget=4)
    assert_match(got, want)
    hosts = {r["url"]: r["host"] for r in want.crawl_order}
    assert hosts["http://siteb.test/a"] == "siteb.test"
    assert len(want.crawl_order) == 4


def test_diamond_min_depth(spark, tmp_path):
    """README.md:264-295 diamond: siteA/d reachable at depths 3 and 2.
    With synchronous waves siteB's depth-2 discovery lands before the
    depth-3 path is fetched, so /d is crawled once, at depth 2."""
    works = [W("w1", "http://sitea.test/a", max_depth=3)]
    got, want = run_both(spark, tmp_path, works, diamond_graph(), budget=1)
    assert_match(got, want)
    d_fetches = [r for r in want.crawl_order if r["url"] == "http://sitea.test/d"]
    seen = {r["url"]: r["best_depth"] for r in oracle_seen_rows(want)}
    assert seen["http://sitea.test/d"] == 2
    assert [r["depth"] for r in d_fetches] == [2]


def _recrawl_edges():
    """The T8 diamond fixture: host B drains five TIED depth-1 pages
    (identical (depth, seq)) one per wave, so its link to A/d at depth
    2 lands only after host C's fast path fetched A/d at depth 3. The
    ordering contract breaks slice ties on _key (crawl/oracle.py), so
    the in-tie drain order is the key order — the A/d linker must be
    the LAST-draining page, computed here rather than hard-coded (the
    old fixture relied on the pre-round-5 url-string tie-break)."""
    from moca_spark.functions.xxh64 import state_key

    B, C, A = "http://siteb.test", "http://sitec.test", "http://sitea.test"
    linker = max(range(1, 6), key=lambda i: state_key("w1", f"{B}/b{i}"))
    # precondition: the linker drains at wave >= 5 (fast-path A/d
    # fetch is wave 4), i.e. at least 3 of the 5 tied pages precede it
    order = sorted(range(1, 6), key=lambda i: state_key("w1", f"{B}/b{i}"))
    assert order.index(linker) >= 3
    edges = (
        [(f"{B}/s", f"{B}/b{i}") for i in range(1, 6)]
        + [
            (f"{B}/b{linker}", f"{A}/d"),  # slow path: d at depth 2
            (f"{B}/s", f"{C}/c1"),
            (f"{C}/c1", f"{C}/c2"),
            (f"{C}/c2", f"{A}/d"),  # fast path: d at depth 3
            (f"{A}/d", f"{A}/e"),
        ]
    )
    return edges, B, C, A


def test_recrawl_on_smaller_depth(spark, tmp_path):
    """T8 / PgRunControlTest.scala:130-167: a URL crawled at depth 3 and
    later re-discovered at depth 2 is RE-crawled, and its subtree
    (previously suppressed by max-depth) gets expanded.

    Host B drains a long depth-1 queue (budget 1) and only reaches the
    page linking A/d at depth 2 AFTER host C's fast path already got
    A/d fetched at depth 3."""
    edges, B, C, A = _recrawl_edges()
    works = [W("w1", f"{B}/s", max_depth=3)]
    got, want = run_both(spark, tmp_path, works, edges, budget=1)
    assert_match(got, want)
    d_fetches = [r for r in want.crawl_order if r["url"] == f"{A}/d"]
    assert [r["depth"] for r in d_fetches] == [3, 2]  # re-crawl happened
    seen = {r["url"]: r["best_depth"] for r in oracle_seen_rows(want)}
    assert seen[f"{A}/d"] == 2
    # first crawl at depth 3 could NOT expand (max_depth); the re-crawl
    # at depth 2 expands and admits /e at depth 3
    assert seen[f"{A}/e"] == 3


def test_cycle_terminates(spark, tmp_path):
    works = [W("w1", "http://cyc.test/a", max_depth=10)]
    got, want = run_both(spark, tmp_path, works, cycle_graph(), budget=8)
    assert_match(got, want)
    assert len(want.crawl_order) == 3  # each url fetched exactly once


def test_max_depth_gates_expansion_not_admission(spark, tmp_path):
    """MaxDepthCriteria.scala:10-12: a child AT max_depth is fetched but
    not expanded."""
    edges = chain_graph(n=5)
    works = [W("w1", "http://site0.test/0", max_depth=2)]
    got, want = run_both(spark, tmp_path, works, edges, budget=8)
    assert_match(got, want)
    fetched = {r["url"] for r in want.crawl_order}
    assert fetched == {f"http://site0.test/{i}" for i in (0, 1, 2)}


def test_politeness_budget_respected(spark, tmp_path):
    """≤ budget fetches per host per wave; rank is the in-wave order."""
    edges = [("http://hub.test/0", f"http://hub.test/{i}") for i in range(1, 12)]
    works = [W("w1", "http://hub.test/0", max_depth=3)]
    got, want = run_both(spark, tmp_path, works, edges, budget=3)
    assert_match(got, want)
    per_wave = {}
    for r in got.results.collect():
        per_wave.setdefault((r.wave, r.host), []).append(r.rank)
    for (_w, _h), ranks in per_wave.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_same_host_and_domain_criteria(spark, tmp_path):
    edges = [
        ("http://a.shop.test/x", "http://a.shop.test/y"),
        ("http://a.shop.test/x", "http://b.shop.test/z"),
        ("http://a.shop.test/x", "http://other.test/q"),
    ]
    works_host = [W("wh", "http://a.shop.test/x", max_depth=3, same_host=True)]
    got, want = run_both(spark, tmp_path, works_host, edges)
    assert_match(got, want)
    assert {r["url"] for r in want.crawl_order} == {
        "http://a.shop.test/x", "http://a.shop.test/y"
    }
    works_dom = [W("wd", "http://a.shop.test/x", max_depth=3, same_domain=True)]
    got2, want2 = run_both(spark, tmp_path / "d2", works_dom, edges)
    assert_match(got2, want2)
    assert {r["url"] for r in want2.crawl_order} == {
        "http://a.shop.test/x", "http://a.shop.test/y", "http://b.shop.test/z"
    }


def test_robots_filter(spark, tmp_path):
    edges = [
        ("http://r.test/", "http://r.test/private/a"),
        ("http://r.test/", "http://r.test/public/b"),
    ]
    robots = [("r.test", "/private")]
    works = [W("w1", "http://r.test/", max_depth=3, robots_txt=True)]
    got, want = run_both(spark, tmp_path, works, edges, robots=robots)
    assert_match(got, want)
    assert {r["url"] for r in want.crawl_order} == {
        "http://r.test/", "http://r.test/public/b"
    }


def test_fetch_failure_consumes_url(spark, tmp_path):
    """NotFetched path (Minion.scala:92-108): URL with no corpus row is
    consumed (seen) but yields no links."""
    edges = chain_graph(n=4)
    urls = oracle_corpus_urls(edges, [W("w1", "http://site0.test/0")])
    urls.discard("http://site0.test/1")
    works = [W("w1", "http://site0.test/0", max_depth=10)]
    got, want = run_both(spark, tmp_path, works, edges, corpus_urls=urls)
    assert_match(got, want)
    fetched_flags = {r.url: r.fetched for r in got.results.collect()}
    assert fetched_flags["http://site0.test/1"] is False
    assert "http://site0.test/2" not in fetched_flags  # chain cut


def test_duplicate_work_ignored(spark, tmp_path):
    """A6 (PgRunControl.scala:71-74): second AddWork with same id skipped."""
    works = [
        W("w1", "http://site0.test/0", max_depth=2),
        W("w1", "http://site0.test/3", max_depth=2),
    ]
    got, want = run_both(spark, tmp_path, works, chain_graph(n=5))
    assert_match(got, want)
    assert all(r["run_id"] == "w1" for r in want.crawl_order)
    assert {r["url"] for r in want.crawl_order} == {
        f"http://site0.test/{i}" for i in (0, 1, 2)
    }


def test_programmatic_seed_is_canonicalized(spark, tmp_path):
    """Seeds given to add_works directly (not via parse_seed_lines) are
    canonicalized like the reference's Url constructor (url/Url.scala):
    a messy 'HTTP://Site0.TEST/0#frag' seed must still fetch and expand,
    since links/corpus are keyed by canonical URLs."""
    works = [W("w1", "HTTP://Site0.TEST/0#frag", max_depth=5)]
    edges = chain_graph(n=4)
    # corpus_urls must come from the canonical seed, so derive explicitly
    got, want = run_both(spark, tmp_path, works, edges, budget=2)
    assert_match(got, want)
    assert [r["url"] for r in want.crawl_order] == [
        f"http://site0.test/{i}" for i in range(4)
    ]


def test_invalid_seed_rejected(spark, tmp_path):
    """Engine and oracle both reject unparseable / non-http seeds,
    mirroring parse_seed_lines."""
    from moca_spark.crawl.oracle import oracle_crawl

    for bad in ("not a url", "ftp://x.test/"):
        works = [W("w1", bad, max_depth=2)]
        with pytest.raises(ValueError):
            make_engine(spark, tmp_path, works, chain_graph(n=2),
                        corpus_urls=set())
        with pytest.raises(ValueError):
            oracle_crawl(works, chain_graph(n=2), corpus_urls=set())


def test_two_runs_same_host_interleave(spark, tmp_path):
    """Two runs crawling one host share its politeness budget (the
    global one-task-per-partition lock, PartitionScheduler)."""
    edges = chain_graph(n=4)
    works = [
        W("w1", "http://site0.test/0", max_depth=3),
        W("w2", "http://site0.test/2", max_depth=3),
    ]
    got, want = run_both(spark, tmp_path, works, edges, budget=1)
    assert_match(got, want)
    # budget 1: one fetch per wave for the host even with two runs
    by_wave = {}
    for r in want.crawl_order:
        by_wave.setdefault(r["wave"], []).append(r)
    assert all(len(v) == 1 for v in by_wave.values())


def test_zipf_graph_parity(spark, tmp_path):
    """Larger mixed-host graph: full parity engine vs oracle."""
    edges = zipf_graph(n_hosts=6, pages_per_host=6)
    works = [
        W("w1", "http://host0.test/p0", max_depth=3),
        W("w2", "http://host1.test/p0", max_depth=2, same_host=True),
    ]
    got, want = run_both(spark, tmp_path, works, edges, budget=3)
    assert_match(got, want)
    assert len(want.crawl_order) > 10


@pytest.mark.parametrize("n_salts", [1, 4])
def test_salting_does_not_change_results(spark, tmp_path, n_salts):
    edges = zipf_graph(n_hosts=4, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=2)]
    got, want = run_both(
        spark, tmp_path / str(n_salts), works, edges, budget=2, n_salts=n_salts
    )
    assert_match(got, want)


def test_cuckoo_prefilter_parity(spark, tmp_path):
    """use_bloom='cuckoo' (the deletable fallback the north rule names)
    must not change ANY result — same PASS-only discipline as bloom."""
    edges = zipf_graph(n_hosts=5, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=3)]
    got, want = run_both(spark, tmp_path, works, edges, budget=2,
                         use_bloom="cuckoo", bloom_capacity=10_000)
    assert_match(got, want)


def test_cuckoo_recrawl_deletes_and_parity(spark, tmp_path):
    """The re-crawl fixture under the cuckoo prefilter: the re-admitted
    URL's fingerprint is evicted (deletable semantics) and the crawl
    still matches the oracle row-for-row."""
    edges, B, C, A = _recrawl_edges()
    works = [W("w1", f"{B}/s", max_depth=3)]
    got, want = run_both(spark, tmp_path, works, edges, budget=1,
                         use_bloom="cuckoo", bloom_capacity=10_000)
    assert_match(got, want)
    d_fetches = [r for r in want.crawl_order if r["url"] == f"{A}/d"]
    assert [r["depth"] for r in d_fetches] == [3, 2]  # re-crawl survived


def test_cuckoo_saturation_falls_back_to_exact(spark, tmp_path):
    """A full cuckoo filter must disable prefiltering (every candidate
    takes the exact join), never drop candidates."""
    edges = zipf_graph(n_hosts=4, pages_per_host=6)
    works = [W("w1", "http://host0.test/p0", max_depth=3)]
    # capacity 2 saturates immediately on any real slice
    got, want = run_both(spark, tmp_path, works, edges, budget=2,
                         use_bloom="cuckoo", bloom_capacity=2)
    assert_match(got, want)


def test_token_bucket_politeness(spark, tmp_path):
    """mapInPandas token bucket: per host, fetch times are spaced by
    exactly the politeness interval in rank order (WorkerTest.scala:70-71:
    consecutive fetches >= interval apart)."""
    from moca_spark.crawl.engine import POLITENESS_INTERVAL_S

    edges = [("http://tb.test/0", f"http://tb.test/{i}") for i in range(1, 8)]
    works = [W("w1", "http://tb.test/0", max_depth=2)]
    got, want = run_both(spark, tmp_path, works, edges, budget=3,
                         use_token_bucket=True)
    assert_match(got, want)
    rows = sorted(
        got.results.select("host", "wave", "rank", "fetch_offset_s").collect(),
        key=lambda r: (r.host, r.wave, r.rank),
    )
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r.fetch_offset_s)
    for times in by_host.values():
        gaps = [b - a for a, b in zip(times, times[1:])]
        assert all(g >= POLITENESS_INTERVAL_S for g in gaps)


def test_resume_from_checkpoint(spark, tmp_path):
    """T3/T5 exactly-once resume: kill after wave 2, resume from the
    committed journal, end state identical to an uninterrupted run."""
    edges = chain_graph(n=6)
    works = [W("w1", "http://site0.test/0", max_depth=10)]

    eng1, urls = make_engine(spark, tmp_path / "a", works, edges, budget=1,
                             durable="eventlog")
    partial = eng1.run(max_waves=2)  # "crash" after wave 2
    assert partial.waves == 2
    assert not partial.frontier.isEmpty()

    eng2, _ = make_engine(spark, tmp_path / "a", works, edges, budget=1,
                          durable="eventlog")
    resumed = eng2.run(resume=True)

    want = oracle_crawl(works, edges, budget=1, corpus_urls=urls)
    assert_match(resumed, want)


def test_resume_ignores_uncommitted_wave(spark, tmp_path):
    """A wave directory without _COMMIT (mid-write crash) is invisible,
    even though its events (and increments) are on disk."""
    import shutil

    edges = chain_graph(n=4)
    works = [W("w1", "http://site0.test/0", max_depth=10)]
    eng1, urls = make_engine(spark, tmp_path / "b", works, edges, budget=1,
                             durable="eventlog")
    eng1.run(max_waves=3)
    chk = tmp_path / "b" / "chk"
    # simulate a torn wave-4 write: copy wave-3 dir, remove the marker
    shutil.copytree(chk / "wave=3", chk / "wave=4")
    (chk / "wave=4" / "_COMMIT").unlink()
    assert (chk / "wave=4" / "events").is_dir()

    eng2, _ = make_engine(spark, tmp_path / "b", works, edges, budget=1,
                          durable="eventlog")
    assert eng2.store.latest_wave() == 3
    resumed = eng2.run(resume=True)
    want = oracle_crawl(works, edges, budget=1, corpus_urls=urls)
    assert_match(resumed, want)


def test_resume_over_journal_gap_raises(spark, tmp_path):
    """A committed wave whose events are gone must fail the resume
    loudly: replaying the rest of the journal would drop that wave's
    discovered URLs without a word (and a checkpoint dir in the removed
    snapshot layout, which has no events at all, must be refused)."""
    import shutil

    edges = chain_graph(n=6)
    works = [W("w1", "http://site0.test/0", max_depth=10)]
    eng, _ = make_engine(spark, tmp_path / "gap", works, edges, budget=1,
                         durable="eventlog")
    assert eng.run(max_waves=3).waves == 3
    chk = tmp_path / "gap" / "chk"
    one, every = tmp_path / "one" / "chk", tmp_path / "every" / "chk"
    shutil.copytree(chk, one)
    shutil.copytree(chk, every)
    shutil.rmtree(one / "wave=2" / "events")
    for d in every.glob("wave=*/events"):
        shutil.rmtree(d)

    for root, waves in ((tmp_path / "one", r"\[2\]"),
                        (tmp_path / "every", r"\[0, 1, 2, 3\]")):
        eng2, _ = make_engine(spark, root, works, edges, budget=1,
                              durable="eventlog")
        with pytest.raises(RuntimeError, match=waves) as err:
            eng2.run(resume=True)
        assert "snapshot-layout" in str(err.value).lower()


@pytest.mark.parametrize("removed", [{"durable": True}, {"use_bloom": True}])
def test_removed_modes_raise(spark, tmp_path, removed):
    """The full-state snapshot layout and the broadcast monolith bloom
    were removed; asking for either fails instead of falling back."""
    with pytest.raises(ValueError, match="removed"):
        make_engine(spark, tmp_path, [], chain_graph(n=3), **removed)


def test_partition_selector_by_domain(spark, tmp_path):
    """U3 (partition/PartitionSelector.scala): a by-domain selector makes
    two hosts of one domain share a single politeness budget."""
    from moca_spark.functions.psl import effective_domain
    from moca_spark.functions.urls import domain_udf, url_host

    edges = [
        ("http://a.dom.test/x", "http://a.dom.test/y"),
        ("http://a.dom.test/x", "http://b.dom.test/z"),
        ("http://b.dom.test/z", "http://b.dom.test/w"),
    ]
    works = [W("w1", "http://a.dom.test/x", max_depth=4)]
    eng, urls = make_engine(
        spark, tmp_path, works, edges, budget=1,
        partition_selector=lambda c: domain_udf(url_host(c)),
    )
    got = eng.run()
    from moca_spark.crawl.oracle import _host

    want = oracle_crawl(
        works, edges, budget=1, corpus_urls=urls,
        partition_fn=lambda u: effective_domain(_host(u)),
    )
    assert_match(got, want)
    # budget 1 for the whole domain: exactly one fetch per wave
    by_wave = {}
    for r in want.crawl_order:
        by_wave.setdefault(r["wave"], []).append(r)
    assert all(len(v) == 1 for v in by_wave.values())
    assert {r["host"] for r in want.crawl_order} == {"dom.test"}


def test_verify_fetch_psnr_gate(spark, tmp_path):
    """input_hint per-row invariant inside the crawl: decoded pixels
    PSNR>=40dB; a corrupted corpus row is flagged, valid rows pass."""
    from pyspark.sql import functions as F

    edges = chain_graph(n=4)
    works = [W("w1", "http://site0.test/0", max_depth=5)]
    eng, urls = make_engine(spark, tmp_path, works, edges, budget=8,
                            verify_fetch=True)
    # corrupt one image: swap its bytes for a DIFFERENT url's image
    # (valid PNG, wrong pixels -> decode ok, PSNR vs source fails)
    from moca_spark.sources.synth import make_image_row, url_id

    bad_id = url_id("http://site0.test/2")
    other = make_image_row("http://site0.test/1")
    eng.images = eng.images.withColumn(
        "bytes",
        F.when(F.col("image_id") == bad_id, F.lit(other["bytes"]))
        .otherwise(F.col("bytes")),
    ).withColumn(
        "w", F.when(F.col("image_id") == bad_id, F.lit(other["w"]))
        .otherwise(F.col("w")),
    ).withColumn(
        "h", F.when(F.col("image_id") == bad_id, F.lit(other["h"]))
        .otherwise(F.col("h")),
    )
    res = eng.run()
    flags = {r.url: r.psnr_ok for r in res.results.collect()}
    assert flags["http://site0.test/0"] is True
    assert flags["http://site0.test/1"] is True
    assert flags["http://site0.test/2"] is False  # corrupted row caught


def test_final_links_getlinks_semantics(spark, tmp_path):
    """Entry point 3 (GetLinks): combined transfer keeps the LATEST
    fetch of a re-crawled URL; all fetched URLs present exactly once."""
    edges, B, C, A = _recrawl_edges()
    works = [W("w1", f"{B}/s", max_depth=3)]
    eng, urls = make_engine(spark, tmp_path, works, edges, budget=1)
    res = eng.run()
    links = {r.url: r for r in eng.run_links(res, "w1").collect()} \
        if hasattr(eng, "run_links") else \
        {r.url: r for r in res.final_links("w1").collect()}
    # A/d crawled at depth 3 then re-crawled at 2: final transfer has
    # exactly one row, the latest (depth 2)
    assert links[f"{A}/d"].depth == 2
    assert len(links) == len({r["url"] for r in oracle_crawl(
        works, edges, budget=1, corpus_urls=urls).crawl_order})


def test_sharded_bloom_engine_parity(spark, tmp_path):
    """use_bloom='sharded' (the 10^10 layout) must not change results."""
    edges = zipf_graph(n_hosts=5, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=3)]
    got, want = run_both(spark, tmp_path, works, edges, budget=2,
                         use_bloom="sharded", bloom_capacity=10_000)
    assert_match(got, want)


@pytest.mark.parametrize("mode", ["sharded", "cuckoo"])
def test_sharded_bloom_resume_rebuild(spark, tmp_path, monkeypatch, mode):
    """T5 for both filter kinds: resume must rebuild the seen state's
    filter base from the reconstructed seen set. Without the rebuild
    (latent round-3 gap for the sharded bloom), a pre-resume seen URL
    probes as a definitive MISS and is re-admitted without the exact
    join, so cyclic graphs re-fetch crawled pages after resume. The
    first probe of the resumed run must see a base; a fresh run's
    first probe has none."""
    from moca_spark.filters.seen_filter import SeenFilter

    has_base = []
    inner = SeenFilter.probe

    def probe(self, cand):
        has_base.append(self.shards is not None)
        return inner(self, cand)

    monkeypatch.setattr(SeenFilter, "probe", probe)
    edges = zipf_graph(n_hosts=4, pages_per_host=6)
    works = [W("w1", "http://host0.test/p0", max_depth=4)]
    eng1, urls = make_engine(spark, tmp_path, works, edges, budget=2,
                             durable="eventlog", use_bloom=mode,
                             bloom_capacity=10_000)
    eng1.run(max_waves=2)
    assert has_base[0] is False
    eng2, _ = make_engine(spark, tmp_path, works, edges, budget=2,
                          durable="eventlog", use_bloom=mode,
                          bloom_capacity=10_000)
    assert eng2._seen is None  # the holder is built per run()
    del has_base[:]
    resumed = eng2.run(resume=True)
    assert has_base and has_base[0] is True  # base rebuilt from seen
    assert eng2._seen.filter.kind == mode
    want = oracle_crawl(works, edges, budget=2, corpus_urls=urls)
    assert_match(resumed, want)


def test_filter_lsm_fold_parity(spark, tmp_path):
    """The sharded/cuckoo filters are LSM-maintained: base shard table
    + a stack of per-wave key deltas, folded every `fold_every` waves.
    Parity must hold ACROSS fold boundaries (probe = base OR delta
    membership) in both modes."""
    edges = zipf_graph(n_hosts=5, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=4)]
    for mode in ("sharded", "cuckoo"):
        got, want = run_both(spark, tmp_path / mode, works, edges, budget=2,
                             use_bloom=mode, bloom_capacity=10_000,
                             fold_every=2)
        assert_match(got, want)


def test_filter_delta_broadcast_bound_early_fold(spark, tmp_path,
                                                 monkeypatch):
    """SeenFilter.probe broadcasts the unfolded add-delta key stack, so
    the filter enforces ``DELTA_MAX_KEYS``: once the stacked key count
    crosses it, SeenFilter.fold fires early (mid-wave) instead of
    waiting for the fold_every cadence. Forced here with a 0-key bound
    and a cadence that would never fold during the run — a fold with a
    non-empty stack must fire every wave, and parity holds in both
    filter modes (round-4 verdict watch-item #2)."""
    from moca_spark.filters import seen_filter
    from moca_spark.filters.seen_filter import SeenFilter

    monkeypatch.setattr(seen_filter, "DELTA_MAX_KEYS", 0)
    stack_sizes = []
    inner = SeenFilter.fold

    def fold(self):
        stack_sizes.append(len(self.deltas))
        inner(self)

    monkeypatch.setattr(SeenFilter, "fold", fold)
    edges = zipf_graph(n_hosts=5, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=4)]
    for mode in ("sharded", "cuckoo"):
        del stack_sizes[:]
        eng, urls = make_engine(
            spark, tmp_path / mode, works, edges, budget=2,
            use_bloom=mode, bloom_capacity=10_000, fold_every=10_000)
        got = eng.run()
        want = oracle_crawl(works, edges, budget=2, corpus_urls=urls)
        assert_match(got, want)
        # the cadence (10k) alone would fold only at run end; the bound
        # forces a non-empty fold per wave, keeping the stack bounded
        assert sum(1 for n in stack_sizes if n) >= got.waves
        assert eng._seen.filter.delta_keys == 0


def test_bucket_layout_validation_wrong_count(spark, tmp_path):
    """corpus_buckets is correctness-bearing on the bucket-prune path
    (round-4 ADVICE medium): a mis-declared count must disable pruning
    with a warning and fall back to the correct-by-construction full
    join — both when the declared count is SMALLER than the physical
    one (parsed bucket ids out of range) and when it is LARGER (sampled
    rows hash outside their file's bucket under the declared modulus)."""
    from moca_spark.store.lakehouse import write_corpus_bucketed

    urls = [f"http://host0.test/p{i}" for i in range(40)]
    corpus_dir = str(tmp_path / "corpus")
    images = write_corpus_bucketed(
        spark, images_for_urls(spark, urls), corpus_dir, n_buckets=8)
    sliced = spark.createDataFrame(
        [("w1", u) for u in urls], "run_id string, url string")
    for wrong in (4, 16):  # smaller / larger than the physical 8
        eng = CrawlEngine(
            spark, links_df(spark, [(urls[0], urls[1])]), images,
            budget=8, checkpoint_dir=str(tmp_path / f"chk{wrong}"),
            durable=False, fetch_prune=4, corpus_buckets=wrong)
        with pytest.warns(UserWarning, match="bucket"):
            pruned = eng._pruned_images(sliced, len(urls))
        assert eng._bucket_files() == {}  # pruning disabled, cached
        assert pruned.count() == images.count()  # full-join fallback
    # the CORRECT count passes validation and keeps the prune path
    eng = CrawlEngine(
        spark, links_df(spark, [(urls[0], urls[1])]), images,
        budget=8, checkpoint_dir=str(tmp_path / "chk8"),
        durable=False, fetch_prune=4, corpus_buckets=8)
    assert set(eng._bucket_files()) == set(range(8))


def test_unbucketed_big_slice_warns_once(spark, tmp_path):
    """A slice past fetch_prune_threshold on an UNBUCKETED corpus falls
    back to the full corpus join — correct but O(corpus) per wave — so
    the engine warns, once, steering users to write_corpus_bucketed
    (round-4 verdict missing #2)."""
    import warnings

    urls = [f"http://host0.test/p{i}" for i in range(8)]
    images = images_for_urls(spark, urls)
    eng = CrawlEngine(
        spark, links_df(spark, [(urls[0], urls[1])]), images,
        budget=8, checkpoint_dir=str(tmp_path / "chk"), durable=False,
        fetch_prune=4)
    sliced = spark.createDataFrame(
        [("w1", u) for u in urls], "run_id string, url string")
    with pytest.warns(UserWarning, match="UNBUCKETED"):
        assert eng._pruned_images(sliced, 8).count() == images.count()
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        eng._pruned_images(sliced, 8).count()
    assert not [w for w in seen if "UNBUCKETED" in str(w.message)]


def test_eventlog_mode_parity(spark, tmp_path):
    """durable='eventlog' (append-only journal + reconstruction — the
    O(delta)-write layout) must match the oracle exactly, including
    the re-crawl case which stresses the depth-decreasing invariant."""
    edges, B, C, A = _recrawl_edges()
    works = [W("w1", f"{B}/s", max_depth=3)]
    got, want = run_both(spark, tmp_path, works, edges, budget=1,
                         durable="eventlog")
    assert_match(got, want)


@pytest.mark.parametrize("durable", [False, "eventlog"])
def test_metrics_match_results(spark, tmp_path, durable):
    """A7/S4: ``CrawlResult.metrics`` is the results grouped by (wave,
    host) — ``scheduled`` rows and ``fetched`` successes (a corpus
    missing some URLs makes them differ) — in both the in-memory and
    the event-log layout. It is a view: the journal holds no
    ``metrics/`` dir, a resume derives the same view, a stale
    ``metrics/`` dir (journals written before the view) is ignored,
    and the engine has no ``collect_metrics`` option."""
    import os
    import shutil

    from pyspark.sql import functions as F

    edges = zipf_graph(n_hosts=4, pages_per_host=6)
    works = [W("w1", "http://host0.test/p0", max_depth=4)]
    urls = sorted(oracle_corpus_urls(edges, works))
    corpus = set(urls) - set(urls[1::3])
    eng, _ = make_engine(spark, tmp_path, works, edges, budget=2,
                         corpus_urls=corpus, durable=durable)
    res = eng.run()

    def view(r):
        return sorted(tuple(x) for x in r.metrics.select(
            "wave", "host", "scheduled", "fetched").collect())

    got = view(res)
    want = sorted(tuple(r) for r in res.results.groupBy("wave", "host").agg(
        F.count("*"), F.sum(F.col("fetched").cast("long"))).collect())
    assert got == want
    assert res.waves > 1 and any(s != f for _w, _h, s, f in got)
    assert CrawlResult(res.frontier, res.seen, None, 0).metrics is None
    if not durable:
        return
    chk = tmp_path / "chk"
    assert not list(chk.glob("wave=*/metrics"))
    with pytest.raises(TypeError, match="collect_metrics"):
        CrawlEngine(spark, None, None, collect_metrics=False)
    # the journal as it stood one wave before the end, with the stale
    # metrics dir an older engine wrote into wave 1
    cut = tmp_path / "cut"
    shutil.copytree(chk, cut / "chk")
    shutil.rmtree(cut / "chk" / f"wave={res.waves}")
    res.metrics.filter(F.col("wave") == 1).withColumn(
        "partition_id", F.spark_partition_id()).write.parquet(
        os.fspath(cut / "chk" / "wave=1" / "metrics"))
    eng2, _ = make_engine(spark, cut, works, edges, budget=2,
                          corpus_urls=corpus, durable=durable)
    resumed = eng2.run(resume=True)
    assert resumed.waves == res.waves and view(resumed) == got
    for a, b in ((resumed.frontier, res.frontier), (resumed.seen, res.seen)):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_eventlog_without_checkpoint_dir_raises(spark):
    """The event journal needs a dir its caller owns: a default
    (durable="eventlog") engine without ``checkpoint_dir`` raises
    instead of journaling into a temp dir that nothing deletes."""
    edges = chain_graph(n=3)
    images = images_for_urls(spark, sorted({u for e in edges for u in e}))
    with pytest.raises(ValueError, match="checkpoint_dir"):
        CrawlEngine(spark, links_df(spark, edges), images)


def test_eventlog_resume_and_compaction(spark, tmp_path):
    """Eventlog journal: crash after wave 3, resume cold; with
    compaction folding the log mid-run. End state == oracle."""
    edges = chain_graph(n=6)
    works = [W("w1", "http://site0.test/0", max_depth=10)]
    eng1, urls = make_engine(spark, tmp_path / "el", works, edges, budget=1,
                             durable="eventlog", compact_every=2)
    partial = eng1.run(max_waves=3)
    assert partial.waves == 3
    eng2, _ = make_engine(spark, tmp_path / "el", works, edges, budget=1,
                          durable="eventlog", compact_every=2)
    resumed = eng2.run(resume=True)
    want = oracle_crawl(works, edges, budget=1, corpus_urls=urls)
    assert_match(resumed, want)


def _journal_state(store):
    """Sorted (frontier, seen) rows reconstructed from the committed log."""
    from moca_spark.store.lakehouse import _reconstruct_state

    frontier, seen = _reconstruct_state(store.read_log())
    return (sorted(tuple(r) for r in frontier.collect()),
            sorted(tuple(r) for r in seen.collect()))


def test_compaction_failure_keeps_committed_log(spark, tmp_path, monkeypatch):
    """A compaction that fails while writing its compacted log, or
    crashes between the two renames that swap it in, must
    leave the committed journal state unchanged (the compacted set
    used to overwrite the committed wave's events in place, so a
    failed write left the marker over an empty log). A later
    compaction and a resume still reproduce the oracle."""
    import os

    from pyspark.sql import functions as F

    from moca_spark.store import lakehouse
    from moca_spark.store.lakehouse import EventLogStore

    edges = zipf_graph(n_hosts=4, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=4)]
    eng, urls = make_engine(spark, tmp_path / "el", works, edges, budget=1,
                            durable="eventlog")
    assert eng.run(max_waves=3).waves == 3
    store = eng.store
    before = _journal_state(store)
    assert before[0] and before[1]

    append = EventLogStore.append_events

    def failing_append(self, wave, events, extra=None):
        if extra and extra.get("compacted"):  # the compacted write fails
            events = events.withColumn(
                "kind", F.raise_error(F.lit("injected")).cast("string"))
        return append(self, wave, events, extra)

    monkeypatch.setattr(EventLogStore, "append_events", failing_append)
    with pytest.raises(Exception, match="injected"):
        store.compact(3)
    monkeypatch.undo()
    assert store.committed_waves() == [0, 1, 2, 3]
    assert _journal_state(store) == before

    rename = os.rename

    def crash_on_swap(src, dst):
        if str(src).endswith("events.staging"):
            raise OSError("injected crash between the renames")
        return rename(src, dst)

    monkeypatch.setattr(lakehouse.os, "rename", crash_on_swap)
    with pytest.raises(OSError, match="injected"):
        store.compact(3)
    monkeypatch.undo()
    wave3 = tmp_path / "el" / "chk" / "wave=3"
    assert not (wave3 / "events").exists()
    assert (wave3 / "events.old").is_dir()
    assert _journal_state(store) == before

    store.compact(3)
    assert _journal_state(store) == before
    assert [w for w in store.committed_waves()
            if store._events_dir(w)] == [3]
    assert not (wave3 / "events.old").exists()

    eng2, _ = make_engine(spark, tmp_path / "el", works, edges, budget=1,
                          durable="eventlog")
    want = oracle_crawl(works, edges, budget=1, corpus_urls=urls)
    assert_match(eng2.run(resume=True), want)


def test_everything_enabled_parity(spark, tmp_path):
    """The kitchen sink: Zipf graph + robots + partial corpus (fetch
    failures) + two runs with different criteria + sharded bloom +
    eventlog journal + compaction + token bucket + PSNR verify +
    by-host selector — still exact oracle parity."""
    edges = zipf_graph(n_hosts=5, pages_per_host=6) + [
        ("http://host0.test/p0", "http://host0.test/private/x"),
        ("http://host0.test/private/x", "http://host0.test/p5"),
    ]
    robots = [("host0.test", "/private")]
    works = [
        W("w1", "http://host0.test/p0", max_depth=3, robots_txt=True),
        W("w2", "http://host1.test/p0", max_depth=2, same_host=True),
    ]
    urls = oracle_corpus_urls(edges, works)
    # knock out ~1/4 of the corpus -> fetch failures. crc32, NOT
    # hash(): the built-in string hash is salted per process, and for
    # ~3% of seeds the dropped set misses every SCHEDULED url, so the
    # `any(not fetched)` sanity assert below flaked suite-to-suite
    # (parity itself held for every seed).
    import zlib

    dropped = {u for u in urls if zlib.crc32(u.encode()) % 4 == 0}
    dropped -= {w.seed_url for w in works}
    corpus = urls - dropped

    got, want = run_both(
        spark, tmp_path, works, edges, robots=robots, budget=2,
        corpus_urls=corpus, durable="eventlog", compact_every=3,
        use_bloom="sharded", bloom_capacity=10_000,
        use_token_bucket=True, verify_fetch=True,
    )
    assert_match(got, want)
    rows = got.results.collect()
    ok = [r for r in rows if r.fetched]
    assert ok and all(r.psnr_ok for r in ok)  # invariant held throughout
    assert any(not r.fetched for r in rows)  # failures exercised


def test_links_canonical_partitioned_pruning(spark, tmp_path):
    """links_canonical=True over a src_host-partitioned parquet dir:
    parity holds AND the expand join scans with partition filters
    (the 10^10 expand-join layout)."""
    from pyspark.sql import functions as F

    from moca_spark.crawl.oracle import oracle_corpus_urls, oracle_crawl
    from moca_spark.functions.urls import url_host
    from moca_spark.sources.synth import images_for_urls, zipf_graph

    edges = zipf_graph(n_hosts=4, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=3)]
    urls = oracle_corpus_urls(edges, works)

    ldir = str(tmp_path / "links_part")
    spark.createDataFrame(edges, ["src_url", "dst_url"]) \
        .withColumn("src_host", url_host(F.col("src_url"))) \
        .write.partitionBy("src_host").parquet(ldir)
    links = spark.read.parquet(ldir)

    eng = CrawlEngine(
        spark, links, images_for_urls(spark, sorted(urls)),
        budget=2, durable=False, n_salts=2, links_canonical=True,
    )
    eng.add_works(works)
    got = eng.run()
    want = oracle_crawl(works, edges, budget=2, corpus_urls=urls)
    assert_match(got, want)


_DOMAIN_EDGES = [
    ("http://a.shop.test/x", "http://a.shop.test/y"),
    ("http://a.shop.test/x", "http://b.shop.test/z"),
    ("http://a.shop.test/y", "http://other.test/q"),
    ("http://b.shop.test/z", "http://c.shop.test/w"),
    ("http://other.test/q", "http://a.shop.test/v"),
]


@pytest.mark.parametrize("with_domains", [False, True])
def test_same_domain_canonical_links_parity(spark, tmp_path, monkeypatch,
                                            with_domains):
    """same_domain over a canonical, src_host-partitioned links table:
    the engine uses the table's own src_domain/dst_domain columns when
    it has them (never calling the domain UDF), and otherwise derives
    them on the pruned link rows with a warning. Oracle parity either
    way."""
    import warnings

    import pandas as pd

    from moca_spark.crawl import engine as crawl_engine
    from moca_spark.crawl.oracle import _host
    from moca_spark.functions.psl import effective_domain

    works = [W("wd", "http://a.shop.test/x", max_depth=4, same_domain=True),
             W("wa", "http://other.test/q", max_depth=2)]
    urls = oracle_corpus_urls(_DOMAIN_EDGES, works)
    rows = pd.DataFrame(_DOMAIN_EDGES, columns=["src_url", "dst_url"])
    rows["src_host"] = rows.src_url.map(_host)
    if with_domains:
        rows["src_domain"] = rows.src_host.map(effective_domain)
        rows["dst_domain"] = rows.dst_url.map(
            lambda u: effective_domain(_host(u)))

        def no_udf(col):
            raise AssertionError("domain UDF called despite domain columns")

        monkeypatch.setattr(crawl_engine, "domain_udf", no_udf)
    ldir = str(tmp_path / "links_part")
    spark.createDataFrame(rows).write.partitionBy("src_host").parquet(ldir)
    eng = CrawlEngine(
        spark, spark.read.parquet(ldir), images_for_urls(spark, sorted(urls)),
        budget=1, durable=False, n_salts=2, links_canonical=True,
    )
    eng.add_works(works)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = eng.run()
    warned = [w for w in caught if "src_domain" in str(w.message)]
    assert len(warned) == (0 if with_domains else 1)
    want = oracle_crawl(works, _DOMAIN_EDGES, budget=1, corpus_urls=urls)
    assert_match(got, want)
    assert {r["url"] for r in want.crawl_order if r["run_id"] == "wd"} == {
        "http://a.shop.test/x", "http://a.shop.test/y",
        "http://b.shop.test/z", "http://c.shop.test/w"}


def test_social_media_filter_drops_facebook_and_twitter(spark, tmp_path):
    """The registered ``social-media`` custom filter reads dst_domain
    off the raw-links graph: its work drops every facebook.com and
    twitter.com link (any subdomain), a work without the filter keeps
    them. The oracle has no custom filters, so the expected fetches are
    spelled out."""
    edges = [
        ("http://blog.test/a", "http://www.facebook.com/p"),
        ("http://blog.test/a", "http://twitter.com/u"),
        ("http://blog.test/a", "http://m.facebook.com/q"),
        ("http://blog.test/a", "http://blog.test/b"),
        ("http://blog.test/b", "http://other.test/c"),
        ("http://blog.test/b", "http://notfacebook.test/d"),
    ]
    social = {"http://www.facebook.com/p", "http://twitter.com/u",
              "http://m.facebook.com/q"}
    works = [
        Work("ws", "http://blog.test/a",
             CriteriaSpec(name="social", max_depth=3,
                          custom_filters=("social-media",))),
        Work("wp", "http://blog.test/a", CriteriaSpec(max_depth=3)),
    ]
    urls = {u for e in edges for u in e}
    eng, _ = make_engine(spark, tmp_path, works, edges, budget=4,
                         corpus_urls=urls)
    got = eng.run()
    fetched = {}
    for r in got.results.collect():
        fetched.setdefault(r.run_id, set()).add(r.url)
    assert fetched["ws"] == urls - social
    assert fetched["wp"] == urls


def test_domain_udf_runs_once_per_engine(spark, tmp_path, monkeypatch):
    """PSL domains are columns of the link graph, derived once per
    engine: a 4-wave same_domain crawl references the domain UDF a
    constant number of times (src + dst), not once or twice per wave."""
    from moca_spark.crawl import engine as crawl_engine

    calls = []
    domain_udf = crawl_engine.domain_udf

    def counting(col):
        calls.append(col)
        return domain_udf(col)

    monkeypatch.setattr(crawl_engine, "domain_udf", counting)
    edges = chain_graph(n=4)
    works = [W("w1", "http://site0.test/0", max_depth=10, same_domain=True)]
    got, want = run_both(spark, tmp_path, works, edges, budget=1)
    assert_match(got, want)
    assert got.waves == 4
    assert len(calls) == 2


def test_same_host_criteria_with_domain_selector(spark, tmp_path):
    """Regression: same-host criteria must compare REAL hosts even when
    the partition selector keys the frontier by domain (src_host used
    to alias the partition key)."""
    from moca_spark.functions.psl import effective_domain
    from moca_spark.functions.urls import domain_udf, url_host
    from moca_spark.crawl.oracle import _host

    edges = [
        ("http://a.dom.test/x", "http://a.dom.test/y"),  # same host
        ("http://a.dom.test/x", "http://b.dom.test/z"),  # same domain only
    ]
    works = [W("w1", "http://a.dom.test/x", max_depth=3, same_host=True)]
    eng, urls = make_engine(
        spark, tmp_path, works, edges, budget=2,
        partition_selector=lambda c: domain_udf(url_host(c)),
    )
    got = eng.run()
    want = oracle_crawl(
        works, edges, budget=2, corpus_urls=urls,
        partition_fn=lambda u: effective_domain(_host(u)),
    )
    assert_match(got, want)
    # b.dom.test/z must be EXCLUDED (different host, same domain)
    assert {r["url"] for r in want.crawl_order} == {
        "http://a.dom.test/x", "http://a.dom.test/y"
    }


def test_fetch_prune_parity_all_paths(spark, tmp_path):
    """Fetch-corpus pruning (engine._pruned_images) must be invisible to
    semantics on every unbucketed shape: the single pushed In (every
    test above), pruning disabled, and the threshold-exceeded full
    join. The bucketed shapes are covered by
    test_fetch_prune_bucket_level_crawl_parity."""
    edges = zipf_graph(n_hosts=4, pages_per_host=8)
    works = [W("w1", "http://host0.test/p0", max_depth=4)]
    # pruning disabled
    got, want = run_both(spark, tmp_path, works, edges, budget=3,
                         fetch_prune=0)
    assert_match(got, want)
    # threshold smaller than any slice -> full-join fallback
    got, want = run_both(spark, tmp_path, works, edges, budget=3,
                         fetch_prune=1)
    assert_match(got, want)


def test_fetch_prune_bucket_level_above_threshold(spark, tmp_path):
    """Slices ABOVE fetch_prune_threshold on a bucketed corpus degrade
    to BUCKET-level pruning (round-3 gap: the fallback rescanned the
    whole corpus): the pruned frame reads only the slice's buckets'
    files and covers every slice id."""
    from pyspark.sql import functions as F

    from moca_spark.sources.synth import links_df
    from moca_spark.store.lakehouse import write_corpus_bucketed

    urls = [f"http://host0.test/p{i}" for i in range(40)]
    corpus_dir = str(tmp_path / "corpus")
    images = write_corpus_bucketed(
        spark, images_for_urls(spark, urls), corpus_dir, n_buckets=8)
    eng = CrawlEngine(
        spark, links_df(spark, [(urls[0], urls[1])]), images,
        budget=8, checkpoint_dir=str(tmp_path / "chk"), durable=False,
        fetch_prune=4, corpus_buckets=8,
    )
    # slice urls restricted to TWO buckets so pruning has teeth
    import hashlib
    import re

    id2url = {hashlib.sha1(u.encode()).hexdigest(): u for u in urls}
    by_bucket: dict[int, list[str]] = {}
    for r in images.select(
            "image_id",
            F.pmod(F.hash("image_id"), F.lit(8)).alias("_b")).collect():
        by_bucket.setdefault(r._b, []).append(r.image_id)
    wanted = sorted(by_bucket)[:2]
    slice_ids = sorted(i for b in wanted for i in by_bucket[b])
    assert len(slice_ids) > 4  # above the id threshold -> bucket path
    sliced = spark.createDataFrame(
        [("w1", id2url[i]) for i in slice_ids], "run_id string, url string")
    pruned = eng._pruned_images(sliced, len(slice_ids))
    # reads only the touched buckets' files
    read_buckets = {int(re.search(r"_(\d{5})\.c000", f).group(1))
                    for f in pruned.inputFiles()}
    assert read_buckets == set(wanted)
    # covers every slice id, and is a strict subset of the corpus
    got = {r.image_id for r in pruned.select("image_id").collect()}
    assert set(slice_ids) <= got
    assert got < {i for rows in by_bucket.values() for i in rows}


def test_fetch_prune_dense_slice_skips_bucket_collect(spark, tmp_path):
    """A slice of >= 8 rows per corpus bucket gets back the corpus
    frame itself, with no bucket-id collect: each bucket is then
    untouched with chance <= e^-8, so the collect would answer "every
    bucket". The slice's rows all hash to ONE bucket, so one row fewer
    takes the collect and reads only that bucket's files."""
    import hashlib
    import re

    from pyspark.sql import functions as F

    from moca_spark.store.lakehouse import write_corpus_bucketed

    urls = [f"http://host0.test/p{i}" for i in range(40)]
    images = write_corpus_bucketed(
        spark, images_for_urls(spark, urls), str(tmp_path / "corpus"),
        n_buckets=8)
    eng = CrawlEngine(
        spark, links_df(spark, [(urls[0], urls[1])]), images,
        budget=8, checkpoint_dir=str(tmp_path / "chk"), durable=False,
        fetch_prune=4, corpus_buckets=8,
    )
    id2url = {hashlib.sha1(u.encode()).hexdigest(): u for u in urls}
    by_bucket: dict[int, list[str]] = {}
    for r in images.select(
            "image_id",
            F.pmod(F.hash("image_id"), F.lit(8)).alias("_b")).collect():
        by_bucket.setdefault(r._b, []).append(id2url[r.image_id])
    bucket, bucket_urls = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    rows = [(f"w{r}", u) for r in range(64) for u in bucket_urls]

    def pruned(n):
        sliced = spark.createDataFrame(rows[:n], "run_id string, url string")
        return eng._pruned_images(sliced, n)

    assert pruned(64) is eng.images
    read_buckets = {int(re.search(r"_(\d{5})\.c000", f).group(1))
                    for f in pruned(63).inputFiles()}
    assert read_buckets == {bucket}


@pytest.mark.parametrize("fetch_prune", [1, 3])
def test_fetch_prune_bucket_level_crawl_parity(spark, tmp_path, fetch_prune):
    """Crawl parity with fetch_prune forced tiny over a bucketed
    corpus: the one-seed first wave takes the pushed In, and later
    waves overflow the threshold into the bucket-file prune, so the
    crawl crosses the In -> bucket boundary mid-run. The corpus is
    re-registered as in a fresh session (read_corpus_bucketed)."""
    from moca_spark.store.lakehouse import (
        _corpus_table_name,
        read_corpus_bucketed,
        write_corpus_bucketed,
    )

    edges = zipf_graph(n_hosts=4, pages_per_host=8)
    works = [W("w1", "http://host0.test/p0", max_depth=4)]
    urls = oracle_corpus_urls(edges, works)
    corpus_dir = str(tmp_path / "corpus")
    write_corpus_bucketed(
        spark, images_for_urls(spark, sorted(urls)), corpus_dir,
        n_buckets=4)
    spark.sql(f"DROP TABLE IF EXISTS {_corpus_table_name(corpus_dir)}")
    images = read_corpus_bucketed(spark, corpus_dir)
    eng = CrawlEngine(
        spark, links_df(spark, edges), images, budget=3,
        checkpoint_dir=str(tmp_path / "chk"), n_salts=4, durable=False,
        fetch_prune=fetch_prune, corpus_buckets=4,
    )
    slice_rows = []
    inner = eng._pruned_images

    def pruned(sliced, n_rows):
        slice_rows.append(n_rows)
        return inner(sliced, n_rows)

    eng._pruned_images = pruned
    eng.add_works(works)
    got = eng.run()
    want = oracle_crawl(works, edges, budget=3, corpus_urls=urls)
    assert_match(got, want)
    assert min(slice_rows) <= fetch_prune < max(slice_rows)


def _slice_ids(sliced):
    from pyspark.sql import functions as F

    return {r.image_id for r in sliced.select(
        F.sha1(F.encode("url", "UTF-8")).alias("image_id")).collect()}


def _multi_run_slice(spark, urls):
    """Two runs over the same URLs: every image_id sits on two rows
    (sha1(url) is run-independent)."""
    return spark.createDataFrame(
        [(f"w{r}", u) for r in range(2) for u in urls],
        "run_id string, url string",
    )


def test_fetch_prune_multi_run_duplicate_ids(spark, tmp_path):
    """A multi-run slice of <= fetch_prune ROWS is pruned to exactly
    its distinct image-ids (the plain collect dedups on the driver);
    one of more rows, even with few distinct ids, takes the full
    corpus on an unbucketed layout — no slice id is ever pruned into
    a miss."""
    urls = [f"http://host0.test/p{i}" for i in range(12)]
    images = images_for_urls(spark, urls)
    sliced = _multi_run_slice(spark, urls[:8])  # 16 rows, 8 distinct ids
    eng = CrawlEngine(
        spark, links_df(spark, [(urls[0], urls[1])]), images,
        budget=8, checkpoint_dir=str(tmp_path / "chk"), durable=False,
        fetch_prune=16,
    )
    got = {r.image_id for r in eng._pruned_images(sliced, 16)
           .select("image_id").collect()}
    assert got == _slice_ids(sliced)
    eng.fetch_prune_threshold = 15
    with pytest.warns(UserWarning, match="UNBUCKETED"):
        assert eng._pruned_images(sliced, 16).count() == images.count()


def test_fetch_prune_multi_run_duplicate_ids_bucketed(spark, tmp_path):
    """Same rule on a bucketed corpus: above fetch_prune rows the
    bucket-file prune still covers every distinct slice id."""
    from moca_spark.store.lakehouse import write_corpus_bucketed

    urls = [f"http://host0.test/p{i}" for i in range(12)]
    images = write_corpus_bucketed(
        spark, images_for_urls(spark, urls), str(tmp_path / "corpus"),
        n_buckets=4)
    sliced = _multi_run_slice(spark, urls[:8])
    eng = CrawlEngine(
        spark, links_df(spark, [(urls[0], urls[1])]), images,
        budget=8, checkpoint_dir=str(tmp_path / "chk"), durable=False,
        fetch_prune=16, corpus_buckets=4,
    )
    got = {r.image_id for r in eng._pruned_images(sliced, 16)
           .select("image_id").collect()}
    assert got == _slice_ids(sliced)
    eng.fetch_prune_threshold = 15
    got = {r.image_id for r in eng._pruned_images(sliced, 16)
           .select("image_id").collect()}
    assert _slice_ids(sliced) <= got


def test_fetch_prune_in_boundary(spark, tmp_path):
    """A slice of exactly fetch_prune rows plans one pushed
    In(image_id) scan; one row more plans none (bucket files instead)."""
    from moca_spark.store.lakehouse import write_corpus_bucketed

    urls = [f"http://host0.test/p{i}" for i in range(40)]
    images = write_corpus_bucketed(
        spark, images_for_urls(spark, urls), str(tmp_path / "corpus"),
        n_buckets=8)
    eng = CrawlEngine(
        spark, links_df(spark, [(urls[0], urls[1])]), images,
        budget=8, checkpoint_dir=str(tmp_path / "chk"), durable=False,
        fetch_prune=4, corpus_buckets=8,
    )

    def in_scans(n):
        sliced = spark.createDataFrame(
            [("w1", u) for u in urls[:n]], "run_id string, url string")
        pruned = eng._pruned_images(sliced, n)
        return pruned._jdf.queryExecution().executedPlan().toString() \
            .count("In(image_id")

    assert in_scans(4) == 1
    assert in_scans(5) == 0


def test_links_prune_semi_join_fallback_parity(spark, tmp_path):
    """Above prune_hosts_threshold the literal host list is replaced by
    a broadcast semi-join (DPP shape) — crawl parity must hold on that
    path too (round-2 silently dropped all pruning there)."""
    from pyspark.sql import functions as F

    from moca_spark.functions.urls import url_host

    edges = zipf_graph(n_hosts=4, pages_per_host=5)
    works = [W("w1", "http://host0.test/p0", max_depth=3)]
    urls = oracle_corpus_urls(edges, works)

    ldir = str(tmp_path / "links_part")
    spark.createDataFrame(edges, ["src_url", "dst_url"]) \
        .withColumn("src_host", url_host(F.col("src_url"))) \
        .write.partitionBy("src_host").parquet(ldir)
    eng = CrawlEngine(
        spark, spark.read.parquet(ldir), images_for_urls(spark, sorted(urls)),
        budget=2, durable=False, n_salts=2, links_canonical=True,
    )
    eng.prune_hosts_threshold = 0  # every wave takes the semi-join path
    eng.add_works(works)
    got = eng.run()
    want = oracle_crawl(works, edges, budget=2, corpus_urls=urls)
    assert_match(got, want)


def test_runid_trim_unsorted_work_ids(spark, tmp_path):
    """The run_id dictionary trim assigns ordinals in SORTED run_id
    order so ORDER BY (..., run_ord, url) equals the contract's
    (..., run_id, url) — pinned here with work ids whose insertion
    order disagrees with their sort order, interleaving on one host
    (budget 1 makes the tie-break order observable in crawl_order).
    Boundary schemas must come back in string space."""
    edges = chain_graph(n=5)
    works = [  # insertion order zz, aa, mm — sort order aa, mm, zz
        W("zz", "http://site0.test/0", max_depth=4),
        W("aa", "http://site0.test/2", max_depth=4),
        W("mm", "http://site0.test/1", max_depth=4),
    ]
    got, want = run_both(spark, tmp_path, works, edges, budget=1)
    assert_match(got, want)
    # the hot loop ran in ord space; every boundary is string space
    assert dict(got.frontier.dtypes).get("run_id") == "string"
    assert dict(got.seen.dtypes).get("run_id") == "string"
    assert dict(got.results.dtypes).get("run_id") == "string"


def test_runid_trim_fallback_many_runs(spark, tmp_path, monkeypatch):
    """Above RUNID_TRIM_MAX_RUNS the trim disables itself (the
    reverse-map literal would bloat every plan) and the hot loop
    carries run_id strings — parity must hold on that path too."""
    from moca_spark.crawl import engine

    monkeypatch.setattr(engine, "RUNID_TRIM_MAX_RUNS", 0)
    edges = chain_graph(n=4)
    works = [
        W("w1", "http://site0.test/0", max_depth=3),
        W("w2", "http://site0.test/2", max_depth=3),
    ]
    got, want = run_both(spark, tmp_path, works, edges, budget=1)
    assert_match(got, want)


def test_runid_trim_eventlog_journal_stays_string(spark, tmp_path):
    """The journal is a cross-version boundary: add/consume events must
    carry run_id STRINGS even though the hot loop runs in ord space
    (a journal written in ord space would not replay on an engine with
    a different runs list)."""
    edges = chain_graph(n=4)
    works = [W("w9", "http://site0.test/0", max_depth=3)]
    eng, urls = make_engine(spark, tmp_path / "el", works, edges, budget=1,
                            durable="eventlog")
    got = eng.run()
    log = eng.store.read_log()
    assert dict(log.dtypes).get("run_id") == "string"
    assert {r.run_id for r in log.select("run_id").distinct().collect()} \
        == {"w9"}
    want = oracle_crawl(works, edges, budget=1, corpus_urls=urls)
    assert_match(got, want)


def test_runid_trim_unknown_run_raises(spark, tmp_path):
    """Loaded state carrying a run_id the caller did not re-register
    must fail LOUDLY (raise_error in the trim join), not silently drop
    rows: resume the journal under an engine with a different work."""
    edges = chain_graph(n=5)
    eng1, _ = make_engine(spark, tmp_path / "el",
                          [W("orig", "http://site0.test/0", max_depth=4)],
                          edges, budget=1, durable="eventlog")
    eng1.run(max_waves=2)
    eng2, _ = make_engine(spark, tmp_path / "el",
                          [W("other", "http://site0.test/1", max_depth=4)],
                          edges, budget=1, durable="eventlog")
    with pytest.raises(Exception, match="absent from"):
        eng2.run(resume=True)


def test_round6_paths_forced_parity(spark, tmp_path, monkeypatch):
    """Round-6 adaptive shapes pinned to the oracle: the engine picks
    between a small-state broadcast admission + fused expand/admit and
    the at-scale checkpointed SMJ shape by exact row-count bounds.
    Force each regime on the same fixture — identical results either
    way (the thresholds are pure plan strategy, never semantics)."""
    edges = diamond_graph() + handoff_graph()
    works = [W("w1", "http://sitea.test/a", max_depth=4)]
    # big-state regime: broadcast/fusion thresholds at 0 means every
    # wave takes the checkpointed cand2 + sorted-base SortMergeJoin
    # path even on a toy state
    from moca_spark.crawl import engine

    with monkeypatch.context() as m:
        m.setattr(engine, "EXPAND_BROADCAST_MAX", 0)
        got_big, want = run_both(spark, tmp_path, works, edges, budget=2,
                                 state_broadcast_max=0)
        assert_match(got_big, want)
    # small-state regime (the defaults on a toy crawl): broadcast
    # admission, fused expand -> admit, criteria literal lookups
    got_small, want2 = run_both(spark, tmp_path / "s", works, edges,
                                budget=2)
    assert_match(got_small, want2)


def test_round6_empty_slice_stops_without_isempty(spark, tmp_path):
    """The run loop's emptiness signal is the slice count (round 6):
    a frontier that exhausts mid-run stops exactly like before, and an
    engine with zero works stops immediately at wave 0."""
    eng, urls = make_engine(spark, tmp_path, [], chain_graph(n=3))
    res = eng.run(max_waves=5)
    assert res.waves == 0
    assert res.frontier.count() == 0
    # memory mode builds no store: nothing on disk, nothing to resume
    assert eng.store is None and not (tmp_path / "chk").exists()
    with pytest.raises(ValueError, match="memory-mode"):
        eng.run(resume=True)
