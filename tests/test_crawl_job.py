"""jobs/crawl_job.py driven in-process on the test session."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "crawl_job", os.path.join(ROOT, "jobs", "crawl_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(job, monkeypatch, capsys, *argv) -> dict:
    monkeypatch.setattr(sys, "argv", ["crawl_job.py", *argv])
    job.main()
    line = [ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("CRAWL_SUMMARY ")][-1]
    summary = json.loads(line.split(" ", 1)[1])
    summary.pop("checkpoint")
    return summary


def _files(path: str) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, f), path):
            os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _dirs, fs in os.walk(path) for f in fs
    }


def test_demo_resume_reuses_corpus(spark, tmp_path, monkeypatch, capsys):
    """``--demo --resume`` fetches from the corpus the interrupted run
    wrote (it used to re-write <checkpoint>/demo-corpus first), and the
    resumed crawl ends where an uninterrupted one does."""
    # the session fixture already shipped moca_spark to its executors
    monkeypatch.setattr("moca_spark.session.ship_package", lambda spark: "")
    job = _load_job()
    chk = str(tmp_path / "chk")
    partial = _run(job, monkeypatch, capsys,
                   "--demo", "--checkpoint", chk, "--max-waves", "2")
    assert partial["waves"] == 2
    corpus = _files(os.path.join(chk, "demo-corpus"))
    assert "_corpus_meta.json" in corpus
    resumed = _run(job, monkeypatch, capsys,
                   "--demo", "--checkpoint", chk, "--resume")
    assert _files(os.path.join(chk, "demo-corpus")) == corpus
    whole = _run(job, monkeypatch, capsys,
                 "--demo", "--checkpoint", str(tmp_path / "whole"))
    assert resumed == whole
    assert whole["pending"] == 0 and whole["fetched"] > 0


def test_summary_counts_failed_fetches(spark, tmp_path, monkeypatch, capsys):
    """On tables given by ``--links/--images/--seeds``, ``scheduled``
    counts every URL a wave consumed and ``fetched`` only those the
    corpus served: with a corpus that lacks some URLs the two differ,
    and both equal the oracle's (``fetched`` used to count every
    results row, failed fetches included)."""
    from moca_spark.crawl.oracle import oracle_corpus_urls, oracle_crawl
    from moca_spark.criteria.dsl import CriteriaSpec, Work
    from moca_spark.sources.synth import images_for_urls, links_df, zipf_graph

    monkeypatch.setattr("moca_spark.session.ship_package", lambda spark: "")
    edges = zipf_graph(n_hosts=3, pages_per_host=5)
    works = [Work("w1", "http://host0.test/p0", CriteriaSpec())]
    urls = sorted(oracle_corpus_urls(edges, works))
    corpus = set(urls) - set(urls[1::3])
    links_df(spark, edges).write.parquet(str(tmp_path / "links"))
    images_for_urls(spark, sorted(corpus)).write.parquet(str(tmp_path / "images"))
    (tmp_path / "seeds.txt").write_text("http://host0.test/p0|w1\n")
    got = _run(_load_job(), monkeypatch, capsys,
               "--seeds", str(tmp_path / "seeds.txt"),
               "--links", str(tmp_path / "links"),
               "--images", str(tmp_path / "images"),
               "--checkpoint", str(tmp_path / "chk"), "--budget", "2")
    want = oracle_crawl(works, edges, budget=2, corpus_urls=corpus)
    assert got["scheduled"] == len(want.results)
    assert got["fetched"] == sum(r["fetched"] for r in want.results)
    assert 0 < got["fetched"] < got["scheduled"]
