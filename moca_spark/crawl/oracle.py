"""Single-threaded reference crawler: the executable spec.

Implements exactly the reference's crawl semantics (SURVEY §5 golden
outputs) in deterministic wave form, mirroring:

- per-host BFS FIFO fetch order — Minion's InsertionOrderedSet frontier
  (role/worker/Minion.scala:70-90, collection/InsertionOrderedSet.scala);
- one in-flight slice per host per wave with a politeness budget —
  PartitionScheduler's one-task-per-partition lock + the 5 s interval
  (role/master/scheduler/PartitionScheduler.scala:9-63, role/Task.scala:12);
- seen-set dedup including fetch failures — ``downloaded`` marks on both
  Fetched and NotFetched (Minion.scala:92-108,130-133);
- depth classification: drop candidates at >= best-known depth, RE-CRAWL
  at smaller depth (PgRunControl.scala:327-337, README.md:264-295);
- max-depth gating EXPANSION of the parent, not admission of the child
  (criteria/MaxDepthCriteria.scala:10-12);
- frontier dedup keeping min depth, older seq winning ties
  (Minion.scala:136, PgRunControl.scala:145-151).

The engine (crawl/engine.py) implements the same semantics as
distributed DataFrame ops; tests assert per-host crawl order, final
seen set, and results equality between the two.

Determinism notes (SURVEY §7.3): the reference's *global* interleaving
is actor-timing-dependent; what is deterministic — and what the
reference's own tests pin — is per-host BFS order and the final seen
set. The shared ordering contract (oracle == engine, row-for-row):

- politeness partition = the 64-bit ``xxhash64`` of the partition
  selector's output (by-host by default). A hash collision merges two
  hosts into ONE politeness bucket — they share a budget (never less
  polite; ~3e-4 chance of any colliding pair at 10^8 hosts) — and
  both sides compute the same hash, so parity holds even then. The
  engine gets numeric exchange hashing and a numeric window sort
  prefix out of this (operators/wave.py _partition_key);
- wave slice per partition: order by (depth, seq, _key, run_id, url)
  where ``_key = xxhash64(run_id || '\\x00' || url)`` (the frontier's
  state key, functions/xxh64.py driver-side) — ties resolve on one
  8-byte long in the engine's DRAM-bound rank sorts; run_id/url stay
  BEHIND the key, so the order is total and deterministic even under
  a _key collision. Take top ``budget`` rows, rank 1..budget = fetch
  order (politeness order);
- child candidate: depth = parent depth + 1, carries parent_rank;
- consolidation per (run_id, dst): min (depth, parent_rank);
- admission: unseen, or strictly smaller depth (re-crawl, T8);
- fresh frontier seq = wave * 2^32 + parent_rank — children of
  earlier-fetched parents order first (FIFO enqueue approximation of
  InsertionOrderedSet), remaining ties broken by (_key, run_id, url)
  at slice time. Crucially this needs NO global per-host dense
  numbering, so the engine computes it without an unbounded window —
  the property that lets the frontier scale to 10^10 rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from moca_spark.criteria.dsl import Work
from moca_spark.functions.psl import effective_domain
from moca_spark.functions.urls import canonicalize_str
from moca_spark.functions.xxh64 import spark_xxhash64, state_key
from moca_spark.sources.synth import url_id

SEQ_WAVE_STRIDE = 1 << 32


def _host(url: str) -> str:
    return url.split("/", 3)[2].rsplit("@", 1)[-1].split(":")[0]


def _path(url: str) -> str:
    rest = url.split("/", 3)
    return "/" + rest[3] if len(rest) > 3 else "/"


@dataclass
class OracleResult:
    crawl_order: list[dict] = field(default_factory=list)  # host,pos,url,depth,run_id,wave,rank
    seen: dict = field(default_factory=dict)  # (run_id, url) -> best_depth
    results: list[dict] = field(default_factory=list)  # run_id,wave,host,rank,url,depth,fetched
    waves: int = 0


def oracle_crawl(
    works: list[Work],
    edges: list[tuple[str, str]],
    robots: list[tuple[str, str]] | None = None,
    budget: int = 8,
    corpus_urls: set[str] | None = None,
    max_waves: int = 1000,
    partition_fn=None,
) -> OracleResult:
    """Crawl the synthetic graph exactly as the reference would.

    ``corpus_urls``: URLs that have an image row (fetch succeeds);
    None means every URL fetches successfully.
    """
    # U3 partition selector — default by-host (ByHostPartitionSelector)
    part = partition_fn or _host
    links: dict[str, list[str]] = {}
    for s, d in edges:
        cs, cd = canonicalize_str(s), canonicalize_str(d)
        if cs and cd:
            links.setdefault(cs, []).append(cd)
    robots = robots or []
    specs = {w.work_id: w.criteria for w in works}

    # frontier: (run_id, url) -> (depth, seq); run_id = work_id (one
    # run per work, duplicate work ids skipped — PgRunControl.scala:71-74)
    frontier: dict[tuple[str, str], tuple[int, int]] = {}
    seen: dict[tuple[str, str], int] = {}
    started: set[str] = set()
    for i, w in enumerate(works):
        if w.work_id in started:  # duplicate AddWork ignored (A6)
            continue
        started.add(w.work_id)
        seed = canonicalize_str(w.seed_url)  # mirrors engine.add_works
        if seed is None:
            raise ValueError(f"invalid seed url: {w.seed_url!r}")
        frontier[(w.work_id, seed)] = (0, i)

    res = OracleResult()
    host_pos: dict[str, int] = {}
    wave = 0
    while frontier and wave < max_waves:
        wave += 1
        # --- wave slice: per politeness partition (= xxhash64 of the
        #     selector output), (depth, seq, _key, run_id, url) order,
        #     top B — the contract in the module docstring
        by_grp: dict[int, list] = {}
        for (rid, url), (depth, seq) in frontier.items():
            by_grp.setdefault(spark_xxhash64(part(url)), []).append(
                (depth, seq, state_key(rid, url), rid, url))
        sliced: list[tuple[str, int, str, str, int, int]] = []  # host,rank,rid,url,depth,seq
        for _grp, items in by_grp.items():
            items.sort()
            for rank, (depth, seq, _k, rid, url) in enumerate(items[:budget], 1):
                sliced.append((part(url), rank, rid, url, depth, seq))
                del frontier[(rid, url)]

        # --- fetch in order; mark seen (incl. failures); record results
        candidates: list[tuple[str, int, int, str, str]] = []  # rid,child_depth,parent_rank,src,dst
        for host, rank, rid, url, depth, seq in sorted(
            sliced, key=lambda t: (t[0], t[1])
        ):
            pos = host_pos.get(host, 0) + 1
            host_pos[host] = pos
            fetched = corpus_urls is None or url in corpus_urls
            res.crawl_order.append(
                {"host": host, "pos": pos, "url": url, "depth": depth,
                 "run_id": rid, "wave": wave, "rank": rank}
            )
            res.results.append(
                {"run_id": rid, "wave": wave, "host": host, "rank": rank,
                 "url": url, "depth": depth, "fetched": fetched}
            )
            old = seen.get((rid, url))
            seen[(rid, url)] = depth if old is None else min(old, depth)
            if not fetched:
                continue
            spec = specs[rid]
            # max-depth gates EXPANSION (MaxDepthCriteria.scala:10-12)
            if spec.max_depth is not None and depth >= spec.max_depth:
                continue
            src_host, src_dom = _host(url), effective_domain(_host(url))
            for dst in links.get(url, []):
                dh = _host(dst)
                if spec.same_host and dh != src_host:
                    continue
                if spec.same_domain and effective_domain(dh) != src_dom:
                    continue
                if spec.robots_txt and any(
                    dh == rh and _path(dst).startswith(pref)
                    for rh, pref in robots
                ):
                    continue
                candidates.append((rid, depth + 1, rank, url, dst))

        # --- consolidate per (run, dst): min (depth, parent_rank)
        best: dict[tuple[str, str], tuple[int, int]] = {}
        for rid, d, prank, _src, dst in candidates:
            k = (rid, dst)
            if k not in best or (d, prank) < best[k]:
                best[k] = (d, prank)

        # --- classify vs seen (strictly smaller depth re-crawls, T8);
        #     enqueue with seq = wave*STRIDE + parent_rank; frontier
        #     keeps min (depth, seq) per (run, url) — older seq wins ties
        for (rid, dst), (d, prank) in best.items():
            if seen.get((rid, dst)) is not None and d >= seen[(rid, dst)]:
                continue
            new = (d, wave * SEQ_WAVE_STRIDE + prank)
            k = (rid, dst)
            frontier[k] = min(frontier[k], new) if k in frontier else new
        res.waves = wave

    res.seen = seen
    return res


def oracle_corpus_urls(edges: list[tuple[str, str]], works: list[Work]) -> set[str]:
    """All URLs reachable in the graph + seeds (default corpus)."""
    urls = {canonicalize_str(w.seed_url) for w in works}
    for s, d in edges:
        urls.add(canonicalize_str(s))
        urls.add(canonicalize_str(d))
    return {u for u in urls if u}


def oracle_seen_rows(res: OracleResult) -> list[dict]:
    return [
        {"run_id": rid, "url": url, "best_depth": d, "image_id": url_id(url)}
        for (rid, url), d in sorted(res.seen.items())
    ]
