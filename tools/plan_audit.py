"""Physical-plan audit: assert the plans we ship are the plans we want.

Checks, for each audited query/operator:
- no row-at-a-time Python (``BatchEvalPython``) anywhere — pandas UDFs
  only (``ArrowEvalPython``);
- parquet scans carry PushedFilters / pruned ReadSchema where expected;
- small-side joins are broadcast; fact-side joins are shuffled hash
  (no accidental sort-merge of a broadcastable dim);
- whole-stage codegen spans cover the hot expressions.

Prints a per-check PASS/FAIL table; exits nonzero on failure.
Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from moca_spark.session import get_spark  # noqa: E402

FAILED = []


def check(name: str, cond: bool, detail: str = "") -> None:
    print(f"{'PASS' if cond else 'FAIL'}  {name}" + (f" — {detail}" if detail else ""))
    if not cond:
        FAILED.append(name)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def exec_node_names(plan) -> list[str]:
    """Names of the physical operators a query runs, descending through
    AQE wrappers and query stages but not behind a checkpoint or cache
    scan (those leaves read data built once, outside this query)."""
    names, stack = [], [plan]
    while stack:
        p = stack.pop()
        names.append(p.nodeName())
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            children = p.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return names


def main() -> int:
    # one scratch dir for every table the audit writes, removed however
    # the audit ends
    with tempfile.TemporaryDirectory(prefix="audit-") as tmp:
        return audit(tmp)


def audit(tmp: str) -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")

    # 1. predicate pushdown + column pruning reach the scan
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    p = plan_of(q)
    check("pushdown: PushedFilters on lineitem scan", "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p, )
    check("pruning: ReadSchema only the 3 needed cols",
          "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate:timestamp" in p)

    # 2. dim join broadcasts; no BatchEvalPython anywhere
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    p = plan_of(j)
    check("join: customer side is BroadcastHashJoin", "BroadcastHashJoin" in p)

    # 3. engine wave slice: salted two-phase topK — window only, no cartesian
    from moca_spark.operators.wave import top_k_per_host
    from moca_spark.sources.synth import scale_frontier

    fr = scale_frontier(spark, 10_000, 50, 8).withColumn("run_id", F.lit("r"))
    sl = top_k_per_host(fr, 5, n_salts=8)
    p = plan_of(sl)
    check("wave slice: two window stages (salted + exact)", p.count("RunningWindowFunction") >= 2 or p.count("Window") >= 2)
    check("wave slice: no BatchEvalPython", "BatchEvalPython" not in p)

    # 3b. LSM frontier slice_split (the engine hot path): the
    #     O(frontier) side must cross exactly ONE exchange — the
    #     (host, salt) repartition feeds both the dedup window and the
    #     phase-1 rank window (their partition keys are supersets), and
    #     ``rest``'s big branch is a pure filter over the checkpointed
    #     split point. Only the tiny phase-2 exact-rank window adds an
    #     exchange downstream.
    from moca_spark.operators.wave import slice_split

    fr_k = fr.withColumn(
        "_key", F.xxhash64(F.concat_ws("\x00", "run_id", "url")))
    sliced_s, rest_s = slice_split(fr_k, 5, n_salts=8)
    p = plan_of(rest_s)
    check("lsm slice_split: rest = filter + tiny phase-2 (one small "
          "exchange, none on the O(frontier) branch)",
          p.count("Exchange hashpartitioning") == 1,
          f"found {p.count('Exchange hashpartitioning')}")
    p = plan_of(sliced_s)
    check("lsm slice_split: sliced = one survivor-set exchange over "
          "the checkpointed split point",
          p.count("Exchange hashpartitioning") == 1,
          f"found {p.count('Exchange hashpartitioning')}")
    check("lsm slice_split: no BatchEvalPython", "BatchEvalPython" not in p)

    # 4. URL kernel plan: Arrow-batched python only
    from moca_spark.functions.urls import with_url_columns

    u = with_url_columns(spark.createDataFrame([("http://a.test/x",)], ["url"]))
    p = plan_of(u)
    check("url kernel: ArrowEvalPython (pandas UDF)", "ArrowEvalPython" in p)
    check("url kernel: no BatchEvalPython", "BatchEvalPython" not in p)

    # 5. minhash pipeline: pure JVM (no python at all)
    from moca_spark.pipeline.dedup import minhash_signatures, shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    sig = minhash_signatures(shingles(docs), num_perm=4)
    p = plan_of(sig)
    check("minhash: no python eval nodes",
          "EvalPython" not in p)
    check("minhash: perms broadcast", "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p)

    # 6. map-side combine (partial agg) + codegen on the executed plan
    q1 = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = plan_of(q1)
    check("agg: map-side partial_sum (combine before shuffle)",
          "partial_sum" in p)
    q1.collect()  # AQE finalizes the plan only on execution
    p = plan_of(q1)
    # '*(n)' node prefixes are the WholeStageCodegen markers in AQE
    # final-plan strings
    check("codegen: WholeStageCodegen spans on executed agg",
          "*(" in p and "isFinalPlan=true" in p)

    # 6b. engine expand join: tiny parents vs huge links must broadcast
    #     (AQE converts at runtime from actual sizes)
    from moca_spark.bench_core import synthetic_web

    links, _images, seeds = synthetic_web(spark, 200_000, 2_000, 8)
    parents = seeds.limit(40).select(F.col("url").alias("src_url"),
                                     F.lit(1).alias("depth"))
    ej = parents.join(links, "src_url")
    ej.collect()
    p = plan_of(ej)
    check("engine expand join: parents broadcast (AQE runtime)",
          "BroadcastHashJoin [src_url" in p)

    # 6c. fetch-corpus pruning (engine._pruned_images): the per-wave
    #     fetch join must read O(slice) of the corpus, not all of it —
    #     plain parquet: the slice-id In filter is pushed to the scan;
    #     bucketed corpus (write_corpus_bucketed): buckets are pruned;
    #     a slice above fetch_prune reads only its buckets' files.
    from moca_spark.crawl.engine import CrawlEngine
    from moca_spark.store.lakehouse import write_corpus_bucketed

    links0 = spark.createDataFrame(
        [("http://h.test/a", "http://h.test/b")], ["src_url", "dst_url"])
    corp_dir = f"{tmp}/corpus"
    _images.write.mode("overwrite").parquet(f"{corp_dir}/plain")
    plain = spark.read.parquet(f"{corp_dir}/plain")
    slice_fixture = seeds.limit(20).select("url")
    eng_p = CrawlEngine(spark, links0, plain, durable=False)
    p = plan_of(eng_p._pruned_images(slice_fixture, 20))
    check("fetch prune: In(image_id) pushed to plain corpus scan",
          "PushedFilters: [In(image_id" in p)
    bucketed = write_corpus_bucketed(spark, plain, f"{corp_dir}/bucketed",
                                     n_buckets=16)
    eng_b = CrawlEngine(spark, links0, bucketed, durable=False)
    p = plan_of(eng_b._pruned_images(slice_fixture, 20))
    check("fetch prune: bucket pruning on bucketed corpus",
          "SelectedBucketsCount" in p and "out of 16" in p,
          detail="" if "SelectedBucketsCount" in p else "no bucket pruning in scan")
    eng_f = CrawlEngine(spark, links0, bucketed, durable=False,
                        fetch_prune=4, corpus_buckets=16)
    small = seeds.limit(8).select("url")
    touched = {r._b for r in small.select(F.pmod(
        F.hash(F.sha1(F.encode("url", "UTF-8"))), F.lit(16)).alias("_b"))
        .collect()}
    read = {int(f.rsplit("_", 1)[1][:5])
            for f in eng_f._pruned_images(small, 8).inputFiles()}
    check("fetch prune: slice above fetch_prune reads only its buckets' files",
          read == touched and len(read) < 16,
          detail=f"read buckets {sorted(read)}, touched {sorted(touched)}")

    # 6d. links host-prune above the literal-list threshold: the
    #     join-based fallback must insert a dynamic partition pruning
    #     expression into the partitioned links scan (round-2 shape
    #     silently dropped ALL pruning past 10k hosts)
    dpp_dir = f"{tmp}/dpp"
    big_links = spark.createDataFrame(
        [(f"http://h{i}.test/a", f"http://h{i}.test/b", f"h{i}.test")
         for i in range(30)],
        ["src_url", "dst_url", "src_host"])
    big_links.write.partitionBy("src_host").mode("overwrite") \
        .parquet(f"{dpp_dir}/links")
    eng_l = CrawlEngine(
        spark, spark.read.parquet(f"{dpp_dir}/links"), plain,
        durable=False, links_canonical=True)
    eng_l.prune_hosts_threshold = 0  # force the fallback path
    parents_fix = spark.createDataFrame(
        [(f"http://h{i}.test/a", f"h{i}.test", 1) for i in range(5)],
        ["src_url", "src_host", "depth"]).filter(F.col("depth") < 3)
    slice_fix = spark.createDataFrame(
        [(f"http://h{i}.test/a",) for i in range(5)], ["url"])
    p = plan_of(parents_fix.join(
        eng_l._pruned_links(slice_fix, 5, parents_fix, eng_l.links),
        ["src_url", "src_host"]))
    check("links prune: DPP on partitioned scan past host threshold",
          "dynamicpruning" in p)

    # 7. AQE enabled in session
    check("conf: AQE enabled",
          spark.conf.get("spark.sql.adaptive.enabled") == "true")
    check("conf: skew-join enabled",
          spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")

    # 8. seen-state LSM: the folded base must join exchange-free AND
    #    sort-free (hash-partitioned + sorted by STATE_KEYS, preserved
    #    through the AQE-off localCheckpoint). Build the state through
    #    the engine's own holder (SeenState: one delta folded into an
    #    empty base) and audit the admit plan.
    from moca_spark.crawl.engine import CrawlEngine, SeenState

    state_src = (
        scale_frontier(spark, 100_000, 500, 8)
        .withColumn("run_id", F.lit("r"))
        .withColumn("_key", CrawlEngine._seen_key())
        .select("_key", "run_id", "url", F.col("depth").alias("best_depth"))
    )
    seen = SeenState(state_src.filter(F.lit(False)).localCheckpoint(eager=True),
                     [state_src.localCheckpoint(eager=True)])
    seen.fold()
    cand = (
        scale_frontier(spark, 5_000, 500, 8, seed=2)
        .withColumn("run_id", F.lit("r"))
        .withColumn("_key", CrawlEngine._seen_key())
        .localCheckpoint(eager=True)
    )
    # a 100k-row audit base fits under the broadcast threshold (which
    # would be the RIGHT plan at this size); the holder's default row
    # bound (None: unknown/big, the setting every real crawl reaches)
    # takes the big-state SMJ shape the 10^10 base would take
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    p = plan_of(seen.admit_unseen(cand))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    check("seen base: SortMergeJoin on (_key, run_id, url)",
          "SortMergeJoin [_key" in p)
    check("seen base: exactly one Exchange (candidates only — base side "
          "exchange-free)", p.count("Exchange hashpartitioning") == 1,
          f"found {p.count('Exchange hashpartitioning')}")
    n_sorts = p.count(" Sort [")
    check("seen base: exactly one Sort (candidates only — base pre-sorted "
          "at fold)", n_sorts == 1, f"found {n_sorts}")

    # 9. PSL domains live on the link graph (engine._link_graph): a
    #    same-domain wave's fused `fresh` plan (expand -> criteria ->
    #    consolidate -> admit) reads them off the checkpointed link
    #    rows and runs no Python. The checkpoint's own lineage (where
    #    the domain UDF runs, once per engine) is not part of the wave.
    from moca_spark.criteria.dsl import CriteriaSpec, Work
    from moca_spark.functions.urls import domain_udf
    from moca_spark.sources.synth import images_for_urls, links_df

    dom_edges = [("http://a.shop.test/x", "http://a.shop.test/y"),
                 ("http://a.shop.test/x", "http://b.shop.test/z"),
                 ("http://a.shop.test/y", "http://other.test/q"),
                 ("http://b.shop.test/z", "http://a.shop.test/w")]
    dom_urls = sorted({u for e in dom_edges for u in e})
    eng_d = CrawlEngine(spark, links_df(spark, dom_edges),
                        images_for_urls(spark, dom_urls), budget=1,
                        durable=False)
    eng_d.add_works([Work("wd", "http://a.shop.test/x",
                          CriteriaSpec(max_depth=3, same_domain=True))])
    import moca_spark.crawl.engine as crawl_engine

    fresh_plans = []
    materialize = crawl_engine._materialize

    def record(df, sort=False, aqe_off=True):
        out = materialize(df, sort=sort, aqe_off=aqe_off)
        if not sort:  # the wave's fresh materialization (exact path)
            fresh_plans.append(exec_node_names(
                df._jdf.queryExecution().executedPlan()))
        return out

    crawl_engine._materialize = record
    waves = eng_d.run(max_waves=3).waves
    crawl_engine._materialize = materialize
    check("domains: every same-domain wave recorded its fresh plan",
          waves >= 2 and len(fresh_plans) == waves,
          f"{waves} waves, {len(fresh_plans)} fresh plans")
    udf_plan = links_df(spark, dom_edges).select(
        domain_udf(F.col("src_url")))._jdf.queryExecution().executedPlan()
    check("domains: the plan walk finds a domain UDF where one runs",
          "ArrowEvalPython" in exec_node_names(udf_plan))
    check("domains: no ArrowEvalPython in a same-domain wave's fresh plan",
          not any("ArrowEvalPython" in names for names in fresh_plans),
          str([names.count("ArrowEvalPython") for names in fresh_plans]))

    spark.stop()
    print(f"\n{'ALL PASS' if not FAILED else f'{len(FAILED)} FAILED: {FAILED}'}")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
