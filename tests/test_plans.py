"""Physical-plan shape checks: the optimizations the engine relies on at
100 TB must actually appear in the plans (predicate pushdown into the
parquet scan, column pruning, broadcast joins on dim tables / the fetch
batch, no shuffle of the pages relation)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    # ReadSchema prunes to the 3 referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_quantity" not in read_schema


def test_dim_join_goes_broadcast(spark):
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["j2_brand_lookup"].run(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_fetch_join_broadcasts_batch_not_pages(spark, smoke_dir, tmp_path):
    """J1: the pages relation must stream (no exchange on the pages side);
    the frontier batch is the broadcast side."""
    from crawler_spark.engine import CrawlEngine, EngineConfig

    eng = CrawlEngine(
        spark,
        pages_path=f"{smoke_dir}/pages.parquet",
        seeds_path=f"{smoke_dir}/seeds.parquet",
        robots_path=f"{smoke_dir}/robots.parquet",
        state_dir=str(tmp_path / "state"),
        config=EngineConfig(),
        fresh=True,
    )
    frontier = eng.store.read_frontier()
    from crawler_spark.politeness import politeness_take

    batch = politeness_take(frontier, eng.robots, 30_000, 1_000)
    plan = _plan(eng._fetch(batch, 10))
    assert "BroadcastHashJoin" in plan, plan
    # pages side feeds the join via its (cached) scan, not a shuffle
    join_part = plan.split("BroadcastHashJoin")[1]
    assert "BroadcastExchange" in join_part


def test_banded_simhash_no_nested_loop(spark):
    """The banded SimHash candidate join must be a hash shuffle on
    (chunk, value) — never the all-pairs BroadcastNestedLoopJoin the
    small-corpus oracle variant uses (VERDICT r1 item 3)."""
    from crawler_spark.queries import all_queries

    qs = all_queries()
    banded = _plan(qs["dedup_simhash_banded"].run(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in banded, banded
    assert "CartesianProduct" not in banded
    # sanity: the all-pairs variant DOES use a nested loop (so the
    # assertion above is meaningful, not vacuously true of any plan)
    allpairs = _plan(qs["dedup_simhash"].run(spark, SF_DIR))
    assert (
        "BroadcastNestedLoopJoin" in allpairs or "CartesianProduct" in allpairs
    )


def test_minhash_lsh_confirm_restricted_to_candidates(spark):
    """The LSH exact-Jaccard confirm join must hang off the candidate
    set (inner hash joins), not self-join the full shingle relation —
    no nested loop, and the shingle self-join pattern sh×sh appears
    only via the candidate-restricted path (VERDICT r1 item 2)."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["dedup_minhash_lsh"].run(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_lsh_no_nested_loop(spark):
    """Embedding near-dup scale path: candidates come from the
    (band, key) hash equi-join, never an all-pairs product."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["dedup_embedding_lsh"].run(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_multifile_corpus_not_repartitioned_or_cached(spark, tmp_path):
    """Engine init on a corpus that already has >= defaultParallelism
    files must neither shuffle nor cache the pages table (at 100 TB an
    init-time repartition+persist of the html column is fatal) —
    VERDICT r1 item 6."""
    from pyspark.storagelevel import StorageLevel

    from crawler_spark import fixtures as fx
    from crawler_spark.engine import CrawlEngine, EngineConfig
    from crawler_spark.urltools import registrable_domain

    smoke = fx.ensure_corpus(fx.SMOKE, ".fixtures", registrable_domain)
    # rewrite the single-file smoke corpus as a many-file layout
    many = str(tmp_path / "pages-many.parquet")
    n = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{smoke}/pages.parquet").repartition(n).write.parquet(
        many
    )
    eng = CrawlEngine(
        spark,
        pages_path=many,
        seeds_path=f"{smoke}/seeds.parquet",
        robots_path=f"{smoke}/robots.parquet",
        state_dir=str(tmp_path / "state-many"),
        config=EngineConfig(),
        fresh=True,
    )
    assert eng.pages.storageLevel == StorageLevel.NONE
    plan = _plan(eng.pages)
    assert "Exchange" not in plan, plan
    assert "InMemoryTableScan" not in plan
    # the single-file sandbox layout still takes the rebalance+cache path
    eng2 = CrawlEngine(
        spark,
        pages_path=f"{smoke}/pages.parquet",
        seeds_path=f"{smoke}/seeds.parquet",
        robots_path=f"{smoke}/robots.parquet",
        state_dir=str(tmp_path / "state-one"),
        config=EngineConfig(),
        fresh=True,
    )
    assert eng2.pages.storageLevel != StorageLevel.NONE


def test_whole_stage_codegen_covers_extraction(spark, smoke_dir):
    """The extraction kernel must stay JVM-side: no Python evaluation
    nodes in the detail-parse plan."""
    from crawler_spark.extract import extract_details

    pages = spark.read.parquet(f"{smoke_dir}/pages.parquet").filter(
        F.col("url").contains("/getproductdetail")
    )
    plan = _plan(extract_details(pages).select("url", "text_extracted"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapsInPandas" not in plan


def test_decontaminate_hash_joins_only(spark):
    """Decontamination must probe the (broadcastable) eval shingle set
    via hash equi-joins — no all-pairs product anywhere; at 100 TB the
    train side streams map-side against the broadcast eval set."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["dedup_decontaminate"].run(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_topk_no_global_sort(spark):
    """The vocabulary top-k must run as TakeOrderedAndProject
    (per-partition heaps) — a global Sort of the token relation would
    materialize the whole vocabulary at one task."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["text_vocab_topk"].run(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_stratified_sample_is_map_side_only(spark):
    """Deterministic sampling is a projection + filter: no exchange,
    no join, no aggregate anywhere in the plan."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["sample_stratified"].run(spark, SF_DIR))
    for op in ("Exchange", "Join", "HashAggregate", "Sort"):
        assert op not in plan, f"unexpected {op} in\n{plan}"


def _plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_canonicalize_chain_has_no_python_eval(spark):
    """Successor canonicalization → first-wins, built the way
    engine._new_frontier_rows builds it over a union of successor
    branches, is pure Catalyst (no Arrow/Python eval node; the bloom
    probe is the engine's one remaining Arrow stage, and it is not in
    this chain) and canonicalizes each row once: the scheme regex
    appears exactly once in the optimized plan and in no Filter. A
    NULL-url predicate pushed below the aggregate would re-inline the
    canonicalizer into every branch's filter condition."""
    from crawler_spark.engine import first_wins, union_successors
    from crawler_spark.urltools import with_canonical_url

    cols = ("url string, host string, path string, parent_url string, "
            "root_seed string, depth int, kind string")
    detail = spark.createDataFrame(
        [("HTTP://H.Example.COM:80/a/../b//c#f", "h", "2", "p", "r", 0, "d"),
         (None, "h", "0", "p", "r", 0, "d")],
        cols,
    )
    listing = spark.createDataFrame(
        [("http://h.example.com/b/c", "h", "1", "q", "r", 1, "l"),
         ("mailto:a@b", "h", "0", "q", "r", 1, "l")],
        cols,
    )
    q = first_wins(with_canonical_url(union_successors([detail, listing], 2)))
    plan = _plan(q)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan

    optimized = q._jdf.queryExecution().optimizedPlan()
    scheme_re = "^([A-Za-z][A-Za-z0-9+.\\-]*)://"
    nodes = list(_plan_nodes(optimized))
    text = "\n".join(n.simpleString(10_000) for n in nodes)
    assert text.count(scheme_re) == 1, text
    filters = [n.condition().toString() for n in nodes
               if n.nodeName() == "Filter"]
    assert not any(scheme_re in f for f in filters), filters

    rows = [tuple(r) for r in q.collect()]
    assert rows == [("http://h.example.com/b/c", "h", "1", "q", "r", 2)], rows


def test_unigram_logprob_vocab_broadcasts(spark):
    """The corpus-fit vocab must broadcast back onto the token stream
    (a shuffle join would re-shuffle the whole exploded corpus); the
    only nested-loop join allowed is the 1-row total broadcast."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["text_unigram_logprob"].run(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_snapshot_diff_uses_window_group_limit(spark):
    """The latest-per-(page, epoch) rank must push down as
    WindowGroupLimit (top-1 per group computed pre-shuffle), not a full
    window sort of every observation."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["crawl_snapshot_diff"].run(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_funnel_stage_joins_are_hash_joins(spark):
    """Every funnel stage join is an equi-join on user_id (hash join).
    The only nested-loop joins allowed are the 1-row window-bounds
    broadcasts (IdentityBroadcastMode cross joins); nothing may degrade
    to a row-pair product of two real relations."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["events_funnel"].run(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    assert "BroadcastHashJoin" in plan, plan


def test_gopher_rules_map_side_only(spark):
    """Document-shape rules are a pure projection: no exchange, join,
    aggregate, or sort anywhere."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["text_gopher_rules"].run(spark, SF_DIR))
    for op in ("Exchange", "Join", "HashAggregate", "Sort"):
        assert op not in plan, f"unexpected {op} in\n{plan}"


def test_pack_sequences_single_sharded_shuffle(spark):
    """text_pack_sequences: ONE hash shuffle on (lang, shard) feeding the
    running-sum window — sharding bounds every window partition, so no
    global sort / SinglePartition exchange exists at any corpus size."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["text_pack_sequences"].run(spark, SF_DIR))
    assert "Exchange hashpartitioning(lang" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange ") == 1, plan


def test_hll_sketch_partial_agg_and_broadcast(spark):
    """sketch_hll_vocab: the 64-bucket rollup must partial-aggregate
    map-side (shuffle carries <=64 rows per lang, the whole point of the
    sketch) and the exact-audit join must broadcast, not shuffle."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["sketch_hll_vocab"].run(spark, SF_DIR))
    assert "partial_sum(shiftleft" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_urlseen_join_avoids_shuffle(spark, tmp_path):
    """The 10^10-key co-location path the README promises: url_seen and
    the candidate relation bucketed by url into the same bucket count
    join WITHOUT an Exchange on either side (bucketing IS the shuffle,
    paid once at write time — every subsequent superstep's anti-join
    reads co-located buckets). Broadcast disabled to force the
    sort-merge path a 10^10-row seen-set would take."""
    from pyspark.sql import functions as F

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{tmp_path}'"
    )
    try:
        urls = spark.range(0, 10_000).select(
            F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                     F.lit(".test/p"), F.col("id").cast("string"))
            .alias("url")
        )
        (urls.write.mode("overwrite").bucketBy(8, "url")
             .sortBy("url").saveAsTable("bucketdemo.url_seen_b"))
        (urls.where(F.rand(42) < 0.3).write.mode("overwrite")
             .bucketBy(8, "url").sortBy("url")
             .saveAsTable("bucketdemo.candidates_b"))

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            anti = spark.table("bucketdemo.candidates_b").join(
                spark.table("bucketdemo.url_seen_b"), "url", "left_anti"
            )
            plan = _plan(anti)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdemo CASCADE")


def test_runtime_bloom_filter_on_fetch_join_shape(spark):
    """The other half of the README's cluster-scale fetch-join claim:
    when the probe side is a big scan (emulated by flooring the
    application-side threshold — production default is 10GB, above
    this sandbox's inputs but below any real pages table), Catalyst
    injects a runtime bloom filter built from the selective side into
    the big side's scan (bloom_filter_agg + might_contain) — rows that
    cannot join die at the scan, before the shuffle."""
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            "o_orderpriority = '1-URGENT'"
        )
        plan = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_aqe_splits_skewed_megahost_join(spark):
    """Skew handling beyond the politeness salter: AQE's skew-join must
    split a mega-host partition at runtime (SortMergeJoin(skew=true) in
    the final adaptive plan). Thresholds are scaled down to this
    sandbox's data volume; the mechanism — one key carrying 100× the
    median partition — is exactly the frontier's mega-host shape."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        frontier = (
            spark.range(0, 200_000)
            .select(F.lit("mega.test").alias("host"),
                    F.col("id").alias("v"))
            .union(
                spark.range(1, 2000).select(
                    F.concat(F.lit("h"), F.col("id").cast("string"))
                    .alias("host"),
                    F.col("id").alias("v"),
                )
            )
        )
        budgets = spark.range(0, 2000).select(
            F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
            (F.col("id") * 2).alias("k"),
        ).union(
            spark.range(0, 1).select(
                F.lit("mega.test").alias("host"), F.lit(5).alias("k")
            )
        )
        j = frontier.join(budgets, "host").select(F.sum("v").alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_priority_sample_no_global_sort(spark):
    """Weighted priority sampling must run as TakeOrderedAndProject
    (per-partition heap + k-row merge), never a global Sort of the
    corpus by priority."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["sample_weighted_priority"].run(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_balanced_sample_broadcasts_lang_counts(spark):
    """Language-balanced sampling joins the tiny per-lang census via
    BroadcastHashJoin — a SortMergeJoin (or a rank window partitioned
    by lang) would shuffle the full corpus on a 5-value key."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["sample_language_balanced"].run(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_quantile_hist_no_value_sort(spark):
    """The histogram-quantile sketch never sorts the events relation:
    the only Sort in the plan is the <= 1024-row cumulative window over
    bins. (Exact percentiles would shuffle every value to one task.)"""
    from crawler_spark.queries import all_queries

    df = all_queries()["sketch_quantile_hist"].run(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # the bin-cumsum window sorts 'bin' (bounded domain), never 'value'
    import re

    for m in re.finditer(r"Sort \[([^\]]*)\]", plan):
        assert "value" not in m.group(1), plan


def test_range_join_is_equi_keyed_never_cartesian(spark):
    """The attribution range join must key the join on user_id (hash-
    shuffleable / broadcastable) with the time-range as a residual join
    condition — never a cartesian/nested-loop over event pairs — and
    both event_type filters must reach the parquet scan."""
    from crawler_spark.queries import all_queries

    df = all_queries()["events_range_join"].run(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "EqualTo(event_type,purchase)" in plan, plan
    assert "EqualTo(event_type,click)" in plan, plan


def test_bigram_pmi_topk_no_global_sort(spark):
    """PMI top-k must be TakeOrderedAndProject over the vocabulary-
    sized scored relation, never a full Sort+Exchange of it."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["text_bigram_pmi"].run(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_paragraph_dedup_no_window_operator(spark):
    """dedup_paragraph's first-occurrence rule must compile to stacked
    hash aggregations (map-side partials — boilerplate mega-groups
    collapse before the shuffle), never a Window over the paragraph
    hash (which would funnel each hash's occurrences through one
    partition sort)."""
    from crawler_spark.queries import all_queries

    plan = _plan(all_queries()["dedup_paragraph"].run(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan
