"""Physical-plan shape assertions: the scale properties the engine claims
(pushdown, pruning, broadcast, bounded shuffles) hold in the actual plans.

These guard against regressions Catalyst won't error on — a dropped
broadcast hint or a filter that stops reaching the scan silently turns a
100 TB-safe plan into a cluster-killer.
"""

from __future__ import annotations

import pytest

from yfinance_etl_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    # the shipdate predicate must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must not read columns the query never touches
    assert "l_suppkey" not in plan.split("ReadSchema")[1]


def test_revenue_by_region_broadcasts_dims(spark):
    plan = _plan(spark, "revenue_by_region")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sector_weights_broadcasts_dims(spark):
    plan = _plan(spark, "sector_weights")
    assert "BroadcastHashJoin" in plan


def test_ann_bucketed_is_equi_join_not_cartesian(spark):
    plan = _plan(spark, "ann_bucketed_topk")
    # the LSH bucket is a real join key: no all-pairs product anywhere
    assert "CartesianProduct" not in plan


def test_flagship_risk_single_shuffle_chain(spark):
    plan = _plan(spark, "flagship_risk")
    # bars groupBy + final agg share the suppkey partitioning: at most the
    # two expected exchanges (bars build, final agg), not one per stage
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"unexpected extra shuffles:\n{plan}"


def test_window_queries_partition_by_key(spark):
    for name in ("sma_min_periods", "cumulative_return", "uptrend_flags"):
        plan = _plan(spark, name)
        assert "partitionBy" not in plan or "suppkey" in plan
        # a window without PARTITION BY would collapse to a single task
        assert "Window [" in plan and "suppkey" in plan.split("Window [")[1][:400]


def test_scalar_profile_filter_pushed_to_scan(spark):
    plan = _plan(spark, "scalar_profile")
    assert "PushedFilters: [In(event_type" in plan


def test_bucketed_join_has_no_join_shuffle(spark):
    plan = _plan(spark, "bucketed_join_revenue")
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # the ONLY hash exchange is the final mktsegment aggregation — the join
    # itself rides the write-time bucketing, no shuffle on either input
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cache_substitution_hits_memory(spark):
    # S12: after cache_shared_stages, any query rebuilding the identical
    # daily-bars subplan must read the InMemoryRelation, not rescan lineitem
    from yfinance_etl_spark.cache import cache_shared_stages, uncache_all

    cached = cache_shared_stages(spark, SF)
    try:
        plan = _plan(spark, "flagship_risk")
        assert "InMemoryTableScan" in plan, plan
    finally:
        uncache_all(cached)


def test_minhash_lsh_neardup_is_one_lazy_plan_the_cache_substitutes(spark):
    # uncached, the verified pair frame is a plain lazy plan — no
    # checkpointed candidate frame (a LogicalRDD leaf, Scan ExistingRDD
    # once planned) — so caching ONE instance makes any later build of the
    # same call read the InMemoryRelation, with identical rows
    from yfinance_etl_spark.catalog import load_table
    from yfinance_etl_spark.operators.dedup import minhash_lsh_neardup

    def build():
        return minhash_lsh_neardup(load_table(spark, SF, "documents"), threshold=0.7)

    uncached = build()
    qe = uncached._jdf.queryExecution()
    for plan in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    want = sorted(tuple(r) for r in uncached.collect())

    entry = build().cache()
    try:
        entry.count()
        again = build()
        assert "InMemoryTableScan" in again._jdf.queryExecution().executedPlan().toString()
        assert sorted(tuple(r) for r in again.collect()) == want
    finally:
        entry.unpersist(blocking=True)


def test_python_stage_fan_out_follows_row_count(spark):
    # a Python task costs a fixed ~0.27 s of worker CPU, so a Python stage
    # fans out by row count (1,024 rows per task, capped at one per core)
    # while a JVM stage still fans out to every core
    from yfinance_etl_spark.catalog import load_table
    from yfinance_etl_spark.multimodal.columns import synthesize_png_assets
    from yfinance_etl_spark.operators.dedup import doc_hashes
    from yfinance_etl_spark.operators.partitioning import spread

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    docs = load_table(spark, SF, "documents")
    assert docs.rdd.getNumPartitions() < 4 and docs.count() <= 1024
    assert "RoundRobinPartitioning" not in plan(synthesize_png_assets(docs))
    big = spark.range(0, 5000, 1, numPartitions=1).withColumnRenamed("id", "doc_id")
    assert "RoundRobinPartitioning(4" in plan(synthesize_png_assets(big))
    # the JVM rule is unchanged: the same 500 rows still spread to 4
    assert "RoundRobinPartitioning(4" in plan(doc_hashes(docs))

    # an input with a partition per core returns before the count
    wide = docs.repartition(4)
    sc = spark.sparkContext._jsc.sc()
    jobs = sc.dagScheduler().numTotalJobs()
    assert spread(wide, python=True) is wide
    assert sc.dagScheduler().numTotalJobs() == jobs


def test_spread_does_not_trust_a_coalescible_planned_count(spark):
    # AQE may coalesce an aggregate's exchange below its planned 4
    # partitions, so spread reads such an input's count from its RDD: a
    # small groupBy-ended input still spreads to every core
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.partitioning import spread

    small = (
        spark.range(0, 100, 1, numPartitions=4)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
    )
    plan = spread(small)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning(4" in plan


def test_modality_signature_cache_substitutes_with_count_sized_fan_out(spark):
    # the row-count-sized fan-out is a function of the data, so a rebuilt
    # synthesize -> dHash chain plans the same and reads the cached frame
    # (the shared modality-signature entries in cache.py rely on this)
    from yfinance_etl_spark.catalog import load_table
    from yfinance_etl_spark.multimodal.columns import (
        image_dhash,
        synthesize_png_assets,
    )

    def build():
        return image_dhash(synthesize_png_assets(load_table(spark, SF, "documents")))

    want = sorted(tuple(r) for r in build().collect())
    entry = build().cache()
    try:
        entry.count()
        again = build()
        assert "InMemoryTableScan" in again._jdf.queryExecution().executedPlan().toString()
        assert sorted(tuple(r) for r in again.collect()) == want
    finally:
        entry.unpersist(blocking=True)


def test_operators_never_inspect_the_cache_manager():
    # one implementation per algorithm: no operator may pick its plan by
    # asking Spark whether something is cached
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "yfinance_etl_spark" / "operators"
    hits = [
        f"{path.name}: {needle}"
        for path in sorted(root.rglob("*.py"))
        for needle in ("cacheManager", "lookupCachedData")
        if needle in path.read_text()
    ]
    assert not hits, hits


def test_non_empty_guard(spark):
    # P5: empty frame -> None, non-empty frame passes through unchanged
    from yfinance_etl_spark.catalog import load_table, non_empty

    orders = load_table(spark, SF, "orders")
    assert non_empty(orders) is orders
    assert non_empty(orders.where("o_orderkey < 0")) is None


def test_pivot_no_discovery_job_two_exchanges(spark):
    # explicit pivot values: one conditional agg per ticker, exactly the
    # bars shuffle + the pivot re-key — and never a distinct-values scan
    plan = _plan(spark, "price_pivot_wide")
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_cube_single_shuffle_with_expand(spark):
    # CUBE = Expand over ONE exchange (partial agg merges the 2^k sets)
    plan = _plan(spark, "orders_cube")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sketch_profile_single_shuffle(spark):
    # sketches are partition-mergeable: partial HLL/GK map-side, one exchange
    plan = _plan(spark, "sketch_profile")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tfidf_broadcasts_corpus_count(spark):
    plan = _plan(spark, "tfidf_top_terms")
    # the 1-row corpus count must broadcast, never shuffle-join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_train_split_zero_shuffle_before_agg(spark):
    plan = _plan(spark, "train_split_counts")
    # split assignment is per-row; the ONLY exchange is the final groupBy
    assert plan.count("Exchange hashpartitioning") <= 1


def test_salted_join_joins_on_salt(spark):
    plan = _plan(spark, "salted_revenue_by_segment")
    # the salt must be a real join key (that's what spreads a hot key)
    assert "__salt" in plan


def test_pdf_report_readback_is_map_only(spark):
    # S11 roundtrip: everything after the k-row driver-side render is a
    # binaryFile scan → Arrow-batched page extraction → posexplode, with
    # ZERO exchanges — at a million reports the parse-back scales as a
    # pure map stage. (The upstream agg is revenue_by_region's audited
    # broadcast plan; the sink itself is the presentation boundary.)
    plan = _plan(spark, "pdf_report_roundtrip")
    assert "Exchange" not in plan, f"report read-back shuffled:\n{plan}"
    assert "MapInPandas" in plan and "BINARYFILE" in plan.upper()


def test_display_formatting_broadcasts_dims(spark):
    # F6 formatting must stay a projection over the broadcast join agg —
    # the only exchanges are revenue_by_region's audited agg shuffle and
    # the trivial 5-row SinglePartition for the global share window
    plan = _plan(spark, "display_formatting")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "format_string" in plan  # formatting is JVM-side, not a UDF


def test_ema_segmented_is_pure_catalyst(spark):
    # the registry query runs the catalyst summarizer: collect_list +
    # aggregate-HOF folds, zero Python operators — a regression to the
    # pandas path would reintroduce 7000 Python round-trips at sf0.1
    # (measured 6.8 s vs 0.6 s)
    plan = _plan(spark, "ema_20_segmented")
    for py_op in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                  "ArrowEvalPython"):
        assert py_op not in plan, f"Python operator in the catalyst path:\n{plan}"
    assert plan.count("Exchange") == 3  # bars agg, (key,seg), key


def test_gopher_quality_is_map_only(spark):
    # the repetition-count kernel is per-row Arrow compute: the whole
    # feature projection must stay a single map stage — zero exchanges
    # (this is exactly what the quadratic-HOF replacement bought; a future
    # explode+groupBy rewrite would reintroduce two shuffles and fail here)
    plan = _plan(spark, "doc_quality_gopher")
    assert "Exchange" not in plan, f"quality features shuffled:\n{plan}"
    assert "ArrowEvalPython" in plan or "BatchEvalPython" not in plan


def test_symbol_search_filter_is_map_side(spark):
    plan = _plan(spark, "symbol_search")
    assert "Exchange" not in plan  # pure filter + projection


def test_stratified_sample_zero_shuffle(spark):
    # salted hash-mod membership is a pure per-row filter
    plan = _plan(spark, "stratified_sample")
    assert "Exchange" not in plan, plan


def test_shard_packing_two_exchanges(spark):
    # the distributed prefix-sum: one range exchange + one pid-window
    # exchange; the offset table joins by broadcast (its BroadcastExchange
    # moves num_ranges rows, not data), never a third shuffle. The final
    # plan scans the checkpointed prefix frame (the pin that keeps the
    # totals collect and the output join on the SAME range boundaries), so
    # the two exchanges are asserted on the pre-checkpoint stage.
    from yfinance_etl_spark.operators.sampling import _local_prefix

    df = spark.createDataFrame([(i, 10) for i in range(100)], "k bigint, w bigint")
    stage = _local_prefix(df, "w", "k", 8)
    stage_plan = stage._jdf.queryExecution().executedPlan().toString()
    n_shuffles = stage_plan.count("Exchange hashpartitioning") + stage_plan.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffles == 2, stage_plan
    plan = _plan(spark, "shard_packing")
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # no third shuffle after the scan


def _assert_asof_shape(plan: str) -> None:
    # the as-of family's contract (r6 advice asked for a specific pin, not
    # just the suite guard): exactly ONE exchange and it hashes user_id —
    # union + carry-forward window + agg all ride that single partitioning
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange hashpartitioning(user_id" in plan, plan
    # the sort feeding the carry-forward window is partition-LOCAL
    # ("false, 0" = global=false): no rangepartitioning global sort ever
    assert "Exchange rangepartitioning" not in plan, plan
    # no fallback to a real join operator (the union+window shape has no
    # join at all; a range-join rewrite would appear as SMJ/BNLJ here)
    for op in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, f"{op} crept into the as-of plan:\n{plan}"
    # both event scans keep their event_type pushdown
    assert plan.count("PushedFilters: [IsNotNull(event_type), EqualTo(event_type") == 2, plan


def test_funnel_single_shuffle_on_user_id(spark):
    _assert_asof_shape(_plan(spark, "funnel_conversions"))


def test_asof_click_attribution_single_shuffle_on_user_id(spark):
    _assert_asof_shape(_plan(spark, "asof_click_attribution"))


def test_cohort_two_exchanges(spark):
    # one fact shuffle (user agg carrying min + week set) + the weeks² final
    # agg; the naive distinct⋈firsts shape costs three
    plan = _plan(spark, "cohort_retention")
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_minhash_signatures_have_no_shuffle(spark):
    from yfinance_etl_spark.catalog import load_table
    from yfinance_etl_spark.operators.dedup import minhash_bands, simhash_signatures

    docs = load_table(spark, SF, "documents")
    for df in (minhash_bands(docs), simhash_signatures(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # per-row HOF signatures: no KEYED shuffle, ever (the only
        # allowed exchange is the guarded RoundRobin spread of an
        # under-partitioned scan, a no-op on partitioned inputs)
        assert "Exchange hashpartitioning" not in plan, f"signature stage shuffled:\n{plan}"
        assert "Exchange rangepartitioning" not in plan, f"signature stage sorted:\n{plan}"


def test_price_band_join_broadcasts_intervals(spark):
    # the band table broadcasts and the BETWEEN predicate evaluates
    # map-side on the fact scan: the ONLY shuffle in the plan is the final
    # group-by agg. (r5 flagged a 2.6x bench wobble on this query; warm
    # re-measures are ~0.8-1.1s — cold-scan noise, not plan drift. This pin
    # makes real drift visible.)
    plan = _plan(spark, "price_band_join")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange rangepartitioning") == 0, plan


def test_driver_tables_are_local_table_scans(spark):
    # driver-built tables (catalog.local_frame) plan as a JVM
    # LocalTableScan, not a Python-RDD "Scan ExistingRDD" that starts a
    # Python worker per core (bpe_tokenize's checkpointed vocab is the
    # one ExistingRDD its plan keeps)
    for name in ("price_band_join", "peer_group_lookup", "bpe_tokenize"):
        plan = _plan(spark, name)
        assert "LocalTableScan" in plan, (name, plan)
    for name in ("price_band_join", "peer_group_lookup"):
        assert "Scan ExistingRDD" not in _plan(spark, name), name


def test_order_value_deciles_shares_priority_shuffle(spark):
    # both rank windows and the ntile window partition by o_orderpriority,
    # so they ride ONE exchange; the only other exchange is the final
    # (priority, decile) agg. Three window functions must not mean three
    # shuffles.
    plan = _plan(spark, "order_value_deciles")
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_contamination_broadcasts_benchmark_shingles(spark):
    # the benchmark's distinct shingle set broadcasts (BroadcastHashJoin)
    # and the candidate/corpus side's only exchange is the final doc-keyed
    # count — the corpus never shuffles for the join itself, however large
    plan = _plan(spark, "contamination_check")
    assert "BroadcastHashJoin" in plan, plan
    # allowed exchanges: the DISTINCT on the (tiny) benchmark shingle set
    # pre-broadcast and the final doc-keyed count — the join itself must
    # never sort-merge or shuffle the corpus
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["multimodal_features", "multimodal_resize", "frame_sample", "pii_redaction", "tz_normalize"],
)
def test_map_only_queries_never_shuffle(spark, name):
    # these are per-row/per-asset transformations: any Exchange appearing
    # here means a composition regression (e.g. an accidental groupBy or a
    # lost pushdown), which at 100 TB turns a streaming-friendly map stage
    # into a full-corpus shuffle
    plan = _plan(spark, name)
    assert "Exchange" not in plan, f"{name} shuffled:\n{plan}"


def test_banded_neardup_broadcast_probe_shape(spark):
    # the banded near-dup must stay a BROADCAST equi-join on
    # (band, bucket, salt) — never all-pairs — with the probe side spread
    # across row partitions (the r6 12.3s -> 3.4s fix: a RoundRobin
    # repartition before the embed UDF; repartitioning by the join keys
    # instead re-concentrates hot buckets and is asserted absent)
    plan = _plan(spark, "dedup_embedding_banded")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "RoundRobinPartitioning" in plan, plan
    # no key-hash exchange feeds the join probe; the only hash exchange
    # is the final distinct()
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_kmeans_assign_is_map_only(spark):
    # Lloyd's assign step must never shuffle: centroids enter the plan as
    # one k×dim literal matrix (the Spark-MLlib driver-side shape) and the
    # argmin is a single projection. An earlier revision crossJoined a
    # broadcast centroid frame and argmin'd via groupBy(vec_id) — that
    # shuffled every vector (with its embedding payload) once PER ROUND,
    # the exact cost this test pins out of existence.
    from yfinance_etl_spark.operators.clustering import _as_double_vec, assign

    vecs = _as_double_vec(
        spark.read.parquet(f"{SF}/embeddings.parquet")
    )
    cents = [(i, [0.1 * i] * 64) for i in range(8)]
    plan = assign(vecs, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"assign shuffled:\n{plan}"
    assert "Join" not in plan, f"assign planned a join:\n{plan}"


def test_ivf_assignment_is_map_only(spark):
    # same property for the IVF coarse quantizer: after the k centroid
    # rows are collected, list assignment must be a projection — the old
    # crossJoin + Window.partitionBy(vec_id) argmin shuffled and sorted
    # all k·N scored rows (embedding payload included)
    from yfinance_etl_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned, _ = ivf_assign(emb, k_centroids=4)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"ivf assignment shuffled:\n{plan}"
    assert "Window" not in plan, f"ivf assignment planned a window:\n{plan}"
    assert "Join" not in plan, f"ivf assignment planned a join:\n{plan}"


def test_zorder_curve_is_shuffle_free_topk(spark):
    # the Morton value must stay a single whole-stage-codegen projection
    # on the scan (pure bit arithmetic — no UDF, no join against a bit
    # table) with the top-k as TakeOrderedAndProject: per-partition heaps
    # + one k-row driver merge, never a full global sort of the fact table
    plan = _plan(spark, "zorder_curve")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, f"zorder_curve shuffled:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_query_plan_contains_antipatterns(spark):
    # suite-wide guard: no registered query may plan a CartesianProduct
    # (an un-broadcast cross join is never acceptable — the brute-force
    # knn baseline broadcasts, planning as BroadcastNestedLoopJoin) or a
    # BatchEvalPython (row-at-a-time Python UDF; every Python kernel in
    # the engine is Arrow-batched or pure Catalyst)
    offenders = {}
    for name, q in REGISTRY.items():
        plan = q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_weighted_sample_is_take_ordered_not_full_sort(spark):
    plan = _plan(spark, "weighted_sample_topk")
    # A-ES top-k must plan the per-partition k-heap + k-row driver merge,
    # never a global Exchange rangepartitioning + Sort materialization
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_editdistance_passjoin_is_equi_join_on_block_index(spark):
    plan = _plan(spark, "dedup_editdistance")
    # the PassJoin candidate join must be an EQUI join on the
    # (blk, plen, h) inverted-index key — a theta-join on |len diff| or a
    # contains() join condition would plan BroadcastNestedLoop/Cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for key in ("blk", "plen", "h#"):
        assert key in plan, key


def test_editdistance_band_method_is_equi_join(spark):
    from yfinance_etl_spark.operators.dedup import editdistance_neardup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        editdistance_neardup(docs, k=4, method="band")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the length-band join is an EQUI join on `band`; the pigeonhole
    # contains-OR rides the join condition, never a nested-loop plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan


def test_char_entropy_partial_aggregates_before_exchange(spark):
    plan = _plan(spark, "char_entropy")
    # the (doc_id, char) count must partial-agg map-side so the exchange
    # carries alphabet-sized groups, not one row per character of corpus
    import re

    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert first_agg != -1 and first_exchange != -1
    # executedPlan prints top-down: the FINAL agg appears before the
    # exchange, and a partial agg must appear after it (below = upstream)
    assert "partial_count" in plan or re.search(r"HashAggregate.*partial", plan, re.S)


def test_runtime_bloom_filter_injects_for_nonbroadcast_selective_join(spark, tmp_path):
    """session.get_spark enables Spark's runtime bloom-filter injection; at
    repo test scale it is inert (dims broadcast), so pin the behavior it
    buys at cluster scale explicitly: with broadcast off and the size
    thresholds lowered to toy scale, a selective creation side must inject
    bloom_filter_agg + a might_contain() pre-filter on the fact side, and
    the filtered join must return exactly the plain join's rows."""
    fact = spark.range(0, 20000).selectExpr("id % 500 AS k", "id AS v")
    dim = spark.range(0, 500).selectExpr("id AS k").filter("k % 50 = 0")
    fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtimeFilter.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        f = spark.read.parquet(str(tmp_path / "fact"))
        d = spark.read.parquet(str(tmp_path / "dim")).filter("k % 50 = 0")
        j = f.join(d, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        got = sorted((r.k, r.v) for r in j.collect())
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = sorted((r.k, r.v) for r in
                  spark.read.parquet(str(tmp_path / "fact"))
                  .join(spark.read.parquet(str(tmp_path / "dim")).filter("k % 50 = 0"), "k")
                  .collect())
    assert got == want and len(got) == 20000 // 500 * 10  # 10 dim keys × 40 fact rows each


def test_semantic_dedup_pair_join_is_equi_join_no_python(spark):
    # the within-cluster pair join must key on (cent_id, salt) — a real
    # equi-join, never an all-pairs product — and the whole operator is
    # pure Catalyst: no Python eval anywhere in the plan
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                  "MapInPandas"):
        assert py_op not in plan, py_op
    # probe assignment stays the map-only literal-matrix shape: the only
    # exchanges are the pair join's and the k-cell aggregates'
    assert "BroadcastHashJoin" in plan  # the k-row summary join


def test_substring_dedup_match_join_is_equi_join(spark):
    # the gram match must be a hash equi-join — never a nested-loop/
    # cartesian — and gram generation is a pure projection
    plan = _plan(spark, "substring_dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the posexplode gram fan-out
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan, py_op
    # r10: the match join keys on xxhash64(gm), so the corpus-sized gram
    # frame crosses the shuffle with an 8-byte key, never the L-char gram
    assert "xxhash64" in plan, plan[:2000]


def test_temperature_mix_fact_never_shuffles_for_the_join(spark):
    # rates broadcast back (stratum-cardinality rows): the fact side
    # reaches its membership filter through a BroadcastHashJoin, never a
    # shuffle. Hash exchanges: the stratum-count aggregate appears in BOTH
    # rate branches (identical subplans — AQE's exchange reuse collapses
    # them at runtime) plus the final summary agg — every one of them
    # map-side combined down to stratum-cardinality rows before moving.
    # The 1-row normalizer joins via the standard 1-row broadcast BNLJ.
    plan = _plan(spark, "temperature_mix_lang")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "CartesianProduct" not in plan
    # the fact scan feeds the join directly: no exchange between the
    # documents scan and the BroadcastHashJoin probe side
    probe = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe, probe


def test_dsir_topk_broadcasts_ratio_table_and_heaps(spark):
    # the 256-row log-ratio table must broadcast into the per-doc scoring
    # join, and the top-20 must plan the k-heap TakeOrderedAndProject,
    # never a global sort of the scored corpus
    plan = _plan(spark, "dsir_importance_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_delta_candidates_is_equi_band_join_never_cartesian(spark):
    # dedup_delta_snapshot's candidate stage (built on uncheckpointed
    # bands — the committed query checkpoints its signature table, which
    # truncates the plan): the asymmetric new×corpus pairing is an EQUI
    # join keyed on (band_id, band_val), so Catalyst plans a
    # hash/sort-merge join — a cross-set band bucket, never a
    # CartesianProduct — and the new/corpus sides are FILTERS of the same
    # signature table (the one-signature-pass claim).
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        _delta_candidates,
        minhash_bands,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bands = minhash_bands(docs)
    pred = F.col("doc_id") % 10 < 2
    cand = _delta_candidates(bands.filter(pred), bands.filter(~pred))
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "band_val" in plan and "band_id" in plan


def test_split_leakage_composition_adds_zero_exchanges(spark):
    # split_leakage_check = with_split ∘ contamination_overlap: the split
    # is a map-side md5-bucket projection, so the composed query must
    # plan NO exchanges beyond what contamination_overlap itself pays on
    # the same corpus, and the leak-table join back must broadcast.
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import contamination_overlap
    from yfinance_etl_spark.operators.sampling import with_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = contamination_overlap(
        with_split(docs, key="doc_id"), F.col("split") == "train", min_overlap=3
    )
    base_plan = base._jdf.queryExecution().executedPlan().toString()

    composed = _plan(spark, "split_leakage_check")
    # the composition adds the per-split rollup (1 hash agg pair = 1
    # exchange) on top of the overlap subplan — nothing else
    assert composed.count("Exchange hashpartitioning") <= base_plan.count(
        "Exchange hashpartitioning"
    ) + 1, composed
    assert "BroadcastHashJoin" in composed
    assert "CartesianProduct" not in composed
    # the split itself is pure projection: no exchange between the doc
    # scan and the first aggregate/join in the with_split branch
    split_stage = with_split(docs, key="doc_id").filter(F.col("split") != "train")
    split_plan = split_stage._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in split_plan, split_plan


def test_encoding_quality_is_map_side_zero_exchange(spark):
    # injection + both regexp_count measurements ride one projection over
    # the scan — a second pass or a shuffle here would be a plan bug
    plan = _plan(spark, "encoding_quality")
    assert "Exchange" not in plan, plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan, py_op


def test_sequence_packing_is_one_assembly_aggregate(spark):
    # beyond pack_shards' checkpointed prefix-sum stage (a LogicalRDD leaf
    # here), assembly must cost exactly one hash-aggregate exchange on
    # shard_id — and the whole query stays JVM-side
    plan = _plan(spark, "sequence_packing")
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "CartesianProduct" not in plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan, py_op


def test_stream_delta_microbatch_twin_plan_shape(spark):
    """PLANS.md §stream_delta_candidates' machine twin: the plan that
    foreachBatch executes per micro-batch — stateless Arrow signature
    subplan, EQUI band join (never cartesian), plain per-batch hash
    aggregate, and NO state-store operator anywhere (the zero-state
    property tests/test_streaming.py measures from run progress)."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        str(pathlib.Path(__file__).resolve().parents[1] / "tools" / "plan_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    df = mod._stream_delta_microbatch_twin(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan           # the minhash signature UDF
    assert "CartesianProduct" not in plan      # band join is equi
    assert "StateStore" not in plan            # no streaming state, ever
    assert "HashAggregate" in plan             # per-batch pair count


def test_stream_ema_stateful_unstarted_plan_one_state_operator(spark):
    """PLANS.md §stream_ema_stateful's machine twin: exactly one state
    operator (FlatMapGroupsInPandasWithState on user_id, Update mode),
    exactly one Exchange (the stateful operator's required key
    partitioning), and no built-in agg state path (StateStoreSave)."""
    from yfinance_etl_spark.streaming import streams as ST

    df = ST.ema_stream(ST.read_events_stream(spark, "/root/testdata/sf0.001"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("FlatMapGroupsInPandasWithState") >= 1
    # formatted output names the node once in the tree and once in the
    # detail section — normalize to the tree occurrence count
    tree = plan.split("(1) ")[0]
    assert tree.count("FlatMapGroupsInPandasWithState") == 1
    assert tree.count("Exchange") == 1
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan
    assert "Update" in plan and "StateStoreSave" not in plan


def test_knn_join_is_equi_join_with_salt_in_keys(spark):
    """The all-vectors kNN join plans an EQUI-join on the bucket id —
    never a Cartesian/nested-loop N² product — and the banded+salted
    registration carries the salt in its join keys (psalt visible in
    the plan), so a hot bucket's reducer work is split at the shuffle
    rather than in a comment."""
    plan = _plan(spark, "knn_join_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan_b = _plan(spark, "knn_join_banded")
    assert "CartesianProduct" not in plan_b
    assert "psalt" in plan_b


def test_pagerank_last_round_is_one_agg_exchange_over_checkpoints(spark):
    """The visible pagerank plan is the LAST round alone (earlier rounds
    truncated to checkpointed leaves — the connected_components lineage
    discipline): an equi message join plus the per-node decimal-sum
    aggregation, no Cartesian anywhere, and at most the join + agg
    exchanges — per-round cost of a keyed agg, as the audit claims."""
    plan = _plan(spark, "dedup_graph_pagerank")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan ExistingRDD") >= 2  # checkpointed edges + ranks
    assert plan.count("Exchange") <= 4, plan.count("Exchange")


def test_knn_join_scaled_default_is_equi_join(spark):
    """The production-default geometry plans the same equi-join family
    as the pinned twin: bucket-key join, never a Cartesian/nested-loop
    product, top-k via WindowGroupLimit instead of a global sort."""
    plan = _plan(spark, "knn_join_scaled")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_contrastive_triplets_no_cartesian_and_distributed_ring(spark):
    """Pair mining stays relational: no Cartesian anywhere; both
    best-per-anchor picks resolve via WindowGroupLimit; the fallback
    ring rides pack_shards' checkpointed prefix-sum (Scan ExistingRDD
    leaf), not a single-task no-partition window over the corpus."""
    plan = _plan(spark, "contrastive_triplets")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the accepted 1-row-total broadcasts
    # (the df<=0.5·n_docs filter) — never a pair-side product
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert "n_docs" in frag.split("\n")[0], frag.split("\n")[0]
    assert "WindowGroupLimit" in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed ring
    # every corpus-sized Window is partitioned (anchor/stratum keys); the
    # ring's global rank never appears here — it lives behind the
    # checkpoint (pack_shards' range+pid shape)
    for frag in plan.split("Window [")[1:]:
        head = frag.split("\n")[0]
        assert "anchor_id" in head or "__rkey" not in head, head


def test_ccnet_buckets_broadcast_lm_tables_and_cut_row(spark):
    """The LM count tables (<= 256^2 cells) and the 2-value tercile cut
    row must re-enter as broadcasts; the score frame is checkpointed so
    the bigram pass runs once (visible as the ExistingRDD leaf)."""
    plan = _plan(spark, "ccnet_ppl_buckets")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed score frame


def test_quota_sample_pick_window_ranks_only_the_survivor_frame(spark):
    """r15 scale tier: the per-stratum pick window must rank the
    CHECKPOINTED survivor frame (O(total) rows — bounded by the sample
    size), never the fact table. The fact crossed the wire exactly once,
    at the prefilter checkpoint, so the RETURNED plan carries no parquet
    scan at all: its leaves are ExistingRDDs (survivors + the stratum-
    sized count frame) and the gate re-enters as a broadcast."""
    plan = _plan(spark, "quota_sample_mix")
    assert "CartesianProduct" not in plan
    # the ok-strata gate re-enters the survivor side as a broadcast,
    # never a shuffle join
    assert "BroadcastHashJoin" in plan
    # ZERO fact parquet passes in the returned plan: the pick window's
    # input is the checkpointed survivor frame — a full-stratum
    # single-task sort can no longer appear here by construction
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "Scan ExistingRDD" in plan
    # the one Window in the plan is the stratum-partitioned survivor
    # rank (partitionBy pins it off the single-partition global form)
    for frag in plan.split("Window [")[1:]:
        head = frag.split("\n")[0]
        assert "__stratum" in head, head


def test_modality_dedup_band_joins_are_equi_never_cartesian(spark):
    """The three r15 modality dedup tiers (image dHash, audio energy
    fingerprint, video temporal frames): the signature self-join must be
    an EQUI join on the band key over the CHECKPOINTED signature frame
    (ExistingRDD — the decode/hash Python stage runs once, not per join
    side), with the popcount verify filtered before the distinct; no
    CartesianProduct anywhere. The video plan additionally carries the
    frame-count joins WITHOUT a broadcast hint on the corpus-sized side
    (AQE picks the build side; the pair frame is the small one)."""
    for name in (
        "dedup_image_phash",
        "dedup_audio_fingerprint",
        "dedup_video_frames",
        "dedup_video_offset",  # r16: seed + vote + verify, all equi
        "dedup_audio_offset",  # r16: audio frames through the same tier
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Scan ExistingRDD" in plan, name  # checkpointed signatures
        # the verify predicate sits in the plan as a filter on the
        # popcount sum — survivors-only rows reach the dedup exchange
        assert "bit_count" in plan, name
        # band equi-key join: a SortMergeJoin/ShuffledHashJoin/Broadcast
        # HashJoin with join keys, never a pure-condition BroadcastNLJ
        assert "NestedLoop" not in plan, name
