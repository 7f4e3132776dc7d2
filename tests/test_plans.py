"""Scale-property assertions on physical plans: pushdown, pruning,
broadcast, shuffle counts.  These pin the plans we want — a regression here
is a 100 TB problem even when sf0.01 results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark import plans as P
from map_reduce_folds_spark.queries import QUERIES
from tests.conftest import SF_DIR


def _run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes the plan
    return df


def test_filter_pushdown_reaches_scan(spark):
    df = _run(spark, "q1_pricing_summary")
    assert P.has_pushed_filter(df, "l_shipdate"), P.executed_plan(df)


def test_column_pruning(spark):
    df = _run(spark, "mr_task1_mean")
    cols = P.scan_columns(df)
    # 16-column lineitem: the scan must read only the 2 referenced columns
    assert set(cols) == {"l_returnflag", "l_quantity"}, cols


def test_applicative_reduce_is_one_shuffle(spark):
    df = _run(spark, "mr_applicative")
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_dim_joins_broadcast(spark):
    df = _run(spark, "join_broadcast_dims")
    assert P.count_broadcast_joins(df) == 3
    assert P.count_sortmerge_joins(df) == 0
    # star-chain + final agg: the only shuffle is the aggregation
    assert P.count_exchanges(df) <= 1, P.executed_plan(df)


def test_q3_broadcasts_dim_side(spark):
    df = _run(spark, "q3_shipping_priority")
    assert P.count_broadcast_joins(df) >= 1


def test_topk_no_global_sort(spark):
    df = _run(spark, "topk_orders")
    plan = P.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen(spark):
    for name in ("mr_readme_sum", "q1_pricing_summary", "text_stats"):
        df = _run(spark, name)
        assert P.uses_whole_stage_codegen(df), name


@pytest.mark.parametrize("name", [
    "dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash_pairs",
    "dedup_embedding", "dedup_multimodal_union", "sim_topk_lsh",
    "sim_topk_ivf",
])
def test_dedup_similarity_no_cartesian(spark, name):
    """Every production dedup/similarity path must be bucketed — a cartesian
    or nested-loop join is an O(n²) plan that dies at corpus scale.  (The
    explicitly-labeled brute-force baseline sim_topk_bruteforce is exempt.)"""
    df = _run(spark, name)
    assert P.count_cartesian_joins(df) == 0, P.executed_plan(df)


@pytest.mark.parametrize("name", ["repetition_ratio", "scrub_pii"])
def test_text_ops_are_scan_local(spark, name):
    """Per-row text ops must cost ZERO shuffles — pure scan-side Catalyst
    expressions (the 100 TB corpus pass is IO-bound, nothing else)."""
    df = _run(spark, name)
    assert P.count_exchanges(df) == 0, P.executed_plan(df)
    assert P.uses_whole_stage_codegen(df)


def test_salted_join_no_sortmerge(spark):
    """The replicated small side must broadcast — the whole point is
    avoiding a shuffled join pinned on the hot key."""
    df = _run(spark, "salted_join_hot_keys")
    assert P.count_sortmerge_joins(df) == 0, P.executed_plan(df)
    assert P.count_cartesian_joins(df) == 0


def test_q8_star_join_broadcasts_all_dims(spark):
    """Q8: seven dimension joins broadcast; the only shuffle is the final
    aggregation."""
    df = QUERIES["q8_market_share"](spark, SF_DIR)
    plan = P.initial_physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 6, plan
    df.collect()
    assert P.count_exchanges(df) <= 1, P.executed_plan(df)


def test_centroids_two_level_fold_two_shuffles(spark):
    """group_centroids: exactly the two tree-level shuffles, no more."""
    df = _run(spark, "embedding_centroids_by_lang")
    assert P.count_exchanges(df) == 2, P.executed_plan(df)
    assert P.count_cartesian_joins(df) == 0


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q9_product_profit"])
def test_tpch_multijoin_broadcasts_dims(spark, name):
    """Q7/Q9: nation/supplier-side dims must broadcast — fact-fact shuffles
    only on the natural keys.  Asserted on the pre-AQE physical plan: at
    sf0.001 AQE's empty-relation propagation can erase the joins entirely."""
    df = QUERIES[name](spark, SF_DIR)
    plan = P.initial_physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_asof_merge_one_shuffle_no_join(spark):
    """The default (merge) as-of strategy is union + running window: ONE
    hash-partition shuffle on the key and NO join operator at all — fan-out
    cannot exist in this plan shape regardless of time-range width."""
    df = _run(spark, "asof_join_purchase_click")
    plan = P.executed_plan(df)
    assert P.count_exchanges(df) == 1, plan
    assert "Join" not in plan, plan


def test_asof_hotkey_split_bounded_shuffles(spark):
    """The hot-key pre-split costs a BOUNDED number of extra shuffles over
    the unsplit merge (summary agg + distinct + carry join + carry window
    — all on (key, bucket)-sized data), and still contains no cartesian
    and no row-fan-out join on the event stream itself."""
    df = _run(spark, "asof_join_hotkey")
    plan = P.executed_plan(df)
    n = P.count_exchanges(df)
    assert 1 <= n <= 6, f"{n} exchanges\n{plan}"
    assert P.count_cartesian_joins(df) == 0, plan


def test_fold_vocab_distinct_split_no_expand(spark):
    """mr_fold_vocab mixes count_distinct with collect_set: the fold
    compiler's distinct-splitting rewrite must keep Expand (2x-rows
    distinct rewrite) out of the plan."""
    df = _run(spark, "mr_fold_vocab")
    plan = P.initial_physical_plan(df)
    assert "Expand" not in plan, plan


def test_no_global_order_windows_in_package():
    """Lint pin: `Window.orderBy(...)` without a preceding partitionBy is
    the single-task global window — the whole dataset funnels through ONE
    task (measured 15.5 s for 10M rows vs 8.2 s bucketed; at corpus scale
    it simply dies).  deterministic_shuffle and ordered_prefix_sum exist
    precisely to replace it; nothing in the package may reintroduce it."""
    import pathlib
    import re

    import map_reduce_folds_spark

    pkg = pathlib.Path(map_reduce_folds_spark.__file__).parent
    offenders = [
        f"{p.relative_to(pkg)}:{src[:m.start()].count(chr(10)) + 1}"
        for p in pkg.rglob("*.py")
        for src in [p.read_text()]
        for m in re.finditer(r"Window\s*\.\s*orderBy", src)
    ]
    assert not offenders, f"global ORDER BY windows found: {offenders}"


def test_quantize_int8_scan_shaped_no_shuffle(spark):
    """Quantization is a narrow per-row map: ZERO exchanges and the scan
    reads only (vec_id, embedding)."""
    # another test's persisted frame can be cache-substituted into this
    # plan (CacheManager matches logical subtrees), hiding the parquet
    # scan's ReadSchema — pin the uncached plan
    spark.catalog.clearCache()
    df = _run(spark, "embedding_quantize_int8")
    assert P.count_exchanges(df) == 0, P.executed_plan(df)
    assert set(P.scan_columns(df)) == {"vec_id", "embedding"}


def test_stratified_sample_single_shuffle(spark):
    """Per-stratum hash-order top-n = one shuffle on the stratum key."""
    df = _run(spark, "stratified_sample_docs")
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_window_time_range_single_shuffle_pruned(spark):
    """RANGE-frame window: one shuffle on user_id; scan pruned to the four
    referenced event columns."""
    df = _run(spark, "window_time_range")
    assert P.count_exchanges(df) == 1, P.executed_plan(df)
    assert set(P.scan_columns(df)) == {"event_id", "user_id", "ts", "value"}


def test_cc_round_no_cartesian(spark):
    """One CC round (edge join + doubling self-join + min-agg) must stay
    hash-join-shaped — no cartesian/nested-loop anywhere."""
    from pyspark.sql import Row

    from map_reduce_folds_spark.operators import graph as G

    edges = spark.createDataFrame(
        [Row(src=i % 7, dst=(i * 3) % 11) for i in range(40)],
        "src long, dst long",
    )
    out = G.connected_components(edges, "src", "dst")
    out.collect()
    assert P.count_cartesian_joins(out) == 0


def test_interval_join_bucketized_no_cartesian(spark):
    """The bucketized interval join must compile as an equi-join on
    (key, bucket) — no BroadcastNestedLoop/cartesian, which is what the
    raw theta form degenerates to without keys."""
    df = _run(spark, "interval_join_attribution")
    assert P.count_cartesian_joins(df) == 0, P.executed_plan(df)
    plan = P.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_overlap_join_bucketized_no_cartesian(spark):
    df = _run(spark, "overlap_join_incidents")
    assert P.count_cartesian_joins(df) == 0, P.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in P.executed_plan(df)


def test_cms_build_single_shuffle(spark):
    """Count-min build: explode d cells → ONE map-side-combinable count
    aggregation (one Exchange), like any word count."""
    from map_reduce_folds_spark.operators import sketches as K
    from map_reduce_folds_spark.operators import text as T
    from map_reduce_folds_spark.sources import load_table

    d = load_table(spark, SF_DIR, "documents")
    toks = d.select(F.explode(T.tokenize("text")).alias("tok"))
    cells = K.cms_cells(toks, "tok", d=4, w=256)
    cells.collect()
    assert P.count_exchanges(cells) == 1, P.executed_plan(cells)


def test_pca_projection_scan_shaped(spark):
    """pca_power_project is a zero-shuffle scan: the components are
    literals, so projecting needs no join and no aggregation."""
    from map_reduce_folds_spark.operators import similarity as S
    from map_reduce_folds_spark.sources import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    comps = [[1.0 if i % 8 == c else -0.5 for i in range(64)]
             for c in range(8)]
    p = S.pca_power_project(e, comps)
    p.collect()
    assert P.count_exchanges(p) == 0, P.executed_plan(p)


def test_scale_audit_flags_each_smell(spark):
    """scale_audit must flag cartesian joins, global-order windows,
    row-at-a-time UDFs, and shuffle-budget overruns — and return [] on a
    clean plan."""
    from pyspark.sql.types import LongType
    from pyspark.sql.window import Window

    a = spark.range(50)
    b = spark.range(50).withColumnRenamed("id", "id2")

    cart = a.crossJoin(b)
    cart.collect()
    assert any("cartesian" in s for s in P.scale_audit(cart))

    gw = a.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    gw.collect()
    assert any("global-order Window" in s for s in P.scale_audit(gw))

    slow = F.udf(lambda x: x + 1, LongType())
    udfp = a.select(slow("id").alias("y"))
    udfp.collect()
    assert any("BatchEvalPython" in s for s in P.scale_audit(udfp))

    shuffly = a.groupBy((F.col("id") % 3).alias("k")).count() \
        .groupBy("k").count()
    shuffly.collect()
    assert any("budget" in s for s in P.scale_audit(shuffly, max_shuffles=0))

    clean = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    clean.collect()
    assert P.scale_audit(clean, max_shuffles=3) == []

    # keyed windows are NOT flagged as global-order
    kw = a.withColumn("rn", F.row_number().over(
        Window.partitionBy((F.col("id") % 5)).orderBy("id")))
    kw.collect()
    assert not any("global-order" in s for s in P.scale_audit(kw))

    # partitioned-UNORDERED windows (pure partition aggregates) are not
    # global either — they render with only 2 bracket groups, same as the
    # order-only form, which fooled the old group-count heuristic (the
    # nb_classify argmax window false-positive); the rule now parses the
    # windowspecdefinition argument list
    pw = a.withColumn("mx", F.max("id").over(
        Window.partitionBy((F.col("id") % 5))))
    pw.collect()
    assert not any("global-order" in s for s in P.scale_audit(pw))

    # empty-partition NO-order windows are still single-task → flagged
    ew = a.withColumn("mx", F.max("id").over(Window.partitionBy()))
    ew.collect()
    assert any("global-order" in s for s in P.scale_audit(ew))


@pytest.mark.parametrize("name,max_shuffles", [
    ("dedup_lines", 6),            # digest agg+join, per-doc regroup, doc join
    ("events_sliding_window", 1),  # one shuffle: the windowed aggregation
    ("weighted_sample_docs", None),
    ("bloom_pruned_join", None),
    ("pagerank_event_types", None),
    ("pagerank_weighted", None),
    ("funnel_conversion", 3),      # steps-only fold + distinct-user
                                   # restore + depth histogram (r7: the
                                   # hot-user fix trades one extra
                                   # user-key shuffle for a bounded array)
    ("cohort_retention", None),
    ("negative_samples_docs", None),
])
def test_new_round6_ops_pass_scale_audit(spark, name, max_shuffles):
    """Every operator added this round must come out of the scale linter
    clean: no cartesian joins, no global-order windows, no row-at-a-time
    Python, codegen present, shuffle count within its budget."""
    df = _run(spark, name)
    assert P.scale_audit(df, max_shuffles=max_shuffles) == [], \
        P.executed_plan(df)


def test_weighted_sample_no_global_sort(spark):
    """Global weighted top-n must compile to TakeOrderedAndProject
    (per-partition heads + driver merge), never a full sort."""
    df = _run(spark, "weighted_sample_docs")
    p = P.executed_plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_bloom_prune_filters_fact_scan(spark):
    """The bloom membership predicate must sit on the fact side BEFORE the
    join (the whole point: never-matching rows stay in their partitions) —
    visible as getbit() inside a Filter in the physical plan."""
    df = _run(spark, "bloom_pruned_join")
    p = P.executed_plan(df)
    assert "getbit" in p, p
    assert P.count_cartesian_joins(df) == 0


def test_unigram_logprob_only_scalar_idiom_flagged(spark):
    """unigram_logprob carries exactly ONE audit finding: the one-row
    broadcast scalar crossJoin (the corpus-total idiom, cardinality 1 by
    construction — same accepted pattern as drift_psi).  Anything beyond
    that single known finding is a regression."""
    df = _run(spark, "unigram_logprob")
    findings = P.scale_audit(df)
    assert len(findings) <= 1, findings
    if findings:
        assert "cartesian" in findings[0]


def test_scd2_single_key_shuffle(spark):
    """SCD2: change detection, run aggregation, and the valid_to lead all
    partition on the same key — the whole build costs ONE Exchange."""
    df = _run(spark, "scd2_user_event_history")
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_resample_key_shuffles_only(spark):
    """Resample: bucket-last agg, span grid, and fill are all per-key —
    no single-partition global window anywhere; the sequence explode is
    the only row amplifier."""
    df = _run(spark, "resample_user_hourly")
    plan = P.executed_plan(df)
    assert "SinglePartition" not in plan, plan
    assert P.count_cartesian_joins(df) == 0


def test_record_linkage_no_cartesian(spark):
    """Blocked linkage: the self-join must be an equi-join on the block
    key (a cartesian would mean the blocking silently degenerated)."""
    df = _run(spark, "record_linkage_customers")
    assert P.count_cartesian_joins(df) == 0, P.executed_plan(df)


def test_pack_training_shards_no_global_sort(spark):
    """Shard packing: the prefix sum is the bucketed decomposition — no
    global-order window, no cartesian, no per-row Python (scale_audit
    clean; the plan's SinglePartition exchanges are the DESIGNED
    bounded-metadata aggregates over <= n_buckets rows)."""
    df = _run(spark, "pack_training_shards")
    findings = P.scale_audit(df)
    # allowed findings: the one-row broadcast scalar joins (stats/
    # offsets riding crossJoin(broadcast(one_row)) — the audit cannot
    # distinguish them from a real nested-loop by plan text), and the
    # r13 HOF rule firing on the per-bucket packing fold — a DOCUMENTED
    # acceptance: the fold's input is the bounded bucket relation (one
    # row per bucket, ≤ n_buckets), downstream of a linear offset
    # attach, not a candidate-proportional stream
    assert all("cartesian" in f or "JOIN-DERIVED" in f
               for f in findings), findings


def test_trend_window_shares_group_partitioning(spark):
    """OLS trend: the per-user min-anchor window and the sums groupBy
    hash-partition on the same key — one Exchange, not two."""
    df = _run(spark, "trend_per_user")
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_rolling_median_single_shuffle_pruned(spark):
    """Exact rolling median: ONE shuffle (the per-user window sort) and a
    scan pruned to the four referenced event columns — the collect_list
    frame must not force extra exchanges."""
    df = _run(spark, "rolling_median_user")
    assert P.count_exchanges(df) == 1, P.executed_plan(df)
    assert set(P.scan_columns(df)) == {"event_id", "user_id", "ts", "value"}


def test_cusum_single_shuffle(spark):
    """Closed-form CUSUM: running sum + running min + lag + final agg all
    ride ONE per-user sort; the terminal groupBy reuses the window's
    hash partitioning (no second exchange)."""
    df = _run(spark, "cusum_user_drift")
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_assoc_rules_broadcasts_frequency_sides(spark):
    """Association rules: the vocabulary-sized frequency/total relations
    must broadcast (no shuffle join against the pair counts) and the
    basket self-join must stay equi-shaped."""
    df = _run(spark, "assoc_rules_event_types")
    plan = P.executed_plan(df)
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan  # n_a, n_b
    # the 1-row total is legitimately a broadcast nested-loop (cross join
    # with a single row); anything more means a frequency join degenerated
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_incremental_merge_shuffles_delta_only(spark):
    """The state side of the incremental merge must not be re-aggregated:
    exactly one aggregate pair for the delta (partial+final) plus the
    state build in this self-contained query — pinned as 'no more
    exchanges than the state build + delta agg + merge join'."""
    df = _run(spark, "incremental_orders_agg")
    assert P.count_cartesian_joins(df) == 0
    # state agg (1 exchange), delta agg (1), full-outer merge join
    # repartitions both sides (2) = 4; anything above means an extra
    # unplanned shuffle crept in
    assert P.count_exchanges(df) <= 4, P.executed_plan(df)


def test_bucketed_groupby_no_shuffle(spark, tmp_path_factory):
    """Aggregation on the bucket column of a bucketed table must reuse
    the bucketing as its distribution — ZERO exchanges (the groupBy twin
    of the bucketed-join pin in test_sources; at 100 TB this is why
    fact tables bucket on their hottest aggregation key)."""
    from map_reduce_folds_spark import sources
    from map_reduce_folds_spark.sources import load_table

    import shutil

    o = load_table(spark, SF_DIR, "orders")
    name = "orders_bkt_agg_pin"
    # a prior pytest session's warehouse dir survives the metastore —
    # clear both (DROP alone misses an unregistered leftover location)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    try:
        sources.write_bucketed(o.select("o_custkey", "o_totalprice"),
                               name, ["o_custkey"], n_buckets=8)
        t = spark.table(name)
        agg = t.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
        agg.collect()
        assert P.count_exchanges(agg) == 0, P.executed_plan(agg)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)


def test_scale_audit_bucketed_join_rule(spark):
    """The fact-fact shuffle-join rule (round 12, promoting the measured
    q9 bucketed recipe from tools/bench_q9_bucketed.py to the API):

    * plain q9-shaped lineitem⋈orders with broadcast disabled → FLAGGED,
      recommending sources.write_bucketed when no layout exists and
      naming the layout when the catalog has one;
    * the same join over bucketed tables (Exchange-free) → clean;
    * a self-join of DERIVED relations (aggregate before the shuffle)
      → NOT flagged: no stored layout can pre-partition it."""
    from map_reduce_folds_spark import sources
    from map_reduce_folds_spark.sources import load_table

    import shutil

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity")
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority")
    names = ("li_bkt_audit_pin", "o_bkt_audit_pin")
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")
        shutil.rmtree(f"spark-warehouse/{n}", ignore_errors=True)
    # the registered q9_product_profit_bucketed (round 13) leaves its
    # write-once orderkey layouts in the session catalog; drop them so
    # the no-layout branch of this pin is actually exercised
    for t in [r.name for r in spark.catalog.listTables()
              if r.name.startswith(("li_bkt_q9_", "o_bkt_q9_"))]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold",
                             None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        plain = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority").agg(F.sum("l_quantity").alias("s"))
        plain.collect()
        f = P.scale_audit(plain)
        assert any("fact-fact shuffle join" in s
                   and "write_bucketed" in s for s in f), f
        sources.write_bucketed(li, names[0], ["l_orderkey"], n_buckets=8,
                               sort_cols=["l_orderkey"])
        sources.write_bucketed(o, names[1], ["o_orderkey"], n_buckets=8,
                               sort_cols=["o_orderkey"])
        f2 = P.scale_audit(plain)
        assert any("bucketed layout exists" in s
                   and names[0] in s for s in f2), f2
        bkt = spark.table(names[0]).join(
            spark.table(names[1]),
            F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority").agg(F.sum("l_quantity").alias("s"))
        bkt.collect()
        assert not any("fact-fact" in s for s in P.scale_audit(bkt)), \
            P.executed_plan(bkt)
        # derived-relation self-join: aggregate feeds both sides — the
        # dedup/LSH idiom must stay unflagged
        agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        der = agg.alias("a").join(agg.alias("b"), "l_orderkey")
        der.collect()
        assert not any("fact-fact" in s for s in P.scale_audit(der)), \
            P.executed_plan(der)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            shutil.rmtree(f"spark-warehouse/{n}", ignore_errors=True)


def test_scale_audit_fat_sort_rule(spark):
    """The fat-sort rule (round 12, encoding the r10 embedding-verify
    disk-filler): a SortExec over a JOIN-DERIVED relation carrying an
    array column is flagged; the same array column sorted straight off
    a base relation (the bounded inline-verify shape) is not."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        vecs = spark.range(2000).select(
            "id", F.array(F.col("id") * 1.0, F.col("id") * 2.0)
            .alias("vec"))
        ids = spark.range(2000).withColumnRenamed("id", "id2")
        # r10 shape: join-derived rows carrying vec feed ANOTHER
        # sort-merge join on a NEW key (a same-key second join inherits
        # the first SMJ's output order and needs no sort) → the join
        # result re-sorts with the array payload aboard
        derived = vecs.join(ids, vecs.id == ids.id2)
        second = derived.join(
            spark.range(97).withColumnRenamed("id", "id3"),
            (F.col("id2") % 97) == F.col("id3"))
        second.collect()
        hits = P.fat_sorts(second)
        assert "vec" in hits, P.executed_plan(second)
        assert any("JOIN-DERIVED" in s for s in P.scale_audit(second))
        # bounded shape: base relation with the array sorts for a join —
        # sort input is data-bounded, not candidate-bounded: clean
        bounded = vecs.join(ids, vecs.id == ids.id2)
        bounded.collect()
        assert P.fat_sorts(bounded) == [], P.executed_plan(bounded)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_bucketed_join_rule_skips_grouped_reduce_side(spark):
    """A grouped reduce (``GroupReduce`` runs as ``MapInArrow`` over a key
    shuffle) derives its relation: a shuffle join fed by it must not be
    reported as a bare-scan shuffle that bucketing could remove."""
    import pandas as pd

    from map_reduce_folds_spark.core import Assign, GroupReduce, MapReduce
    from map_reduce_folds_spark.sources import load_table

    def per_order(key, pdf):
        return pd.DataFrame([{"k": key[0], "n": len(pdf)}])

    g = MapReduce(
        assign=Assign(keys={"k": "l_orderkey"}, values={"v": "l_quantity"}),
        reduce=GroupReduce(per_order, schema="k bigint, n bigint"),
    ).run(load_table(spark, SF_DIR, "lineitem"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold",
                             None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        j = g.alias("a").join(g.alias("b"), "k")
        j.collect()
        plan = P.executed_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan and "MapInArrow" in plan, plan
    assert "k" not in P._bucketable_shuffle_joins(plan), plan


def test_sorted_neighborhood_no_cartesian(spark):
    """The SNB positional join must stay an equi-join: a condition mixing
    left and right columns (p + d = pb) degrades to CartesianProduct —
    measured 38 s vs 0.9 s at sf0.1 when this regressed during
    development."""
    df = _run(spark, "sorted_neighborhood_linkage")
    plan = P.executed_plan(df)
    assert plan.count("CartesianProduct") == 0, plan
    assert plan.count("BroadcastNestedLoopJoin") == 0, plan


def test_interarrival_hist_no_per_type_sort(spark):
    """interarrival_stats (round-10 histogram-refinement form): the full
    delta relation must never be sorted or exchanged with parallelism =
    |event_type|.  Pin: every Window/Sort over the big relation
    partitions by more than the bare group key (the LAG window uses
    (user_id, event_type); the pick window uses (event_type, __q) over
    broadcast-filtered residents), and the only Exchanges hashing on
    event_type alone carry pre-aggregated tiny relations (partial-agg
    outputs), never the raw deltas."""
    df = _run(spark, "interarrival_stats")
    plan = P.executed_plan(df)
    import re

    # windows partitioned by event_type ALONE would appear as
    # "partitionBy=[event_type...]" with no second key
    for m in re.finditer(r"Sort \[([^\]]*)\]", plan):
        spec = m.group(1)
        if "event_type" in spec and "user_id" not in spec:
            # the selection window sorts (event_type, __q) partitions —
            # must carry __q; a bare event_type sort is the serialized form
            assert "__q" in spec or "__b" in spec, plan


def test_no_cache_manager_leaks_across_cached_query_families(spark):
    """Every DataFrame.persist() in the package is paired with a
    try/finally unpersist (the iterative graph round driver behind CC,
    pagerank and BFS) or replaced by GC-cleaned lazy localCheckpoint.
    A persist() on a lazily-returned frame leaks a CacheManager entry
    that silently recomputes-into-cache on the consumer's first pass
    (the r8 bench artifact) — sweep the persist-using query families
    and pin the CacheManager empty."""
    spark.catalog.clearCache()
    for name in ("dedup_cc_clusters", "dedup_embedding_clusters",
                 "pagerank_event_types", "khop_doc_neighborhood",
                 "sketch_kmv_jaccard_sources", "dedup_savings_by_source"):
        QUERIES[name](spark, SF_DIR).collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "CacheManager entries leaked by a query"


def test_simhash_pairs_no_candidate_dedup_exchange(spark):
    """The canonical-combo filter (round 10) makes every pair unique by
    construction, so the SimHash pair plan must contain NO deduplicating
    aggregate over the candidate stream — the old distinct cost a full
    exchange of all candidate rows on every SimHash query."""
    import re

    df = _run(spark, "dedup_simhash_pairs")
    plan = P.executed_plan(df)
    dedup_aggs = [m.group(0) for m in
                  re.finditer(r"HashAggregate\(keys=\[[^\]]*id_a[^\]]*\]",
                              plan)]
    assert not dedup_aggs, dedup_aggs
    assert "hashpartitioning(id_a" not in plan, "candidate dedup exchange"


def test_bucketed_tables_on_quotes_names(spark):
    """_bucketed_tables_on backtick-quotes catalog names (round-13 ADVICE):
    a bucketed table whose name needs quoting (here the reserved word
    ``table`` — this catalog only admits [A-Za-z0-9_] names, so a
    reserved word is the quotable case that can exist) used to fail the
    DESCRIBE silently via the broad except, so an existing co-located
    layout went unreported by scale_audit."""
    from map_reduce_folds_spark import sources
    from map_reduce_folds_spark.plans import _bucketed_tables_on
    from map_reduce_folds_spark.sources import load_table

    import shutil

    name = "table"
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    try:
        o = load_table(spark, SF_DIR, "orders").select(
            "o_custkey", "o_totalprice")
        sources.write_bucketed(o, f"`{name}`", ["o_custkey"], n_buckets=4)
        hits = _bucketed_tables_on(spark, {"o_custkey"})
        assert any(name in h for h in hits), hits
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)


def test_hof_on_join_stream_rule(spark):
    """The round-13 HOF-on-candidates lint: a zip_with/aggregate dot
    product evaluated over a JOIN output is flagged (named node + HOF
    names, surfaced by scale_audit); the SAME expression over a base
    relation is NOT (bounded input — the broadcast-verify-cosine case,
    where the interpreted fold measured faster than Arrow transfer)."""
    a = spark.range(200).select(
        F.col("id").alias("k"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("va"))
    b = spark.range(200).select(
        F.col("id").alias("k"),
        F.array(F.lit(3.0), F.lit(4.0)).alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x).alias("dot")
    joined = a.join(b, "k").select(dot)
    joined.collect()
    hits = P.hof_on_join_stream(joined)
    assert hits and any("aggregate" in h and "zip_with" in h
                        for h in hits), hits
    audit = P.scale_audit(joined)
    assert any("JOIN-DERIVED stream" in s for s in audit), audit
    # same HOF on a base relation: clean (constant, not per-candidate)
    base = a.select(F.aggregate(
        "va", F.lit(0.0), lambda acc, x: acc + x).alias("s"))
    base.collect()
    assert P.hof_on_join_stream(base) == []
    assert not any("JOIN-DERIVED" in s for s in P.scale_audit(base))


def test_q9_bucketed_join_exchange_free(spark):
    """The registered bucketed q9 (round 13): the lineitem⋈orders
    fact-fact join reads bucket-sorted catalog tables, so the ONLY
    Exchange left is the tiny (nation, year) aggregate — and no Sort
    feeds the join.  Results match plain q9 exactly (decimal-exact
    revenue sum is order-free)."""
    import shutil

    # force a fresh write-once so the pin covers the materialize path too
    for t in [r.name for r in spark.catalog.listTables()
              if r.name.startswith(("li_bkt_q9_", "o_bkt_q9_"))]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    bkt = _run(spark, "q9_product_profit_bucketed")
    assert P.count_exchanges(bkt) == 1, P.executed_plan(bkt)
    plan = P.executed_plan(bkt)
    # bucket-sorted reads: no SortExec between scan and the fact join
    # (at sf0.001 AQE may broadcast-convert the tiny fact join — the
    # pinned property is exchange- and sort-freedom, not the operator)
    import re

    assert not re.search(r"Sort \[l_orderkey", plan), plan
    got = sorted(map(tuple, bkt.collect()))
    want = sorted(map(tuple, _run(spark, "q9_product_profit").collect()))
    assert got == want
    # second run: write-once — tables reused, still exchange-free
    again = _run(spark, "q9_product_profit_bucketed")
    assert P.count_exchanges(again) == 1


def test_winnow_fingerprints_single_exchange(spark):
    """Winnowing selection = two bounded window frames over ONE
    hash-partition-by-doc + sort-by-position pass: exactly 1 Exchange and
    1 Sort feed both Window operators (Catalyst reuses the sort — the
    second frame orders identically), and gram hashing stays codegen'd
    row-local (no BatchEvalPython).  Two sorts or two exchanges would
    double the operator's only shuffle at corpus scale."""
    from map_reduce_folds_spark.operators import text as T
    from map_reduce_folds_spark.sources import load_table
    import re

    d = load_table(spark, SF_DIR, "documents")
    fp = T.winnow_fingerprints(d)
    fp.collect()
    plan = P.executed_plan(fp)
    assert len(re.findall(r"Exchange", plan)) == 1, plan
    assert len(re.findall(r"\bSort\b", plan)) == 1, plan
    assert plan.count("Window") >= 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_curation_bucketed_layout_cuts_exchanges(spark):
    """The registered doc_id-bucketed curation pipeline (round 13, the
    scale_audit recommendation made first-class): with auto-broadcast
    OFF — the 100 TB regime where gate outputs outgrow a broadcast and
    every doc_id gate join goes SortMergeJoin — the bucketed layout
    compiles strictly fewer Exchanges than the raw-parquet registration
    and never Sorts the wide documents side on doc_id (bucket-sorted
    reads).  Results are bitwise-identical either way (same oracle: a
    layout must never change values)."""
    import re
    import shutil

    # force a fresh write-once so the pin covers the materialize path too
    for t in [r.name for r in spark.catalog.listTables()
              if r.name.startswith("docs_bkt_cur_")]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bkt = _run(spark, "pipeline_curation_v3_bucketed")
        plain = _run(spark, "pipeline_curation_v3")
        # plan comparison on the boundary-free build: the registered
        # queries cut the chain at lazy localCheckpoints (r14
        # shared-stage fix), whose subplans compile to RDDs at build
        # time and so no longer appear in one explain string; the gate
        # joins whose layout this test pins are identical either way
        from map_reduce_folds_spark.queries.llm import _curation_v3_from
        from map_reduce_folds_spark.sources import load_table

        tbl = next(r.name for r in spark.catalog.listTables()
                   if r.name.startswith("docs_bkt_cur_"))
        bkt_shape = _curation_v3_from(spark.table(tbl), boundaries=False)
        plain_shape = _curation_v3_from(load_table(spark, SF_DIR,
                                                   "documents"),
                                        boundaries=False)
        n_bkt = P.count_exchanges(bkt_shape)
        n_plain = P.count_exchanges(plain_shape)
        assert n_bkt < n_plain, (n_bkt, n_plain)
        # bucket-sorted reads: no SMJ Sort on the bucketed table's side
        # (the catalog scan node names the table; a doc_id Sort directly
        # over it would mean the layout was ignored)
        plan = P.executed_plan(bkt_shape)
        assert not re.search(
            r"Sort \[doc_id[^\n]*\n[^\n]*docs_bkt_cur_", plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    got = sorted(map(tuple, bkt.collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want
    # second run: write-once — the catalog table is reused
    again = _run(spark, "pipeline_curation_v3_bucketed")
    assert sorted(map(tuple, again.collect())) == got


def test_scale_audit_codegen_rule_needs_final_plan(spark):
    """An UNEXECUTED AdaptiveSparkPlan prints no codegen markers, so the
    no-codegen rule must not fire there (round-13 session-5 false
    positive): pre-run audits get the explicit 'skipped' note instead,
    and after materialization a codegen'd plan gets neither finding."""
    df = QUERIES["chao1_vocab_by_source"](spark, SF_DIR)
    pre = P.scale_audit(df)
    assert not any("no whole-stage codegen" in f for f in pre), pre
    assert any("codegen rule skipped" in f for f in pre), pre
    df.collect()
    post = P.scale_audit(df)
    assert not any("codegen" in f for f in post), post


def test_hybrid_rrf_multiquery_windows_partition_by_query(spark):
    """The multi-query RRF row must exercise the PER-QUERY partitioned
    rank path (the single-query row's windows partition by a constant —
    the r13 caveat): every window in the executed plan partitions by
    query_id, and no global-order window survives."""
    df = _run(spark, "hybrid_rrf_multiquery")
    plan = P.executed_plan(df)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan  # the rank windows must exist
    for s in specs:
        assert "query_id" in s.split(",")[0], (s, plan)
    assert not any("global-order" in f for f in P.scale_audit(df)), \
        P.scale_audit(df)


def test_rfm_single_hist_pipeline(spark):
    """rfm's nine quartile boundaries come from ONE melted
    group_percentiles_hist pass (r14 fuse): the pre-fuse form replayed
    the full stats/bucket/pick DAG once per metric (3 cum windows +
    3 pick windows and a 3-deep crossJoin of boundary rows).  Pin the
    fused shape: exactly one cumulative window and one pick window in
    the physical plan — a third Window node means a pipeline replica
    crept back."""
    df = _run(spark, "rfm_customer_segments")
    df.collect()
    plan = P.executed_plan(df)
    import re

    assert len(re.findall(r"\bWindow\b", plan)) == 2, plan
