"""Physical-plan audits: the 100 TB design assertions.

These tests pin the *plan shape*, not results: filters and column pruning
must reach the parquet scan, small dims must broadcast, aggregations must
be partial+final, top-k windows must use WindowGroupLimit (map-side k
pruning), and hot expressions must stay in WholeStageCodegen. A plan
regression here is a scale bug even when results stay correct.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod


def plan_of(df) -> str:
    # same JVM helper DataFrame.explain() uses, but returning the string
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_filter_and_column_pushdown(spark, sf_dir, qs):
    plan = plan_of(qs["filter_project"](spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,25.0)" in plan
    # column pruning: only the referenced columns in ReadSchema, not all 16
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema
    assert read_schema.count(",") <= 6  # <=7 columns read of lineitem's 16


def test_star_join_broadcasts_dims(spark, sf_dir, qs):
    plan = plan_of(qs["multi_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 2


def test_group_agg_is_partial_final(spark, sf_dir, qs):
    plan = plan_of(qs["group_agg"](spark, sf_dir))
    assert "partial_" in plan  # map-side combine before the shuffle
    assert "HashAggregate" in plan


def test_topk_uses_window_group_limit(spark, sf_dir, qs):
    plan = plan_of(qs["topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan  # map-side top-k pruning, Spark 3.5+


def test_semi_join_stays_semi(spark, sf_dir, qs):
    plan = plan_of(qs["semi_join"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_scan_filter_codegen(spark, sf_dir, qs):
    # AQE defers codegen planning until execution; disable it so the
    # static plan exposes the WholeStageCodegen spans we want to pin.
    # Pre-warm the table cache first: a load_table cache miss re-applies
    # RUNTIME_CONFS, which would silently switch AQE back on.
    from keystone_spark.sources import load_table

    load_table(spark, "lineitem", sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = qs["filter_project"](spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
        n = int(plan.split("Found ")[1].split(" WholeStageCodegen")[0])
        assert n >= 1, plan[:500]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_range_join_is_hash_not_nested_loop(spark, sf_dir, qs):
    """The equi-conjunct on user_id must make this a hash/SMJ join with a
    range post-filter — BroadcastNestedLoopJoin here would be O(n^2)."""
    plan = plan_of(qs["range_join"](spark, sf_dir))
    assert "NestedLoop" not in plan, plan[:1500]
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_cosine_topk_prunes_before_shuffle(spark, sf_dir, qs):
    """The gemm stage emits only partition-local top-k: the exchange input
    must be the mapInPandas output, not a full cross product."""
    plan = plan_of(qs["cosine_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_loader_applies_events_normalization(spark, sf_dir):
    """ts must normalize to session-tz TIMESTAMP (watermark-compatible)
    regardless of how the parquet NANOS column arrives (bigint under
    nanosAsLong, TIMESTAMP_NTZ on PySpark 4.1.2), and the normalization
    must not shift epoch values — pinned against DuckDB's read of the
    same file."""
    import os

    import duckdb

    from keystone_spark.sources import load_table

    ev = load_table(spark, "events", sf_dir)
    assert dict(ev.dtypes)["ts"] == "timestamp"

    got = ev.select(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
        F.count("*").alias("n"),
    ).first()
    want = duckdb.sql(
        "SELECT min(floor(epoch(ts)))::BIGINT, max(floor(epoch(ts)))::BIGINT, count(*) "
        f"FROM read_parquet('{os.path.join(sf_dir, 'events.parquet')}')"
    ).fetchone()
    assert (got["lo"], got["hi"], got["n"]) == want


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located join: orders and customer bucketed on the join key must
    sort-merge-join with zero Exchange in the final plan."""
    from keystone_spark.sources import load_table
    from keystone_spark.sources.tables import read_bucketed, write_bucketed

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_acctbal")
    write_bucketed(orders, "orders_b", ["o_custkey"], 8, str(tmp_path / "ob"))
    write_bucketed(cust, "cust_b", ["c_custkey"], 8, str(tmp_path / "cb"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = read_bucketed(spark, "orders_b").join(
            read_bucketed(spark, "cust_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        assert j.count() > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_q6_pushes_every_predicate(spark, sf_dir, qs):
    """revenue_predicate (Q6 shape): all four filters reach the scan, no
    shuffle before the partial agg."""
    plan = plan_of(qs["revenue_predicate"](spark, sf_dir))
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert "HashAggregate" in plan


def test_shipping_priority_broadcasts_customer(spark, sf_dir, qs):
    plan = plan_of(qs["shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # limit 10 never does a full sort


def test_exists_subquery_is_semi_join(spark, sf_dir, qs):
    plan = plan_of(qs["exists_subquery"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_token_packing_single_window_exchange(spark, sf_dir, qs):
    """Sequence packing is one window over one shuffle — the whole packing
    decision costs a single exchange on the partition key."""
    import re

    plan = plan_of(qs["token_packing"](spark, sf_dir))
    assert plan.count("Window") >= 1
    # unique plan-node ids: one exchange for the window partition plus the
    # final orderBy's (formatted explain prints each node twice)
    n_ex = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    assert n_ex <= 2, plan[:1200]


def test_word_freq_encoder_limits_before_rank(spark, sf_dir, qs):
    """Top-100 vocab selection must be TakeOrderedAndProject (partition-local
    top-k + tiny merge); the rank window may only ever see those 100 rows.
    The unpartitioned-window-over-full-vocab shape is a driver-killer at
    100 TB vocabularies (VERDICT r1 #2)."""
    plan = plan_of(qs["word_freq_encoder"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    # the Window node must sit ABOVE the global limit, i.e. the plan orders
    # scan -> agg -> TakeOrdered -> window, never window over the raw agg
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), plan[:1500]


def test_disjunctive_pred_stays_hash_join(spark, sf_dir, qs):
    """TPC-H Q19's OR-of-clauses must remain an equi hash join on partkey
    with the disjunction as a filter — a BNLJ/cartesian here is the
    classic planner failure and a 100 TB disaster."""
    plan = plan_of(qs["disjunctive_pred"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_returned_items_pushdown_and_broadcast(spark, sf_dir, qs):
    """Q10 shape: returnflag + date predicates reach the scans; nation
    broadcasts; no sort-merge join needed at dim sizes."""
    plan = plan_of(qs["returned_items"](spark, sf_dir))
    assert "EqualTo(l_returnflag,R)" in plan
    assert any("o_orderdate" in l for l in plan.splitlines()
               if "PushedFilters" in l)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts


def test_large_orders_partial_agg(spark, sf_dir, qs):
    """Q18 shape: the HAVING aggregation must be partial+final (map-side
    combine before the shuffle on l_orderkey)."""
    plan = plan_of(qs["large_orders"](spark, sf_dir))
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan


def test_local_supplier_volume_broadcasts_and_pushes(spark, sf_dir, qs):
    """Q5 shape: the date range reaches the orders scan; nation and region
    broadcast; no cartesian from the two-column supplier join condition."""
    plan = plan_of(qs["local_supplier_volume"](spark, sf_dir))
    assert any("o_orderdate" in l for l in plan.splitlines()
               if "PushedFilters" in l)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_waiting_suppliers_single_lineitem_scan(spark, sf_dir, qs):
    """Q21 shape, window rewrite: lineitem must be scanned ONCE (the
    EXISTS/NOT-EXISTS translation scans it three times) and no
    nested-loop join may appear for the inequality side-conditions."""
    plan = plan_of(qs["waiting_suppliers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_order_distribution_preserves_outer_join(spark, sf_dir, qs):
    """Q13 shape: the priority predicate must stay on the join's right
    side (LeftOuter survives); both aggregations partial+final."""
    plan = plan_of(qs["order_distribution"](spark, sf_dir))
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4  # two aggs x partial+final


def test_ohlc_single_aggregation_exchange(spark, sf_dir, qs):
    """OHLC bars: min_by/max_by ride the SAME hash aggregation as
    high/low — one shuffle for the groupBy (plus the final sort), no
    Window node, and no SortAggregate fallback (the ordering key must
    stay atomic; a struct key would force sort-based aggregation)."""
    import re

    plan = plan_of(qs["ohlc_rollup"](spark, sf_dir))
    # formatted plans print each node twice (tree + detail) — count nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert "partial_min_by" in plan  # map-side combine for open/close too


def test_gap_fill_generates_grid_without_shuffle(spark, sf_dir, qs):
    """Gap fill: the hourly grid comes from sequence+explode (Generate
    node, JVM-side fan-out) — no cartesian, and the filter reaches the
    events scan."""
    plan = plan_of(qs["gap_fill"](spark, sf_dir))
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert any("user_id" in l for l in plan.splitlines()
               if "PushedFilters" in l)


def test_new_tpch_shapes_plan_quality(spark, sf_dir, qs):
    """Round-3 shapes keep the plans you'd want at 100x: broadcast on
    every small side, predicate pushdown on filtered scans, and no
    unbounded nested-loop joins (the only BNLJ allowed is the 1-row
    scalar-threshold broadcast)."""
    p = plan_of(qs["important_stock"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "LessThan(s_nationkey,12)" in p  # supplier filter reaches the scan
    assert "CartesianProduct" not in p

    p = plan_of(qs["supplier_part_counts"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p

    import re

    p = plan_of(qs["excess_shipments"](spark, sf_dir))
    assert "LeftSemi" in p
    # unique plan-node ids (formatted explain prints nodes twice):
    # only the 1-row scalar-threshold broadcast may nested-loop
    n_bnlj = len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p)))
    assert n_bnlj <= 1, p[:1500]
    assert "CartesianProduct" not in p


def test_pq_topk_plan_prunes_before_shuffle(spark, sf_dir, qs):
    """PQ: ADC candidates must come from the Arrow kernel (MapInPandas),
    bounded per partition — never a cross product of corpus x probes."""
    plan = plan_of(qs["pq_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_completions_plan(spark, sf_dir, qs):
    """Funnel chain: equi-joins on user_id only (the time condition is a
    post-join filter), partial+final aggs at every stage."""
    plan = plan_of(qs["funnel_completions"](spark, sf_dir))
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_smj_probe_side(spark, sf_dir):
    """With a selective filter on one side of a shuffle join, the engine
    defaults must inject a runtime bloom filter into the probe side —
    the pre-shuffle row pruning that matters at 100 TB (broadcast joins
    don't need it, so force SMJ to expose the path)."""
    from keystone_spark.sources import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", "0",
    )
    try:
        o = load_table(spark, "orders", sf_dir).where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, "lineitem", sf_dir)
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:1500]
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_scd2_single_shuffle(spark, sf_dir, qs):
    """Both SCD2 windows share the user_id partitioning: one exchange for
    the construction (plus the final presentation orderBy)."""
    import re

    plan = plan_of(qs["scd2_intervals"](spark, sf_dir))
    # 2 = the shared user_id hash partition + the final presentation sort
    n_ex = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    assert n_ex == 2, plan[:1200]
    assert len(set(re.findall(r"\((\d+)\) Window", plan))) == 2


def test_contamination_broadcast_semi_filter(spark, sf_dir, qs):
    """Decontamination must be a broadcast LEFT SEMI against the tiny
    benchmark gram set — a sort-merge here would shuffle the whole
    corpus's gram hashes at 100 TB."""
    plan = plan_of(qs["contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_pii_and_repetition_stay_codegen(spark, sf_dir, qs):
    """The curation scrub/score passes are map-only scans: zero Python
    stages, and repetition adds no shuffle beyond its output sort."""
    for name in ("pii_redact", "repetition_signals"):
        plan = plan_of(qs[name](spark, sf_dir))
        assert "EvalPython" not in plan, name
    import re

    rep = plan_of(qs["repetition_signals"](spark, sf_dir))
    # unique plan-node ids (formatted explain prints nodes twice):
    # orderBy's range partition + the ensure_parallelism round-robin
    # re-spread of the single-split fixture scan (no-op at scale)
    assert len(set(re.findall(r"\((\d+)\) Exchange", rep))) <= 2, rep[:1200]


def test_line_dedup_broadcast_anti_and_partial_agg(spark, sf_dir, qs):
    """The common-line set must broadcast (LEFT ANTI) — a sort-merge anti
    would shuffle every line of a 100 TB corpus — and the line-frequency
    count-distinct must have a partial (map-side) aggregation."""
    plan = plan_of(qs["line_dedup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_" in plan


def test_cdc_upsert_broadcast_anti(spark, sf_dir, qs):
    """The snapshot-side scan must be filtered by a BROADCAST anti join
    on the changelog keys — one base scan + map-side filter."""
    plan = plan_of(qs["cdc_upsert"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_lm_score_model_joins_broadcast(spark, sf_dir, qs):
    """Both LM model tables (bigram + unigram counts) broadcast onto the
    exploded doc bigrams; no Python stage anywhere in the scoring path."""
    plan = plan_of(qs["lm_score"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_gopher_rules_stays_codegen_single_scan(spark, sf_dir, qs):
    """The whole 7-rule bundle is one codegen map-only scan: no Python,
    no join, no aggregation exchange (orderBy's range partition only)."""
    plan = plan_of(qs["gopher_rules"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # orderBy range partition only


def test_winsorized_stats_broadcast_fences(spark, sf_dir, qs):
    """Fence table broadcasts back; the big side is scanned, not sorted."""
    plan = plan_of(qs["winsorized_stats"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_broadcasts_queries_and_prunes_topk(spark, sf_dir, qs):
    """The query-term side must broadcast onto the postings (never a
    sort-merge of the corpus against a handful of queries) and the
    per-query top-k must prune map-side (WindowGroupLimit)."""
    plan = plan_of(qs["bm25_search"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan


def test_binned_range_is_hash_join_not_bnlj(spark, sf_dir, qs):
    """The whole point of the bin trick: a BETWEEN join must become a
    hash join on the bin key — never a nested loop or cartesian."""
    plan = plan_of(qs["binned_range"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def _global_window_nodes(df):
    """Window/WindowGroupLimit nodes with an EMPTY partitionSpec in the
    optimized logical plan — the single-reducer global-sort shape."""
    found = []

    def walk(node):
        if node.nodeName() in ("Window", "WindowGroupLimit"):
            if node.partitionSpec().isEmpty():
                found.append(node.nodeName())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


# Queries ALLOWED to carry an unpartitioned Window, each with the bound
# that keeps it off the 100 TB kill-list. Exact-match contract: an entry
# whose query stops using a global window must be removed from here.
GLOBAL_WINDOW_ALLOWLIST = {
    # one row per month — input cardinality is the calendar, not the data
    "monthly_trend": "month-cardinality series after the monthly agg",
    # window sits ABOVE limit(100) (plan order pinned separately below)
    "zipf_curve": "rank over the top-100 token slice only",
    "word_freq_encoder": "rank over TakeOrderedAndProject top-100 vocab",
    # rank over the token-VOCABULARY table (bounded-vocab contract,
    # operators/nlp.py:284), broadcast afterwards — never the corpus;
    # appears twice in the plan because the prefix side is self-joined
    "jaccard_prefix_pairs": "doc-frequency rank over the bounded vocab",
    # r7: rank/cumsum windows sit ABOVE limit(top_k) — 10/15-row slices
    "key_skew_profile": "rank+running-share over the top-10 key slice",
    "top_paths": "rank over the top-15 path slice after limit",
    # r15: token_budget_select's boundary-bucket window is now the
    # two-phase range-shuffle prefix sum (partitioned by __pid) — no
    # allowlist entry needed anymore
}


def test_no_global_window_over_unbounded_input(spark, sf_dir, qs):
    """VERDICT r5 #6: sweep EVERY declared query's optimized plan and
    fail any unpartitioned Window/WindowGroupLimit outside the
    documented allowlist. This is the regression class ranked_series
    exists to prevent (a global-sort funnel through one reducer); the
    three r4 offenders plus equidepth_hist are now rewired, and this
    pin keeps the class from re-entering silently."""
    offenders = {}
    allowed_seen = set()
    from concurrent.futures import ThreadPoolExecutor

    from keystone_spark.caches import release

    def nodes(item):
        # building a query registers its operator caches; release them so
        # a later call that builds the same plan owns its own
        name, fn = item
        df = fn(spark, sf_dir)
        found = _global_window_nodes(df)
        release(df)
        return name, found

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(nodes, qs.items()))
    for name, gw in results:
        if not gw:
            continue
        if name in GLOBAL_WINDOW_ALLOWLIST:
            allowed_seen.add(name)
        else:
            offenders[name] = gw
    assert not offenders, (
        f"unpartitioned Window over unbounded input in {offenders}; "
        "rewire onto operators/stats.ranked_series (or document a bound "
        "in GLOBAL_WINDOW_ALLOWLIST)"
    )
    # exact-match: stale allowlist entries must be pruned so the bound
    # documentation can't rot
    assert allowed_seen == set(GLOBAL_WINDOW_ALLOWLIST), (
        f"allowlist stale: unused entries "
        f"{set(GLOBAL_WINDOW_ALLOWLIST) - allowed_seen}"
    )


def test_equidepth_hist_no_single_partition_sort(spark, sf_dir, qs):
    """equidepth_hist (r5's one `weak` perf item) must keep the
    ranked_series shape: no global NTILE window anywhere in the plan."""
    df = qs["equidepth_hist"](spark, sf_dir)
    assert _global_window_nodes(df) == []
    plan = plan_of(df)
    assert "ntile" not in plan.lower()


_HAMMING_LAYOUTS = {
    "single4": dict(n_bands=4, max_hamming=3),
    "clique16x3": dict(n_bands=16, max_hamming=12, band_cliques=3),
}


@pytest.fixture(
    scope="module",
    params=[(lay, cap) for lay in _HAMMING_LAYOUTS for cap in (256, None)],
    ids=lambda p: f"{p[0]}-{'uncapped' if p[1] is None else f'cap{p[1]}'}",
)
def hamming_plan(request, spark, sf_dir):
    """One ``simhash_candidates`` plan per (layout, bucket_cap): the
    number of Spark jobs that BUILDING it ran (counted in a job group),
    its initial plan, and its final adaptive plan after a collect (the
    text before ``Initial Plan``)."""
    from keystone_spark.operators.dedup import simhash_candidates
    from keystone_spark.sources import load_table

    layout, cap = request.param
    kw = _HAMMING_LAYOUTS[layout]
    docs = load_table(spark, "documents", sf_dir)
    sc = spark.sparkContext
    group = f"hamming-plan-{layout}-{cap}"
    sc.setJobGroup(group, group)
    try:
        out = simhash_candidates(docs, bucket_cap=cap, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    initial = plan_of(out)
    out.collect()
    return {
        "max_hamming": kw["max_hamming"],
        "build_jobs": build_jobs,
        "initial": initial,
        "final": plan_of(out).split("Initial Plan")[0],
    }


def test_hamming_predicate_inside_band_join(hamming_plan):
    """The 64-bit banded kernel (simhash_pairs / phash_neardup) must
    carry the bit_count Hamming filter INSIDE the band join condition —
    evaluated per joined row before any downstream exchange — not as a
    post-join filter over the full collision volume (the r8 JIT-cliff
    fix, pinned per VERDICT r8 #9), for every layout and cap."""
    cond = [
        l for l in hamming_plan["initial"].splitlines()
        if "Join condition:" in l
    ]
    assert any(
        "bit_count" in c and f"<= {hamming_plan['max_hamming']}" in c
        for c in cond
    ), cond


def test_capped_clique_plan_reuses_the_signature_exchange(hamming_plan):
    """Every layout and cap builds one LAZY plan: constructing it runs
    no Spark job, and both sides of the band self-join read ONE run of
    the Arrow signature kernel through exchange reuse. Counted on the
    final adaptive plan, since the initial plan still lists the kernel
    under each join side."""
    assert hamming_plan["build_jobs"] == 0
    final = hamming_plan["final"]
    assert final.count("MapInPandas") == 1, final[:4000]
    assert final.count("ReusedExchange") >= 1, final[:4000]


def cache_id(df) -> int:
    """Identity of the cache ``df``'s plan is stored in."""
    spark = df.sparkSession
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    return spark._jvm.System.identityHashCode(
        cached.get().cachedRepresentation().cacheBuilder()
    )


def final_plan_nodes(df, names: dict | None = None) -> list[tuple[str, str, list[str]]]:
    """(plan, node name, output column names) for every node of ``df``'s
    final adaptive plan, read after an action. Query stages are entered,
    a reused exchange is one node and is not entered, and each distinct
    cached relation's plan is entered once however often it is scanned,
    under the plan name ``names`` gives its ``cache_id`` (``other``
    otherwise). A scan of a cache is named ``scan:<plan name>``."""
    jvm = df.sparkSession._jvm
    names = names or {}
    entered: set = set()
    out = []

    def walk(node, plan):
        name = node.nodeName()
        cols, it = [], node.output().iterator()
        while it.hasNext():
            cols.append(it.next().name())
        if name == "InMemoryTableScan":
            rel = node.relation()
            key = jvm.System.identityHashCode(rel.cacheBuilder())
            out.append((plan, f"scan:{names.get(key, 'other')}", cols))
            if key not in entered:
                entered.add(key)
                walk(rel.cachedPlan(), names.get(key, "other"))
            return
        out.append((plan, name, cols))
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), plan)
        elif name.endswith("QueryStage"):
            walk(node.plan(), plan)
        else:
            it = node.children().iterator()
            while it.hasNext():
                walk(it.next(), plan)

    walk(df._jdf.queryExecution().executedPlan(), "main")
    return out


@pytest.fixture(scope="module")
def minhash_plan(spark, sf_dir):
    """One ``minhash_dedup`` call on the documents fixture: the Spark
    jobs that BUILDING it ran and that its collect ran, its final plan's
    nodes (the caches it owns named ``op0``, ``op1``, ...) and the
    length of the final plan string after the collect."""
    from keystone_spark.caches import _owned, release
    from keystone_spark.operators.dedup import minhash_dedup
    from keystone_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("minhash-plan", "minhash-plan")
    try:
        out = minhash_dedup(docs, n_hashes=64, n_bands=16)
        build_jobs = len(sc.statusTracker().getJobIdsForGroup("minhash-plan"))
        sc.setJobGroup("minhash-run", "minhash-run")
        out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    run_jobs = len(sc.statusTracker().getJobIdsForGroup("minhash-run"))
    owned = {cache_id(c): f"op{k}" for k, c in enumerate(_owned(out))}
    plan = {
        "build_jobs": build_jobs,
        "run_jobs": run_jobs,
        "n_owned": len(owned),
        "nodes": final_plan_nodes(out, owned),
        "plan_chars": len(out._jdf.queryExecution().executedPlan().toString()),
    }
    release(out)
    return plan


def test_minhash_dedup_is_one_flat_plan(minhash_plan):
    """``minhash_dedup`` builds lazily (no construction job), runs the
    Arrow signature kernel once (one MapInPandas node, inside its
    signature cache) and owns that one cache, which reads no other
    cache of the operator: the exact verify reads its shingle hashes
    from it. Nested caches made the final plan string tens of MB at
    1,000 documents, rebuilt on every adaptive plan update; the bound
    sits at about 1.7 times the plan's size on this fixture (0.14 MB,
    against 1.08 MB for a second, shingle-table cache above it)."""
    nodes = minhash_plan["nodes"]
    assert minhash_plan["build_jobs"] == 0
    assert [n for _, n, _ in nodes].count("MapInPandas") == 1
    assert minhash_plan["n_owned"] == 1
    nested = {(p, n) for p, n, _ in nodes
              if p.startswith("op") and n.startswith("scan:op")}
    assert not nested, nested
    assert minhash_plan["plan_chars"] < 250_000, minhash_plan["plan_chars"]


def test_minhash_dedup_run_jobs(minhash_plan):
    """The fixed Spark cost of one ``minhash_dedup`` call, in jobs its
    collect runs on the fixture: 23 with the one signature cache,
    against 33 when verify re-shingled the text into a second cache.
    Adaptive execution may add a job or two when it re-plans a join."""
    assert minhash_plan["run_jobs"] <= 26, minhash_plan["run_jobs"]


def test_minhash_band_join_reads_the_guard_exchange(minhash_plan):
    """The bucket guard's window shuffles the banded rows on (band,
    bucket), the partitioning the self-join needs, so the join adds no
    shuffle of its own: each plan that runs the band join holds exactly
    two (band, bucket) exchanges, one per join side, counting a reused
    one. Spark 4.1's adaptive execution does not reuse one exchange for
    both sides here: each scan of the signature cache becomes its own
    table-cache query stage, whose canonical form keeps its stage id,
    so the two sides never compare equal. Both sides still read the one
    run of the kernel through that cache."""
    band = {}
    for plan, name, cols in minhash_plan["nodes"]:
        if "bucket" in cols and name in ("Exchange", "ReusedExchange"):
            band.setdefault(plan, []).append(name)
    assert band, "no (band, bucket) exchange in the final plan"
    for plan, names in band.items():
        assert len(names) == 2, (plan, names)


def test_phash_neardup_runs_the_dct_kernel_once(spark, sf_dir, qs):
    """``phash_neardup`` counts its images on the unhashed input, so
    the phash64 Arrow kernel runs once, under the band join: one
    MapInPandas node in the final adaptive plan."""
    df = qs["phash_neardup"](spark, sf_dir)
    df.collect()
    names = [n for _, n, _ in final_plan_nodes(df)]
    assert names.count("MapInPandas") == 1, names
