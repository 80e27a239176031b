"""Physical-plan regression tests: the properties that matter at 100 TB
(SURVEY.md §4) must be visible in the optimized plan, not assumed —
predicate pushdown to the parquet scan, column pruning, broadcast joins for
dimensions, and map-side partial aggregation."""

import pyspark.sql.functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushed_to_parquet_scan(spark):
    df = E.queries()["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    """q1 touches 7 lineitem columns; the scan must not read the wide rest
    (l_comment is the canary)."""
    df = E.queries()["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_dimension_join_is_broadcast(spark):
    """top_customers_per_nation joins the tiny nation table — must be a
    BroadcastHashJoin, never a shuffle-both-sides sort-merge."""
    df = E.queries()["top_customers_per_nation"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_aggregation_has_partial_final_split(spark):
    """events_hourly must combine map-side (partial_count/partial HashAggregate)
    before the exchange — the shuffle carries groups, not rows."""
    df = E.queries()["events_hourly"](spark, SF)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    aggpos = plan.find("HashAggregate")
    assert aggpos != -1


def test_scorers_stay_jvm_side(spark):
    """The array-expression scorers are pure projections over the scan —
    JVM expression trees (higher-order functions), never Python eval nodes,
    and no exchange besides the final presentation sort."""
    df = E.queries()["classification_entropy_scores"](spark, SF)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count(") Exchange") <= 1  # only the orderBy("vec_id")
    assert "Scan parquet" in plan and "Project" in plan


def test_knn_has_no_cartesian_product(spark):
    """The shipped kNN detectors use LSH-bucketed candidates — the plan must
    contain an equi-join on (band, key) and NEVER a CartesianProduct /
    BroadcastNestedLoopJoin (the r1 crossJoin scale-killer)."""
    for q in ("knn_flagger_flags", "knn_entropy_scores", "knn_softmax_entropy_scores"):
        plan = _plan(E.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_embedding_dedup_is_bucket_join(spark):
    """dedup_embedding_cosine: banded bucket self-join, no cross product,
    no driver-side collect (the plan is a single lazy DataFrame)."""
    plan = _plan(E.queries()["dedup_embedding_cosine"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_is_shuffle_free(spark):
    """dedup_simhash is per-row math — the only exchange allowed is the
    presentation orderBy (r1 exploded 60× rows through two groupBys). The
    fold runs as ONE Arrow-vectorized UDF (the Catalyst HOF chain
    evaluates interpreted at tokens×60 lambdas/row — r3 measured it 20×
    slower); row-at-a-time Python stays banned."""
    import re

    plan = _plan(E.queries()["dedup_simhash"](spark, SF))
    assert plan.count(") Exchange") <= 1
    assert "BatchEvalPython" not in plan
    # formatted explain names each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) <= 1


def test_zorder_scan_prunes_files(spark, tmp_path):
    """After Z-order clustering, a phash-range scan must prune whole files
    via manifest min/max stats before Spark ever lists them."""
    from nessie_spark import synth
    from nessie_spark.lakehouse import jobs, scan as scan_mod, zorder
    from nessie_spark.lakehouse.table import Table

    root = str(tmp_path / "images")
    t = jobs.create_images_table(root)
    df = synth.images_df(spark, 400, seed=7, wh=(16, 32))
    jobs.append(spark, t, df, job_id="ingest",
                file_boundaries=synth.lognormal_file_boundaries(400, seed=7, mean_rows=40))
    t = t.refresh()
    zorder.cluster(spark, t, target_bytes=64 * 1024, job_id="z")
    t = t.refresh()

    all_files = scan_mod.plan_files(t)
    lo = min(t.file_entries(columns=["min_phash"]).column("min_phash").to_pylist())
    pruned = scan_mod.plan_files(t, phash_range=(lo, lo))
    assert len(all_files) > 1
    assert len(pruned) < len(all_files)


def test_q6_predicates_reach_scan(spark):
    """Q6's ship-date range + discount band + quantity cut must all push to
    the parquet scan — the selective-scan query IS the pushdown probe."""
    df = E.queries()["q6_forecast_revenue"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24" in plan


def test_q10_dimension_joins_broadcast_fact_join_shuffles(spark):
    """Q10: customer/nation are broadcast; only lineitem⋈orders may shuffle
    — no BroadcastNestedLoopJoin, no CartesianProduct anywhere."""
    df = E.queries()["q10_returned_items"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_threshold_join_is_broadcast(spark):
    """Q17's per-part stats join-back must broadcast (parts << lineitem);
    a sort-merge here would shuffle the fact twice."""
    df = E.queries()["q17_small_quantity_revenue"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_shape(spark):
    """Q22's no-recent-orders predicate must compile to a real anti join."""
    df = E.queries()["q22_sales_opportunity"](spark, SF)
    plan = _plan(df)
    assert "LeftAnti" in plan


def test_new_analytics_avoid_cartesian_products(spark):
    """The r4 analytics breadth (multi-join, correlated, anti-join shapes)
    must compile to hash joins — q22's 1-row threshold broadcast is the
    only nested-loop allowed anywhere (a scalar subquery by construction)."""
    for name in [
        "q7_volume_shipping", "q8_market_share", "q9_product_profit",
        "q13_customer_distribution", "q15_top_supplier",
        "q18_large_volume_customers", "q19_discounted_revenue",
        "events_retention_cohorts", "events_funnel",
    ]:
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    q22 = _plan(E.queries()["q22_sales_opportunity"](spark, SF))
    assert "CartesianProduct" not in q22
    # scalar threshold: 1-row broadcast nested loop is the correct plan
    assert "BroadcastNestedLoopJoin" in q22 or "BroadcastHashJoin" in q22


def test_top_paths_single_user_exchange(spark):
    """events_top_paths: both window passes (session ids, lead-2 paths)
    must share ONE hash exchange on user_id — the session window's
    partitioning is a prefix of the path window's, so Catalyst must not
    insert a second user-keyed shuffle before the lead pass."""
    plan = _plan(E.queries()["events_top_paths"](spark, SF))
    assert "CartesianProduct" not in plan
    import re

    user_exchanges = [
        m for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "user_id" in m and "session_idx" not in m
    ]
    assert len(user_exchanges) <= 1, plan[:2000]


def test_rolling_windows_single_exchange_single_window(spark):
    """events_rolling_windows: all four frame functions (row_number, lag,
    4-row sum, cumulative sum) share ONE partitionBy(user_id)/orderBy sort
    order, so the physical plan must carry exactly one user_id hash
    exchange and exactly one Window node — a second of either means Spark
    re-sorted or re-shuffled per column, which is the 100 TB failure mode
    this query exists to avoid. The trailing range exchange is the
    presentation orderBy only."""
    import re

    plan = _plan(E.queries()["events_rolling_windows"](spark, SF))
    hash_exchanges = re.findall(r"hashpartitioning\([^)]*user_id[^)]*\)", plan)
    assert len(hash_exchanges) == 1, plan[:2000]
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
