"""Physical-plan audits — the scale contract, enforced.

Correctness tests say a query's *values* are right; these say its *plan*
is the one that survives 100 TB: filters and column pruning reach the
parquet scan, small dimensions broadcast instead of shuffling the fact
table, aggregates partially combine map-side, hot paths stay inside
whole-stage codegen, and nothing quietly degrades to a cartesian
product. Plans are built, never executed — this file costs milliseconds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscrap_datapipeline_spark.catalog import load_table
from webscrap_datapipeline_spark.plans import REGISTRY

from .conftest import SF_SMALL


def plan_str(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


# (table, widen, kept columns, filter column, pruned columns). A widened
# read puts a round-robin exchange above the scan; the caller's filter
# and projection must still reach the parquet scan below it.
SCANS = {
    "orders": (
        "orders", False, ("o_orderkey", "o_custkey"), "o_custkey", ("o_totalprice", "o_orderstatus")
    ),
    "documents-widened": ("documents", True, ("doc_id", "text"), "doc_id", ("lang", "source")),
}


@pytest.mark.parametrize("scan", SCANS)
def test_filter_pushdown_reaches_parquet_scan(spark, scan):
    table, widen, kept, key, _ = SCANS[scan]
    df = load_table(spark, table, SF_SMALL, widen=widen).filter(F.col(key) < 100).select(*kept)
    plan = plan_str(df)
    assert ("RoundRobinPartitioning" in plan) == widen
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert f"LessThan({key},100)" in pushed.replace(" ", "")


@pytest.mark.parametrize("scan", SCANS)
def test_column_pruning_reaches_parquet_scan(spark, scan):
    table, widen, kept, _, pruned = SCANS[scan]
    df = load_table(spark, table, SF_SMALL, widen=widen).select(*kept)
    plan = plan_str(df)
    assert ("RoundRobinPartitioning" in plan) == widen
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert all(c in read_schema for c in kept)
    assert not any(c in read_schema for c in pruned)


def test_small_dimension_joins_are_broadcast(spark):
    """Queries joining a small dim must plan a broadcast hash join —
    shuffling the fact side on a dim key is the classic 100 TB mistake."""
    for name in ("top_revenue_orders", "local_supplier_volume"):
        plan = plan_str(REGISTRY[name].fn(spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast:\n{plan[:2000]}"


def test_no_accidental_cartesian_products_and_no_row_udfs(spark):
    """Engine-wide plan policy, ONE registry sweep for both invariants
    (round 13: the two separate sweeps each rebuilt all 158 plans —
    and the iterative queries run real training actions inside fn()
    even at sf0.001, so every extra sweep costs ~40-60 s of suite
    wall; merged with identical coverage):

    * Equi-join queries must never degrade to cartesian/nested-loop.
      (Intentional exceptions are listed: 1-row scalar-subquery
      broadcasts and the theta containment join, which is nested-loop
      by definition but over broadcast-small sides.)
    * No registered query may plan BatchEvalPython (row-at-a-time
      pickling, the 10-100x slow path). Python is allowed only
      Arrow-batched — ArrowEvalPython (pandas_udf), mapInPandas/Arrow,
      applyInPandas, or Arrow-optimized UDTFs."""
    intentional_cartesian = {
        "parts_above_avg_price",  # 1-row mean broadcast (scalar subquery)
        "tfidf_top_terms",  # 1-row corpus-size broadcast
        "keyword_containment_join",  # theta join: BNLJ over small keyword side
        "embedding_knn_query0",  # 1-query-vector broadcast
        "embedding_pairwise_topk",  # bounded slice self-pairing
    }
    row_udf_offenders = []
    for name, q in REGISTRY.items():
        plan = plan_str(q.fn(spark, SF_SMALL))
        if name not in intentional_cartesian:
            assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        if "BatchEvalPython" in plan:
            row_udf_offenders.append(name)
    assert not row_udf_offenders, row_udf_offenders


def test_aggregates_partially_combine_map_side(spark):
    """groupBy aggregates must show partial (map-side) aggregation —
    the shuffle should carry combined rows, not the raw scan."""
    plan = plan_str(REGISTRY["pricing_summary"].fn(spark, SF_SMALL), "simple")
    assert "partial_" in plan, plan


def test_hot_path_stays_in_wholestage_codegen(spark):
    """The flagship and the headline aggregate must run inside
    whole-stage codegen spans. AQE only materializes the final plan at
    execution, so run the (sf0.001-cheap) query first, then require
    '*(n)' codegen markers in the final adaptive plan."""
    for name in ("change_detection", "pricing_summary"):
        df = REGISTRY[name].fn(spark, SF_SMALL)
        df.collect()
        plan = plan_str(df, "simple")
        assert "isFinalPlan=true" in plan
        assert "*(" in plan, f"{name} fell out of codegen:\n{plan[:1500]}"


def test_anti_join_state_side_broadcasts_or_shuffles_on_key(spark):
    """Flagship change detection: the anti join must be an equi join on
    the composite key (hash-partitionable), never nested-loop."""
    plan = plan_str(REGISTRY["change_detection"].fn(spark, SF_SMALL))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_elides_both_exchanges(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with ZERO Exchange operators — the write-time layout
    replaces the runtime shuffle (operators/bucketing.py). This property
    is what makes repeated fact-to-fact joins affordable at 100 TB."""
    from webscrap_datapipeline_spark.operators.bucketing import bucketed, write_bucketed

    orders = load_table(spark, "orders", SF_SMALL)
    li = load_table(spark, "lineitem", SF_SMALL)
    try:
        write_bucketed(
            orders, "b_orders", ["o_orderkey"], 8, str(tmp_path / "b_orders")
        )
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem",
            ["o_orderkey"],
            8,
            str(tmp_path / "b_lineitem"),
        )
        # Disable broadcast so the tiny test tables take the join path a
        # 100 TB fact⋈fact join would take (broadcast is right at this SF
        # but is exactly what bucketing exists to replace at scale).
        saved = [
            (k, spark.conf.get(k, None))
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
            )
        ]
        try:
            for k, _ in saved:
                spark.conf.set(k, "-1")
            joined = bucketed(spark, "b_orders").join(
                bucketed(spark, "b_lineitem"), "o_orderkey"
            )
            plan = plan_str(joined)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert "Exchange" not in plan, plan
            assert "SelectedBucketsCount" in plan
            # and the layout actually computes the right answer
            assert joined.count() == li.count()
        finally:
            for k, v in saved:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_groupby_elides_exchange(spark, tmp_path):
    """groupBy on the bucket key reuses the write-time distribution —
    the aggregate plan must not re-shuffle."""
    from webscrap_datapipeline_spark.operators.bucketing import bucketed, write_bucketed

    orders = load_table(spark, "orders", SF_SMALL)
    try:
        write_bucketed(orders, "b_orders2", ["o_custkey"], 8, str(tmp_path / "b2"))
        agg = bucketed(spark, "b_orders2").groupBy("o_custkey").count()
        plan = plan_str(agg)
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders2")


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Hive-style partitionBy layout must turn an equality filter on the
    partition column into PartitionFilters at the scan — reading 1/Nth
    of the files, which at 100 TB is the difference between a query and
    a full-table scan."""
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, "events", SF_SMALL)
    events.write.mode("overwrite").partitionBy("event_type").parquet(out)
    df = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = plan_str(df)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_type" in pf and "click" in pf, plan
    # the pruned read returns exactly the partition's rows
    want = events.filter(F.col("event_type") == "click").count()
    assert df.count() == want and want > 0


def test_disjoint_range_join_compiles_to_case_projection(spark):
    """range_join with non-overlapping bands must NOT plan a
    BroadcastNestedLoopJoin (its join condition is evaluated
    interpreted, row by row — measured ~40x slower than codegen on the
    fact scan). Disjoint bands compile to a chained CASE WHEN
    projection; overlapping bands keep the BNLJ because a row can match
    several intervals."""
    plan = plan_str(REGISTRY["price_band_distribution"].fn(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CASE WHEN" in plan

    from webscrap_datapipeline_spark.operators.temporal import range_join

    li = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 50.0)], ["id", "v"])
    overlapping = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 4.0, 20.0)], ["band", "lo", "hi"]
    )
    got = range_join(li, overlapping, F.col("v"), "lo", "hi")
    assert "BroadcastNestedLoopJoin" in plan_str(got)
    assert sorted((r["id"], r["band"]) for r in got.collect()) == [
        (1, "a"),
        (1, "b"),
        (2, "b"),
    ]
    disjoint = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0)], ["band", "lo", "hi"]
    )
    got2 = range_join(li, disjoint, F.col("v"), "lo", "hi")
    assert sorted((r["id"], r["band"]) for r in got2.collect()) == [(1, "a"), (2, "b")]


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a Hive-partitioned fact on its partition column against a
    filtered dimension must inject a DynamicPruning subquery into the
    fact scan — at 100 TB this is what turns "scan every partition then
    throw 99% away at the join" into "scan only the partitions the dim
    filter selects", without the user writing the partition predicate
    twice."""
    out = str(tmp_path / "events_part")
    events = load_table(spark, "events", SF_SMALL)
    events.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    # DPP preconditions, each load-bearing: the dim filter must be on a
    # NON-join column (a literal filter on the join key itself is
    # constant-propagated into a *static* partition filter — verified
    # below as the stronger outcome); it must be a "likely selective"
    # predicate (an equality — a bare boolean attribute doesn't count);
    # and the dim needs real size stats (a parquet scan, not a
    # local-relation createDataFrame, whose unknown sizing flips the
    # broadcast to the wrong side).
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [("click", "hot"), ("view", "cold"), ("purchase", "cold")],
        ["event_type", "grp"],
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("grp") == "hot")
    joined = fact.join(dim, "event_type").drop("grp")
    plan = plan_str(joined)
    assert "dynamicpruning" in plan.lower(), plan
    want = events.filter(F.col("event_type") == "click").count()
    assert joined.count() == want and want > 0

    static = fact.join(
        events.select("event_type").distinct().filter(F.col("event_type") == "click"),
        "event_type",
    )
    static_plan = plan_str(static)
    pf = static_plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "= click" in pf, static_plan


def test_aqe_switches_to_broadcast_join_at_runtime(spark):
    """AQE's runtime re-plan: a join whose build side only becomes
    broadcast-small AFTER a selective filter executes must end up a
    BroadcastHashJoin in the final adaptive plan — the static planner
    can't know the filtered size, the adaptive one measures it. This is
    the 100 TB safety net for misestimated dimension sizes."""
    fact = load_table(spark, "lineitem", SF_SMALL)
    dim = (
        load_table(spark, "orders", SF_SMALL)
        .filter(F.col("o_totalprice") > 400000)  # selective at runtime
        .select("o_orderkey", "o_orderpriority")
    )
    # hide the size from the static planner: a shuffle boundary between
    # the filter and the join makes the join input a runtime QueryStage
    dim = dim.repartition(8, "o_orderkey")
    joined = fact.join(dim, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
        "o_orderpriority"
    ).count()
    joined.collect()  # materialize so AQE finalizes the plan
    final = plan_str(joined)
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final, final


# (The BatchEvalPython policy sweep is folded into
# test_no_accidental_cartesian_products_and_no_row_udfs above — one
# registry sweep enforces both invariants.)


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """AQE skew-join handling, demonstrated end-to-end: a join where one
    key holds ~100× the median partition's data must show skew-split
    sort-merge-join handling ("skew=true") in the final adaptive plan
    once thresholds are scaled to the test data. At 100 TB this is what
    keeps one hot user/URL/session from pinning a straggler task for
    hours."""
    hot = spark.range(200_000).select(
        F.lit(0).alias("k"), (F.col("id") * F.lit(7919)).alias("payload")
    )
    cold = spark.range(2_000).select(
        (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("payload")
    )
    left = hot.unionAll(cold)
    right = spark.range(51).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # scale the skew detector to test-sized data (defaults are 256MB;
        # thresholds compare against COMPRESSED shuffle-write bytes, so
        # 200k rows of longs is only tens of KB)
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        # splitting the skewed partition changes the join's output
        # partitioning, which would force an extra shuffle for the
        # downstream aggregate — AQE then skips the split unless told
        # the straggler is worse than the extra shuffle (it is):
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        joined = left.join(right, "k").groupBy("tag").count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_analyze_table_populates_stats_for_cbo(spark, tmp_path):
    """Table + column statistics (ANALYZE TABLE ... COMPUTE STATISTICS
    FOR COLUMNS) must land in the catalog — the inputs Spark's
    cost-based optimizer uses for join reordering and build-side choice
    when AQE's runtime stats aren't available yet (first run over a
    table). Row count and column distinct-count both present."""
    spark.sql("DROP TABLE IF EXISTS stats_orders")
    load_table(spark, "orders", SF_SMALL).write.option(
        "path", str(tmp_path / "stats_orders")
    ).saveAsTable("stats_orders")
    try:
        spark.sql(
            "ANALYZE TABLE stats_orders COMPUTE STATISTICS FOR COLUMNS o_custkey"
        )
        row_desc = spark.sql("DESCRIBE TABLE EXTENDED stats_orders").collect()
        stats_line = {r["col_name"]: r["data_type"] for r in row_desc}.get(
            "Statistics", ""
        )
        assert "rows" in stats_line, row_desc
        col_desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                "DESCRIBE TABLE EXTENDED stats_orders o_custkey"
            ).collect()
        }
        assert col_desc.get("distinct_count") not in (None, "NULL"), col_desc
        assert int(col_desc["distinct_count"]) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_orders")


def test_contamination_screen_broadcasts_probes_never_shuffles_docs(spark):
    """The decontamination screen must plan the probe side as a broadcast
    nested-loop (substring theta join) with documents streaming through
    in one pass — a shuffle of the corpus on any key would be the 100 TB
    mistake; only the tiny (probe, source) hit aggregate may exchange."""
    plan = plan_str(REGISTRY["contamination_screen"].fn(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    # exactly ONE shuffle: the final (probe, source) hit aggregate.
    # ("+- Exchange" is the shuffle node; the probe side's broadcast
    # prints as "BroadcastExchange" and doesn't match.)
    assert plan.count("+- Exchange") == 1, plan[:2000]


def test_activity_concentration_has_no_single_task_global_sort(spark):
    """Round-3 VERDICT item 4: the user-rank in
    user_activity_concentration must come from the two-pass range-
    partition discipline (operators/ids), never an unpartitioned
    row_number window — a SinglePartition exchange feeding a global sort
    would make the observability query itself the bottleneck it is meant
    to detect. The only single-partition exchange allowed is the final
    1-row summary aggregate."""
    df = REGISTRY["user_activity_concentration"].fn(spark, SF_SMALL)
    plan = plan_str(df, mode="extended")
    # no Window without PARTITION BY __pid (the operator's local window)
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "__pid" in m.group(0) or "windowspecdefinition" not in m.group(0)
    # executed plan: every Sort is partition-local (global=false)
    phys = plan_str(df)
    assert "Sort [" not in phys or "global=true" not in phys, phys[:3000]


def test_profile_orders_distinct_expand_hash_aggregates(spark):
    """Round-6 reclaim: min/max over STRING columns carry variable-length
    aggregation buffers, which disqualify HashAggregate AND
    ObjectHashAggregate — combined with a multi-countDistinct they demote
    the whole aggregate, including the ×N_cols Expand, to SortAggregate
    (a full sort of the expanded fact table; 3.8 s → 1.7 s solo at sf0.1
    when split). profile_orders therefore computes string min/max in a
    separate keyless aggregate; the Expand/distinct side must stay
    HashAggregate, and any SortAggregate left in the plan must be
    keyless (the per-partition-reduce min/max side, which needs no
    sort)."""
    df = REGISTRY["profile_orders"].fn(spark, SF_SMALL)
    phys = plan_str(df, mode="simple")
    assert "Expand" in phys  # the multi-distinct shape is still one scan
    assert "HashAggregate" in phys
    for line in phys.splitlines():
        if "SortAggregate" in line:
            assert "key=[]" in line, line


def test_runtime_bloom_filter_semi_join_reduction(spark, tmp_path):
    """Spark's runtime Bloom-filter join reduction — the built-in
    semi-join reducer that cuts the BIG side's shuffle by the small
    side's selectivity at warehouse scale (round-10). Two pins:
    (1) at the DEFAULT thresholds the optimizer does NOT inject a
    filter for local-sized scans (applicationSideScanSizeThreshold is
    10 GB — the feature is a big-scan optimization and must not tax
    small joins); (2) once the application side crosses the threshold
    (lowered here to simulate the 100 TB regime), a `might_contain`
    predicate appears on the big side BEFORE its shuffle, and the join
    result is unchanged — the reduction is a superset pre-filter, not
    a semantics change."""
    big_p = str(tmp_path / "big")
    small_p = str(tmp_path / "small")
    spark.range(200_000).selectExpr(
        "id", "id % 1000 as k", "rand(7) as v"
    ).write.mode("overwrite").parquet(big_p)
    spark.range(1000).selectExpr("id as k", "rand(5) as w").write.mode(
        "overwrite"
    ).parquet(small_p)

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        # broadcast off so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def plan():
            big = spark.read.parquet(big_p)
            small = spark.read.parquet(small_p).filter("w < 0.02")
            j = big.join(small, "k")
            return j, j._jdf.queryExecution().executedPlan().toString()

        _, default_plan = plan()
        assert "might_contain" not in default_plan  # (1)

        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        j, lowered_plan = plan()
        assert "might_contain" in lowered_plan  # (2): injected
        # the bloom probe must sit on the application (big) side below
        # the join, i.e. before that side's Exchange
        probe_line = next(
            ln for ln in lowered_plan.splitlines() if "might_contain" in ln
        )
        assert "xxhash64(k" in probe_line
        # semantics unchanged: superset pre-filter + exact join
        spark.conf.set(keys[1], saved[keys[1]] or "10GB")
        j_ref, _ = plan()
        assert j.count() == j_ref.count()
    finally:
        # restore OR unset: leaving the lowered 1KB threshold behind on
        # an assertion failure would perturb every later test's plans in
        # the session-scoped fixture (round-10 ADVICE item 5)
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_cms_estimate_broadcasts_the_sketch_not_a_shuffle(spark):
    """round-10 ADVICE item 3: the probe side is the PRESERVED side of
    the outer join (absent cells must estimate 0), and Spark cannot
    build the preserved side — so the bounded depth×width sketch must
    be the broadcast/build side or the join silently falls back to a
    two-sided shuffle. Pin BroadcastHashJoin ... LeftOuter, BuildRight
    in the physical plan, and no Exchange on the probe side below the
    join."""
    from webscrap_datapipeline_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    items = spark.range(10_000).selectExpr("cast(id % 97 as string) as token")
    probes = spark.range(50).selectExpr("cast(id as string) as token")
    est = cms_estimate(count_min_sketch(items, width=64), probes, width=64)
    plan = plan_str(est, "extended")
    join_line = next(
        ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln
    )
    assert "LeftOuter" in join_line and "BuildRight" in join_line, join_line
    # correctness of the preserved side survives the broadcast: a probe
    # absent from every sketch cell still estimates (via the min over
    # its cells) rather than vanishing
    assert est.count() == 50
