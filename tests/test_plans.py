"""Physical-plan assertions — verify Catalyst actually produces the
plans the engine is designed around (pushdown, broadcast, top-k,
codegen), per the 100 TB design notes in SURVEY §7 Phase 4."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.plans import (
    explain,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources import (
    readers,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = readers.read_table(spark, SF, "orders").filter(F.col("o_totalprice") > 1000.0)
    assert explain.assert_pushed_filters(df)
    plan = explain.formatted_plan(df)
    assert "o_totalprice" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_in_read_schema(spark):
    df = readers.read_table(spark, SF, "lineitem").select("l_orderkey")
    plan = explain.formatted_plan(df)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_comment" not in read_schema


def test_multiway_join_broadcasts_dimensions(spark):
    df = entrymod.q_multiway_join_revenue(spark, SF)
    assert explain.has_broadcast_join(df)


def test_topk_compiles_to_take_ordered(spark):
    df = entrymod.q_topk_orders(spark, SF)
    assert "TakeOrderedAndProject" in explain.formatted_plan(df)


def test_fusion_query_is_whole_stage_codegen(spark):
    # AQE wraps the un-executed plan in AdaptiveSparkPlan, which hides the
    # codegen annotations until runtime — disable it for the inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = entrymod.q_fusion_minute_avg(spark, SF)
        assert explain.codegen_stage_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_null_safe_projection_pushes_isnotnull(spark):
    df = entrymod.q_null_safe_projection(spark, SF)
    plan = explain.formatted_plan(df)
    pushed = plan.split("PushedFilters")[1][:300]
    assert "IsNotNull" in pushed and "GreaterThan" in pushed


def test_tpch_q1_single_exchange_partial_agg(spark):
    """Q1 must be scan -> partial HashAggregate -> one exchange on the
    grouping key -> final HashAggregate; the shipdate filter pushed to
    the scan. More exchanges would mean the map-side combine was lost."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = entrymod.q_tpch_q1_pricing_summary(spark, SF)
        plan = explain.formatted_plan(df)
        # the tree section (before the per-node details) lists each
        # physical node exactly once
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1
        assert tree.count("HashAggregate") == 2
        pushed = plan.split("PushedFilters")[1][:200]
        assert "l_shipdate" in pushed
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_partitioned_scan_prunes_directories(spark):
    """The status predicate over a partitionBy(o_orderstatus) layout must
    become a PartitionFilter on the scan (directory pruning), NOT a
    pushed data filter — at 100 TB that is the difference between
    listing one directory and reading every file."""
    df = entrymod.q_partition_pruned_scan(spark, SF)
    plan = explain.formatted_plan(df)
    part_section = plan.split("PartitionFilters")[1][:200]
    assert "o_orderstatus" in part_section
    # the data-filter pushdown section (absent here, since the only
    # predicate became a partition filter) must not carry the partition col
    if "PushedFilters" in plan:
        assert "o_orderstatus" not in plan.split("PushedFilters")[1][:200]


def test_correlated_subquery_is_decorrelated(spark):
    """Catalyst must rewrite the scalar subquery into an aggregate+join
    (no per-row subquery execution): the physical plan contains the
    per-partkey aggregate and no Subquery node in the main query path."""
    df = entrymod.q_correlated_subquery_q17(spark, SF)
    plan = explain.formatted_plan(df)
    assert "avg(l_quantity)" in plan or "avg(l2.l_quantity)" in plan.lower()
    out = df.limit(1).collect()
    assert len(out) == 1


def test_join_strategy_hints_control_physical_plan(spark):
    """The engine can steer Catalyst's physical join strategy per join:
    merge → SortMergeJoin, shuffle_hash → ShuffledHashJoin, broadcast →
    BroadcastHashJoin — the knobs that matter when AQE's default choice
    is wrong for a known workload (e.g. pre-sorted inputs, or a build
    side that fits memory but exceeds the broadcast threshold)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        li = readers.read_table(spark, SF, "lineitem")
        o = readers.read_table(spark, SF, "orders")
        cases = {
            "merge": "SortMergeJoin",
            "shuffle_hash": "ShuffledHashJoin",
            "broadcast": "BroadcastHashJoin",
        }
        for hint, node in cases.items():
            df = li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
            assert node in explain.formatted_plan(df), hint
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_order_quartiles_has_no_single_partition_window(spark):
    """The distributed NTILE (range buckets + per-bucket ranks +
    arithmetic tile) must never funnel the table through a partition-
    less window — the executed plan's Window node is keyed by the range
    bucket and no exchange is SinglePartition."""
    df = entrymod.q_order_quartiles(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    window_lines = [l for l in plan.splitlines() if "Window" in l]
    assert window_lines and all("pid" in l for l in window_lines), window_lines


def test_runtime_bloom_filter_prefilters_shuffle_join(spark):
    """Catalyst's runtime row-level filter: when a shuffle join's build
    side carries a selective filter, the optimizer builds a bloom filter
    from the build keys (bloom_filter_agg) and injects might_contain on
    the probe-side scan — at 100 TB this is what keeps a fact⋈filtered-
    dim join from shuffling fact rows that can never match. Asserts both
    the injected plan nodes and that results are unchanged."""
    keep = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true"
        # thresholds sized for the tiny test tables; production defaults
        # (10MB application side) kick in on real scans unaided
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = readers.read_table(spark, SF, "lineitem")
        o = readers.read_table(spark, SF, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        got = {r.o_orderpriority: r.n for r in j.collect()}
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)
    # semantics unchanged vs the plain (broadcastable) join
    li = readers.read_table(spark, SF, "lineitem")
    o = readers.read_table(spark, SF, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    want = {
        r.o_orderpriority: r.n
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and sum(got.values()) > 0


def test_bottomk_sample_compiles_to_take_ordered(spark):
    df = entrymod.q_bottomk_sample(spark, SF)
    assert "TakeOrderedAndProject" in explain.formatted_plan(df)


def test_cms_grid_aggregation_is_partial(spark):
    # the depth×width grid must partial-aggregate map-side: a partial
    # HashAggregate below the exchange and a final one above it
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        sketches,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = explain.formatted_plan(sketches.cms_build(ev, "user_id"))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_cms_estimate_broadcasts_grid(spark):
    # the bounded sketch grid is the legal build side of the probe
    # left-outer join (a hint on the left/probe side of a left join is
    # silently dropped — the r15 HintErrorLogger fix); the probe side
    # must stay unshuffled
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        sketches,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    sk = sketches.cms_build(ev, "user_id")
    probes = ev.select("user_id").distinct().limit(5)
    plan = explain.formatted_plan(
        sketches.cms_estimate(sk, probes, "user_id")
    )
    assert "BroadcastHashJoin" in plan
    # formatted-explain tree syntax: "BroadcastHashJoin LeftOuter
    # BuildRight (n)" — no comma (the simple-string format that DOES
    # comma-separate is not what formatted_plan returns)
    assert "LeftOuter BuildRight" in plan


def test_pareto_front_has_no_single_partition_window(spark):
    # the skyline rewrite must keep its running-max window partitioned
    # by the price bucket — never the whole-table WindowExec
    df = entrymod.q_pareto_front_orders(spark, SF)
    plan = explain.formatted_plan(df)
    assert "Window" in plan
    import re

    for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # every window spec must name a partition column (pid)
        assert "pid" in spec, spec


def test_rfm_segments_has_no_single_partition_window(spark):
    # r7: the three global quartile ranks are distributed via the
    # cutpoint-bucket + offset-carry machinery (_dist_rank) — every
    # window spec in the plan must be partitioned (by __pid), never a
    # whole-table "No Partition Defined" WindowExec
    import re

    df = entrymod.q_rfm_segments(spark, SF)
    plan = explain.formatted_plan(df)
    specs = re.findall(
        r"windowspecdefinition\(([^)]*)\)", plan
    )
    assert specs, "expected partitioned window specs in the rfm plan"
    for spec in specs:
        assert "__pid" in spec, spec


def test_setsim_prefix_join_has_no_global_rank_window(spark):
    # r7 vocab guard: the rarest-first order comes from sorting each
    # doc's (df, token) structs — the vocabulary must NOT pass through
    # a global row_number window (single partition, vocab-sized), and
    # the df join must carry no hard broadcast hint (AQE sizes it)
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        dedup,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(50)
        .select(
            "doc_id",
            F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("toks"),
        )
    )
    df = dedup.setsim_prefix_join(
        docs, tokens_col="toks", id_col="doc_id", threshold=0.5
    )
    plan = explain.formatted_plan(df)
    assert "windowspecdefinition" not in plan
    # logical-plan check: no ResolvedHint/broadcast hint on the df join
    assert "UnresolvedHint" not in df._jdf.queryExecution().logical().toString()
    assert "hints=[broadcast]" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_no_hard_broadcast_on_unbounded_count_tables():
    # r8 guard (VERDICT r7 #1): a groupBy-count table over an unbounded
    # key domain (per-part counts, vocabulary df counts, per-doc counts)
    # must never carry a hard F.broadcast hint — AQE decides while the
    # table is small; a hard hint OOMs once the catalog/vocab grows.
    # Source-level grep across the engine entry and the dedup operators.
    import inspect
    import re

    import __spark_entry__ as em
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        dedup,
    )

    forbidden = re.compile(
        r"F\.broadcast\(\s*(per_part|per_doc_df|vocab|dfreq_tbl|df_counts)"
    )
    for mod in (em, dedup):
        src = inspect.getsource(mod)
        hit = forbidden.search(src)
        assert hit is None, f"hard broadcast on count table: {hit.group(0)}"
    # and market_basket's only hint is the 1-row n_orders aggregate
    src = inspect.getsource(em.q_market_basket_rules)
    hints = re.findall(r"F\.broadcast\((\w+)", src)
    assert hints == ["n"], hints


def test_r8_rank_machinery_queries_have_no_global_window(spark):
    # spearman / kaplan-meier / revenue-coverage / theil-sen /
    # changepoint all ride _dist_rank/_dist_cumsum — every window spec
    # in their plans must be partitioned (__pid), never a whole-table
    # "No Partition Defined" WindowExec. (rrf's 100-row shortlist
    # windows are exempt by boundedness and deliberately not listed.)
    import re

    for q in (
        entrymod.q_spearman_price_date,
        entrymod.q_kaplan_meier_churn,
        entrymod.q_revenue_coverage_counts,
        entrymod.q_theil_sen_daily_trend,
        entrymod.q_changepoint_best_split,
    ):
        plan = explain.formatted_plan(q(spark, SF))
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "__pid" in spec, f"{q.__name__}: {spec}"


def test_plan_audit_covers_every_headline_query():
    # r10 guard (VERDICT r9 #3): PLANS.md silently lacked rows for two
    # headline queries (psi_value_drift, semantic_dedup_keep_best), so
    # a "3 redundant scans" class of defect was invisible for them.
    # Totality check: every bench.HEADLINE name must appear in PLANS.md
    # as a table row (audited) or an explicit streaming/iterative
    # exemption line — regenerate with tools/plan_audit.py when this
    # fails after adding a headline query.
    import os

    import bench

    plans = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                         "PLANS.md")
    rows = set()
    with open(plans) as f:
        for line in f:
            if line.startswith("| "):
                rows.add(line.split("|")[1].strip().strip("`"))
    missing = [n for n in bench.HEADLINE if n not in rows]
    assert missing == [], f"headline queries missing from PLANS.md: {missing}"


def test_bh_fdr_events_scanned_once_behind_checkpoint(spark):
    # r10 guard (VERDICT r9 #2): the ranked stats table (≤|event types|
    # rows) feeds four consumers; without a cut Catalyst re-evaluated
    # the events-scan subtree per consumer (r9 plan audit: 3 parquet
    # scans, 50 repeated bounded-window warnings). The fix pins ranked
    # with localCheckpoint, so the compiled plan must read the
    # checkpointed RDD — zero parquet scans and zero window specs in
    # the visible plan; the single events scan and the ≤m-row global
    # rank window (the rrf bounded-shortlist exemption) live inside the
    # checkpointed lineage, compiled and executed once.
    import re

    plan = explain.formatted_plan(
        entrymod.q_bh_fdr_event_shifts(spark, SF)
    )
    assert len(re.findall(r"Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "windowspecdefinition" not in plan, plan
    import inspect

    src = inspect.getsource(entrymod.q_bh_fdr_event_shifts)
    assert "localCheckpoint" in src


def test_wedge_family_is_degree_oriented_or_block_decomposed():
    # r9 guard (VERDICT r8 #1): no wedge enumeration may self-join the
    # raw adjacency on a node-id key — on a hub-heavy graph a single
    # 10^6-degree center is 10^12 wedge rows from ONE reducer. Triangle-
    # witness operators must ride _oriented_closed_wedges (compact-
    # forward: sum outdeg^2, outdeg <= O(sqrt(m))); the exact-CN census
    # (where orientation can't apply — every center counts) must ride
    # the block-decomposed common_neighbor_counts. Source-level pin,
    # same class as the no-hard-broadcast guard above.
    import inspect

    import __spark_entry__ as em
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        graph,
    )

    for fn in (
        graph.triangle_count,
        graph.clustering_coefficients,
        graph.clustering_coefficients_weighted,
    ):
        src = inspect.getsource(fn)
        assert "_oriented_closed_wedges" in src or "_degree_oriented" in src, (
            f"{fn.__name__} no longer degree-orients its wedge join"
        )
        # the old idiom: self-join keyed on the min-id endpoint alias
        assert 'join(e2, "w_a")' not in src, (
            f"{fn.__name__} regressed to the id-oriented wedge self-join"
        )
    src = inspect.getsource(em.q_link_prediction_cn)
    assert "common_neighbor_counts" in src, (
        "link prediction bypasses the block-decomposed CN census"
    )
    # and the census itself keys its join on (center, block), never on
    # the bare center column alone
    cn_src = inspect.getsource(graph._cn_pair_stream)
    assert "tb == right.gb" in cn_src


def test_mmr_from_index_probe_is_partition_pruned(spark):
    """The trained-index MMR query's corpus-sized read is the nprobe=2
    partition probe: running the entry query materializes the
    cid-partitioned index, and the probe's relational shape
    (cid isin(...) over that layout) must prune directories — a
    PartitionFilter on the scan, not a post-scan data filter. At
    100 TB this is the O(n·nprobe/k) vs O(n) difference."""
    entrymod.q_mmr_from_index(spark, SF).collect()
    index_path, _, _ = entrymod._trained_ivf_index(spark, SF)
    pruned = spark.read.parquet(index_path).filter(F.col("cid").isin([0, 1]))
    plan = explain.formatted_plan(pruned)
    part_section = plan.split("PartitionFilters")[1][:200]
    assert "cid" in part_section
    if "PushedFilters" in plan:
        assert "cid" not in plan.split("PushedFilters")[1][:200]


def test_mih_probe_is_partition_pruned(spark):
    """The MIH search's four index reads must prune to the probed
    bucket directory — a PartitionFilter on `cb`, not a post-scan data
    filter. At 10⁹ signatures this is the ~4/2^cb_bits read the index
    exists for."""
    import os

    entrymod.q_image_dhash_search(spark, SF).collect()
    index_path = entrymod._mih_index(spark, SF)
    probed = spark.read.parquet(
        os.path.join(index_path, "table0")
    ).filter(F.col("cb") == 3)
    plan = explain.formatted_plan(probed)
    part_section = plan.split("PartitionFilters")[1][:200]
    assert "cb" in part_section
    if "PushedFilters" in plan:
        assert "cb" not in plan.split("PushedFilters")[1][:200]
