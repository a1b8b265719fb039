"""Relational queries: scans and codecs, joins, aggregates, set
operations, CDC/SCD2, the SQL surface and data-quality reports."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.fsutil import (
    materialize,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
    codecs,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    cdc,
    fusion,
    quality,
    relational,
    sketches,
    temporal,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources import (
    sinks,
)

from catalog import query
from catalog._common import (
    _cents,
    _cents_avg,
    _cents_sum,
    _epoch_sec,
    _q,
    _sql_cents_avg,
    _sql_cents_sum,
    _sql_q,
    _t,
)
from catalog.stats import _dist_cumsum


def _sql_spread(e: str) -> str:
    """SQL twin of relational.zorder2_key's magic-mask bit spread."""
    x = f"(({e}) & 65535)"
    for shift, mask in ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)):
        x = f"((({x}) | (({x}) << {shift})) & {mask})"
    return x


@query("""
            SELECT date_trunc('minute', ts) AS event_ts_min,
                   CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ts_min_bignt,
                   event_type,
                   {AVGV} AS avg_value,
                   COUNT(*) AS n
            FROM events
            GROUP BY 1, 2, 3
        """)
def q_fusion_minute_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/A1/A2/F1/F2: epoch↔ts, minute truncate, group mean (data_collector.py:23-38)."""
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts_sec", _epoch_sec("ts"))
        .withColumn("value_c", _cents("value"))
    )
    rolled = fusion.minute_rollup(
        ev, ts_col="ts_sec", keys=("event_type",), metrics=("value_c",)
    )
    return rolled.select(
        "event_ts_min",
        "ts_min_bignt",
        "event_type",
        _q(F.col("value_c") / 100.0, 4).alias("avg_value"),
        "n",
    )


@query("""
            SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """)
def q_decode_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: from_json with explicit schema (spark_streaming_kafka.py:33)."""
    ev = _t(spark, sf_dir, "events")
    decoded = ev.withColumn("data", codecs.json_decode("props", "k INT"))
    return (
        decoded.select(F.col("data.k").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


@query("""
            WITH encoded AS (
                SELECT concat_ws('|',
                        COALESCE(CAST(l_orderkey AS VARCHAR), ''),
                        COALESCE(CAST(l_linenumber AS VARCHAR), ''),
                        COALESCE(CAST(l_quantity AS VARCHAR), ''),
                        COALESCE(l_returnflag, '')) AS value
                FROM lineitem
            ), split AS (SELECT string_split(value, '|') AS p FROM encoded)
            SELECT CAST(NULLIF(p[1], '') AS BIGINT) AS l_orderkey,
                   CAST(NULLIF(p[2], '') AS INT) AS l_linenumber,
                   CAST(NULLIF(p[3], '') AS DOUBLE) AS l_quantity,
                   NULLIF(p[4], '') AS l_returnflag
            FROM split
        """)
def q_delimited_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+F8: delimiter encode → positional decode (the §0 quirk, both halves)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]
    encoded = li.select(
        codecs.delimited_encode(cols, sep="|").alias("value")
    )
    ddl = "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING"
    decoded = encoded.select(
        codecs.delimited_decode("value", ddl, sep="|").alias("data")
    ).select("data.*")
    return decoded


@query("""
            SELECT doc_id, lang, source, n_chars
            FROM documents
            WHERE doc_id IS NOT NULL AND lang IS NOT NULL
              AND source IS NOT NULL AND n_chars IS NOT NULL
              AND n_chars > 300
        """)
def q_null_safe_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: negative projection + na.drop + pushdown-friendly filter."""
    docs = _t(spark, sf_dir, "documents")
    out = relational.drop_null_rows(
        relational.project_exclude(docs, ["text"])
    )
    return out.filter(F.col("n_chars") > 300)


@query("""
            SELECT tier, COUNT(*) AS n FROM (
                SELECT c_custkey, 'high' AS tier FROM customer WHERE c_acctbal > 5000
                UNION ALL
                SELECT c_custkey, 'low' AS tier FROM customer WHERE c_acctbal < 1000
            ) GROUP BY tier
        """)
def q_union_filtered_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: unionByName of two filtered projections + agg."""
    c = _t(spark, sf_dir, "customer")
    hi = c.filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", F.lit("high").alias("tier")
    )
    lo = c.filter(F.col("c_acctbal") < 1000).select(
        "c_custkey", F.lit("low").alias("tier")
    )
    return relational.union_all([hi, lo]).groupBy("tier").agg(
        F.count("*").alias("n")
    )


@query("""
            SELECT r_name, COUNT(*) AS n
            FROM region, range(3)
            GROUP BY r_name
        """)
def q_repeat_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: dataset repetition ×N without driver loops (dataframe_to_kafka.py:91)."""
    r = _t(spark, sf_dir, "region")
    return relational.repeat_rows(r, 3).groupBy("r_name").agg(
        F.count("*").alias("n")
    )


@query("""
            SELECT event_type, COUNT(*) AS doc_count
            FROM events GROUP BY event_type
            ORDER BY doc_count DESC, event_type ASC LIMIT 3
        """)
def q_terms_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/2.6: terms agg with top-k (TakeOrderedAndProject, no full sort)."""
    ev = _t(spark, sf_dir, "events")
    return relational.terms_agg(ev, "event_type", k=3)


@query("""
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.6: global top-k with deterministic tiebreak."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query("""
            SELECT r_name, n_name, COUNT(*) AS n,
                   {BAL} AS total_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """)
def q_rollup_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.4 extension: hierarchical rollup (region → nation subtotals)."""
    c = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(na), c.c_nationkey == na.n_nationkey).join(
        F.broadcast(r), na.n_regionkey == r.r_regionkey
    )
    return relational.rollup_agg(
        joined,
        ["r_name", "n_name"],
        [F.count("*").alias("n"), _cents_sum("c_acctbal").alias("total_bal")],
    )


@query("""
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                   {TOT} AS total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return relational.cube_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        [F.count("*").alias("n"), _cents_sum("o_totalprice").alias("total")],
    )


@query("""
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """)
def q_distinct_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query("""
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        """)
def q_semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS via left-semi join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query("""
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 450000)
        """)
def q_anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left-anti join (filtered so the result is non-empty)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query("""
            SELECT user_id,
                   FLOOR((AVG(CAST(ROUND(value * 100, 0) AS BIGINT)) FILTER (WHERE event_type = 'click') / 100.0) * 10000 + 0.5) / 10000.0 AS click,
                   FLOOR((AVG(CAST(ROUND(value * 100, 0) AS BIGINT)) FILTER (WHERE event_type = 'error') / 100.0) * 10000 + 0.5) / 10000.0 AS error,
                   FLOOR((AVG(CAST(ROUND(value * 100, 0) AS BIGINT)) FILTER (WHERE event_type = 'purchase') / 100.0) * 10000 + 0.5) / 10000.0 AS purchase,
                   FLOOR((AVG(CAST(ROUND(value * 100, 0) AS BIGINT)) FILTER (WHERE event_type = 'signup') / 100.0) * 10000 + 0.5) / 10000.0 AS signup,
                   FLOOR((AVG(CAST(ROUND(value * 100, 0) AS BIGINT)) FILTER (WHERE event_type = 'view') / 100.0) * 10000 + 0.5) / 10000.0 AS "view"
            FROM events GROUP BY user_id
        """)
def q_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list → no extra distinct pass)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = (
        ev.withColumn("value_c", _cents("value"))
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(_q(F.avg("value_c") / 100.0, 4))
    )
    return piv


@query("""
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        """)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6+F5 inverse property: to_json(struct) → from_json == identity
    (JSON, unlike the delimited format, round-trips NULLs and empty
    strings losslessly)."""
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    ddl = "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    encoded = o.select(codecs.json_encode(cols).alias("v"))
    return encoded.select(codecs.json_decode("v", ddl).alias("d")).select("d.*")


@query(f"""
            SELECT event_type, COUNT(*) AS n,
                   {_sql_cents_sum("value")} AS total_value
            FROM events GROUP BY event_type
        """)
def q_kafka_wire_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the full streaming consumer path (S7→P3→F5→P4):
    rows → Kafka (key BINARY, value BINARY) JSON wire shape → decode →
    flatten → aggregate. Proves the wire codecs are lossless end-to-end
    under the differential gate."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wire = codecs.encode_for_kafka(ev, key_col="user_id", wire_format="json")
    ddl = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    decoded = codecs.decode_kafka_value(wire, ddl, wire_format="json")
    return decoded.groupBy("event_type").agg(
        F.count("*").alias("n"),
        _cents_sum("value").alias("total_value"),
    )


@query("""
            WITH shred AS (
                SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k
                FROM events
            )
            SELECT event_type,
                   COUNT(*) AS n_rows,
                   COUNT(k) AS n_with_k,
                   CAST(SUM(k) AS BIGINT) AS sum_k,
                   CAST(MIN(k) AS BIGINT) AS min_k,
                   CAST(MAX(k) AS BIGINT) AS max_k
            FROM shred GROUP BY 1
        """)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): the props JSON payload is
    parsed ONCE into a VARIANT column and typed fields are bound at
    query time via variant_get — schema-on-read without a fixed
    from_json schema, no UDF, no regex; the open-table-format answer to
    evolving event payloads at 100 TB (new keys need no reload, just a
    new extraction path). Aggregates the extracted int field per event
    type; DuckDB's JSON operators are the oracle."""
    ev = _t(spark, sf_dir, "events")
    shred = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return shred.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


@query(f"""
            SELECT c_mktsegment, COUNT(*) AS n,
                   {_sql_cents_sum("c_acctbal")} AS balance
            FROM customer GROUP BY 1
        """)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format breadth (§2.1 S4 family): customer → ORC (the other
    mainstream columnar format; splittable, predicate-pushdown-capable)
    → read back → aggregate. The oracle runs on the original parquet, so
    a hash match proves the ORC write/read path is lossless."""
    path = materialize(
        "orc_customer", sf_dir, [f"{sf_dir}/customer.parquet"], {},
        lambda p: _t(spark, sf_dir, "customer").write.mode("overwrite").orc(p),
    )
    c = spark.read.orc(path)
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        _cents_sum("c_acctbal").alias("balance"),
    )


@query("""
            SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_orphans
            FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey
            UNION ALL
            SELECT 'lineitem.l_partkey->part', COUNT(*),
                   CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
              ON l.l_partkey = p.p_partkey
            UNION ALL
            SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
                   CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
              ON l.l_suppkey = s.s_suppkey
            UNION ALL
            SELECT 'orders.o_custkey->customer', COUNT(*),
                   CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
              ON o.o_custkey = c.c_custkey
            UNION ALL
            SELECT 'customer.c_nationkey->nation', COUNT(*),
                   CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
              ON c.c_nationkey = n.n_nationkey
            UNION ALL
            SELECT 'supplier.s_nationkey->nation', COUNT(*),
                   CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
              ON s.s_nationkey = n.n_nationkey
            UNION ALL
            SELECT 'nation.n_regionkey->region', COUNT(*),
                   CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM nation n LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
              ON n.n_regionkey = r.r_regionkey
        """)
def q_fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema: one
    row per FK edge with the referencing row count and the orphan count
    (rows whose key has no match in the referenced table). Edges are
    GROUPED BY REFERENCING TABLE: each referencing table is scanned
    once (key columns only), its edges resolved by chained broadcast
    left joins against the distinct referenced-key sets, and ONE agg
    emits every edge's orphan count, exploded to one row per edge — so
    lineitem, the widest fact, is read once for its three FK edges
    instead of once per edge (the r4 verdict's 3× fact-I/O cut). At
    100 TB this is the nightly audit that catches a partial dimension
    load before every downstream join silently drops (inner) or
    null-extends (outer) the orphans. NULL keys count as orphans (same
    unknown-is-not-a-pass stance as operators.quality)."""
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    by_ft: dict[str, list[tuple[str, str, str, str]]] = {}
    for name, ft, fk, rt, rk in edges:
        by_ft.setdefault(ft, []).append((name, fk, rt, rk))
    parts = []
    for ft, ft_edges in by_ft.items():
        f = _t(spark, sf_dir, ft).select(
            *[F.col(fk).alias(f"__k{i}") for i, (_, fk, _, _) in enumerate(ft_edges)]
        )
        for i, (_, _, rt, rk) in enumerate(ft_edges):
            r = (
                _t(spark, sf_dir, rt)
                .select(F.col(rk).alias(f"__k{i}"))
                .distinct()
                .withColumn(f"__hit{i}", F.lit(1))
            )
            f = f.join(F.broadcast(r), f"__k{i}", "left")
        agg = f.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.when(F.col(f"__hit{i}").isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"__o{i}")
                for i in range(len(ft_edges))
            ],
        )
        parts.append(
            agg.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(name).alias("fk_edge"),
                                F.col("n_rows").alias("n_rows"),
                                F.col(f"__o{i}").alias("n_orphans"),
                            )
                            for i, (name, _, _, _) in enumerate(ft_edges)
                        ]
                    )
                ).alias("e")
            ).select("e.fk_edge", "e.n_rows", "e.n_orphans")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(f"""
            SELECT event_type, COUNT(*) AS n,
                   {_sql_cents_sum("value")} AS total_value
            FROM events GROUP BY event_type
        """)
def q_kafka_wire_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third wire decoder under the gate: the SAME encode→decode→
    aggregate pipeline as kafka_wire_pipeline, but decoded through the
    VARIANT path (codecs.variant_decode — parse once, bind each
    declared field at query time via try_variant_get). A hash match
    against the identical DuckDB aggregate proves schema-on-read
    decode is lossless where the payload matches the schema; the drift
    tolerance it adds over from_json (producer adds keys → consumer
    unaffected; field-level type quarantine) is pinned in
    tests/test_codecs.py."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wire = codecs.encode_for_kafka(ev, key_col="user_id", wire_format="json")
    ddl = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    decoded = codecs.decode_kafka_value(wire, ddl, wire_format="variant")
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _cents_sum("value").alias("total_value"),
    )


@query(f"""
            SELECT event_type AS room, COUNT(*) AS n,
                   {_sql_cents_sum("value")} AS total_value,
                   {_sql_q("MIN(epoch(ts))", 6)} AS first_epoch,
                   {_sql_q("MAX(epoch(ts))", 6)} AS last_epoch
            FROM events GROUP BY 1
        """)
def q_sensor_tree_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource UNDER THE DIFFERENTIAL GATE: events
    are materialized once as a KETI-style tree (root/<event_type>/
    value.csv, headerless "epoch,value" lines — the reference's exact
    on-disk layout, data_collector.py:11-20), read back through
    format('sensor_tree') (per-room split planning, executor-side
    parse), and aggregated per room. The oracle computes the same
    aggregate from the ORIGINAL parquet in DuckDB, so a hash match
    proves the connector's planning + parsing + room attribution are
    lossless — doubles survive the text roundtrip because repr emits
    shortest-roundtrip decimals. Room count bounds the driver-side
    write loop (5 dirs), never row count."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.sensor_source import (
        SensorTreeDataSource,
    )

    def build(path: str) -> None:
        import glob
        import shutil

        ev = _t(spark, sf_dir, "events").select(
            F.col("event_type").alias("room"),
            _epoch_sec(F.col("ts")).alias("epoch"),
            "value",
        )
        rooms = [r.room for r in ev.select("room").distinct().collect()]
        for room in rooms:  # bounded by room cardinality (5), not rows
            rdir = os.path.join(path, room)
            os.makedirs(rdir, exist_ok=True)
            part = (
                ev.filter(F.col("room") == room)
                .select(
                    F.concat_ws(
                        ",",
                        F.col("epoch").cast("string"),
                        F.col("value").cast("string"),
                    ).alias("line")
                )
            )
            staging = os.path.join(rdir, "__csv_staging")
            part.coalesce(1).write.mode("overwrite").text(staging)
            src = glob.glob(os.path.join(staging, "part-*"))[0]
            os.replace(src, os.path.join(rdir, "value.csv"))
            shutil.rmtree(staging)

    path = materialize(
        "sensor_tree", sf_dir, [f"{sf_dir}/events.parquet"], {}, build
    )
    spark.dataSource.register(SensorTreeDataSource)
    tree = (
        spark.read.format("sensor_tree")
        .option("path", path)
        .option("metric", "value")
        .load()
    )
    return tree.groupBy("room").agg(
        F.count(F.lit(1)).alias("n"),
        _cents_sum("value").alias("total_value"),
        # min/max, not SUM: epoch doubles are exact per row but a 60k-row
        # float sum accumulates order-dependent error beyond any safe
        # quantum; extrema are single bit-identical values
        _q(F.min("timestamp"), 6).alias("first_epoch"),
        _q(F.max("timestamp"), 6).alias("last_epoch"),
    )


@query(f"""
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                   {_sql_cents_sum("o_totalprice")} AS total
            FROM orders GROUP BY 1, 2
        """)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source (§2.1, the landed-file twin of the Kafka JSON
    wire): orders → .json lines → read back with an EXPLICIT schema (never
    inferSchema: one pass, stable types) → aggregate. Doubles survive the
    text roundtrip exactly (Spark emits shortest-repr decimals)."""
    path = materialize(
        "jsonl_orders", sf_dir, [f"{sf_dir}/orders.parquet"], {},
        lambda p: _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        ).write.mode("overwrite").json(p),
    )
    schema = (
        "o_orderkey BIGINT, o_orderstatus STRING, "
        "o_orderpriority STRING, o_totalprice DOUBLE"
    )
    o = spark.read.schema(schema).json(path)
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        _cents_sum("o_totalprice").alias("total"),
    )


@query(f"""
            SELECT o_orderpriority, COUNT(*) AS n,
                   {_sql_cents_sum("o_totalprice")} AS total
            FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        """)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 under the gate: orders written `partitionBy(o_orderstatus)`
    (low-cardinality dim → directory per value), then a status-filtered
    aggregate reads back ONLY the matching directory — the physical plan
    carries the predicate as a PartitionFilter, not a data filter
    (asserted in tests/test_plans.py). This is the 100 TB layout move:
    time/dim-partitioned landing tables make every downstream
    status/date-scoped query touch a fraction of the files."""
    path = materialize(
        "part_orders", sf_dir, [f"{sf_dir}/orders.parquet"], {},
        lambda p: sinks.write_partitioned_parquet(
            _t(spark, sf_dir, "orders"), p, ["o_orderstatus"]
        ),
    )
    o = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        _cents_sum("o_totalprice").alias("total"),
    )


@query("""
            SELECT user_id FROM events
            WHERE event_type = 'purchase' AND value > 50.0
            INTERSECT
            SELECT user_id FROM events
            WHERE event_type = 'error' AND value > 45.0
            EXCEPT
            SELECT user_id FROM events
            WHERE event_type = 'signup' AND value > 100.0
        """)
def q_intersect_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops beyond the reference's union (SURVEY §2.7 notes no
    intersect/except): purchasers who also hit errors, minus anyone who
    signed up. Compiles to left-semi/left-anti hash joins over the
    distinct key sets — one shuffle per leg, no sort."""
    ev = _t(spark, sf_dir, "events")

    def users(kind: str, min_value: float) -> DataFrame:
        return ev.filter(
            (F.col("event_type") == kind) & (F.col("value") > min_value)
        ).select("user_id")

    return (
        users("purchase", 50.0)
        .intersect(users("error", 45.0))
        .subtract(users("signup", 100.0))
    )


@query("""
            SELECT COALESCE(event_type, '<all>') AS event_type,
                   COALESCE(CAST(user_id AS VARCHAR), '<all>') AS user_id,
                   COUNT(*) AS n
            FROM events
            GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """)
def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): exact subtotal
    combinations (type), (user), () — via Spark SQL, same text DuckDB
    runs. Grouping-null keys folded to sentinel strings so the hash
    compare is null-order-proof."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ev_gs")
    return spark.sql(
        """
        SELECT COALESCE(event_type, '<all>') AS event_type,
               COALESCE(CAST(user_id AS STRING), '<all>') AS user_id,
               COUNT(*) AS n
        FROM __ev_gs
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )


#: overlapping bands spanning the generator's 900-1000 retail-price range
_PRICE_BANDS = [
    ("budget", 900, 940),
    ("mid", 930, 970),
    ("premium", 960, 1000),
]


@query(f"""
            SELECT band, COUNT(*) AS n_parts,
                   {_sql_cents_avg("p_retailprice")} AS avg_price
            FROM part
            JOIN (VALUES {", ".join(f"('{n}', {lo}.0, {hi}.0)" for n, lo, hi in _PRICE_BANDS)})
                 b(band, lo, hi)
              ON p_retailprice >= lo AND p_retailprice < hi
            GROUP BY band
        """)
def q_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: parts priced into overlapping promo bands via
    the bucketed broadcast equi-join rewrite (relational.band_join) —
    no BroadcastNestedLoopJoin anywhere in the plan."""
    part = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [(name, float(lo), float(hi)) for name, lo, hi in _PRICE_BANDS],
        "band string, lo double, hi double",
    )
    joined = relational.band_join(part, bands, "p_retailprice", step=25.0)
    return joined.groupBy("band").agg(
        F.count("*").alias("n_parts"),
        _cents_avg("p_retailprice").alias("avg_price"),
    )


@query(f"""
            WITH t AS (
                SELECT o_totalprice,
                       NTILE(4) OVER (
                           ORDER BY o_totalprice ASC, o_orderkey ASC
                       ) AS quartile
                FROM orders
            )
            SELECT CAST(quartile AS INT) AS quartile,
                   COUNT(*) AS n,
                   {_sql_cents_sum("o_totalprice")} AS total,
                   {_sql_q("MIN(o_totalprice)", 2)} AS lo,
                   {_sql_q("MAX(o_totalprice)", 2)} AS hi
            FROM t GROUP BY quartile
        """)
def q_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quantile bucketing WITHOUT the single-partition window: a
    naive global NTILE funnels the whole table through one WindowExec
    partition ("No Partition Defined" — the last scale-killer this
    catalog had). Instead: range-partition on the sort key (unique
    orderkey tiebreak → deterministic total order), rank WITHIN each
    range partition in parallel, then add each partition's cumulative
    row offset (a bounded driver fetch of one count per partition — the
    same "tiny refresh unit" pattern as the rollup sink) and convert the
    global rank to its NTILE(4) tile arithmetically. Exactly equals the
    window NTILE — pinned by the unchanged DuckDB oracle — and every
    stage is parallel at any scale. Approximate alternative for when
    even one pass is too much: percentile_approx cutpoints
    (approx_sketches)."""
    orders = _t(spark, sf_dir, "orders")
    n_ranges = 8
    # explicit cutpoints, fetched ONCE and inlined as literals: the
    # bucket is then a pure function of the row, so the counts job and
    # the ranking job can never disagree. (repartitionByRange is NOT
    # usable here — its sampled bounds differ between the jobs that
    # would compute offsets and ranks.) Cutpoint skew only unbalances
    # bucket sizes, never correctness.
    cuts = sorted(
        set(
            orders.stat.approxQuantile(
                "o_totalprice",
                [i / n_ranges for i in range(1, n_ranges)],
                0.001,
            )
        )
    )
    bucket = sum(
        (F.when(F.col("o_totalprice") > F.lit(c), 1).otherwise(0) for c in cuts),
        F.lit(0),
    ).alias("pid")
    part = orders.select("o_orderkey", "o_totalprice", bucket)
    # one row per range bucket — bounded regardless of table size
    counts = sorted(
        (r.pid, r.n)
        for r in part.groupBy("pid").agg(F.count("*").alias("n")).collect()
    )
    total = sum(n for _, n in counts)
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = spark.createDataFrame(offsets, "pid int, off long")
    w = Window.partitionBy("pid").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    grank = F.col("off") + F.row_number().over(w)
    # NTILE semantics: the first (total mod 4) tiles get one extra row
    q, rem = divmod(total, 4)
    boundary = rem * (q + 1)
    tile = (
        F.when(F.lit(q) == 0, F.least(grank, F.lit(4)))
        .when(grank <= boundary, F.ceil(grank / F.lit(q + 1)))
        .otherwise(F.lit(rem) + F.ceil((grank - boundary) / F.lit(max(q, 1))))
    )
    tiled = part.join(F.broadcast(off_df), "pid").withColumn(
        "quartile", tile.cast("int")
    )
    return tiled.groupBy("quartile").agg(
        F.count("*").alias("n"),
        _cents_sum("o_totalprice").alias("total"),
        _q(F.min("o_totalprice"), 2).alias("lo"),
        _q(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(f"""
            WITH cust AS (
                SELECT c_custkey, c_acctbal FROM customer
                WHERE c_acctbal > 9000
            ), spend0 AS (
                SELECT o_custkey,
                       {_sql_cents_sum("o_totalprice")} AS total_spend
                FROM orders GROUP BY o_custkey
            ), spend AS (
                SELECT * FROM spend0 WHERE total_spend > 300000
            )
            SELECT COALESCE(c_custkey, o_custkey) AS custkey,
                   CAST(c_acctbal IS NOT NULL AS INT) AS is_high_balance,
                   CAST(total_spend IS NOT NULL AS INT) AS is_big_spender,
                   {_sql_q("COALESCE(c_acctbal, 0.0)", 2)} AS acctbal,
                   COALESCE(total_spend, 0.0) AS total_spend
            FROM cust FULL OUTER JOIN spend ON c_custkey = o_custkey
        """)
def q_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (completes the join matrix beyond inner/left/
    semi/anti): high-balance customers vs big-spender order totals, with
    exclusive keys surviving on both sides via coalesce."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(_cents_sum("o_totalprice").alias("total_spend"))
        .filter(F.col("total_spend") > 300000)
    )
    joined = cust.join(spend, cust.c_custkey == spend.o_custkey, "full_outer")
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_acctbal").isNotNull().cast("int").alias("is_high_balance"),
        F.col("total_spend").isNotNull().cast("int").alias("is_big_spender"),
        _q(F.coalesce("c_acctbal", F.lit(0.0)), 2).alias("acctbal"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
    )


@query(f"""
            SELECT c_mktsegment,
                   COUNT(*) AS n_orders,
                   {_sql_cents_sum("o_totalprice")} AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """)
def q_salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-busting salted join (relational.salted_join): revenue per
    market segment through orders⋈customer with the probe side scattered
    over 16 salt buckets and the build side replicated per salt. The
    oracle is the PLAIN unsalted join — proving salting changes only the
    physical distribution, never the result. The manual tool for when
    one hot key defeats AQE's skew split at 100 TB."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = relational.salted_join(orders, cust, ["custkey"], n_salts=16)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        _cents_sum("o_totalprice").alias("revenue"),
    )


@query(f"""
            WITH w AS (
                SELECT lang,
                       CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       CAST(SUM(n_chars) AS DOUBLE) AS total_chars,
                       {_sql_cents_avg("n_chars", scale=1, digits=4)}
                           AS avg_chars
                FROM documents GROUP BY lang
            )
            SELECT lang, 'n_docs' AS metric, n_docs AS value FROM w
            UNION ALL
            SELECT lang, 'total_chars', total_chars FROM w
            UNION ALL
            SELECT lang, 'avg_chars', avg_chars FROM w
        """)
def q_unpivot_lang_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (DataFrame.unpivot / melt — the inverse of
    pivot_event_values): per-language wide aggregates folded to long
    (lang, metric, value) rows. Wide→long is a metadata-only projection
    (each input row fans out to k output rows map-side, no shuffle
    beyond the aggregation's own)."""
    docs = _t(spark, sf_dir, "documents")
    wide = docs.groupBy("lang").agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        _cents_avg("n_chars", scale=1, digits=4).alias("avg_chars"),
    )
    return wide.unpivot(
        ["lang"], ["n_docs", "total_chars", "avg_chars"], "metric", "value"
    )


@query(f"""
            WITH t AS (
                SELECT o_orderkey, o_orderpriority,
                       {_sql_q(
                           "PERCENT_RANK() OVER ("
                           "PARTITION BY o_orderpriority "
                           "ORDER BY o_totalprice ASC, o_orderkey ASC)", 6)}
                           AS pct_rank,
                       {_sql_q(
                           "CUME_DIST() OVER ("
                           "PARTITION BY o_orderpriority "
                           "ORDER BY o_totalprice ASC, o_orderkey ASC)", 6)}
                           AS cume_dist
                FROM orders
            )
            SELECT * FROM t WHERE pct_rank >= 0.99
        """)
def q_order_rank_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank windows (percent_rank + cume_dist, completing the
    ranking family beyond row_number/ntile): each order's price
    percentile within its priority class, filtered to the top 1%.
    Deterministic total order via the orderkey tiebreak; both engines
    compute the same (rank-1)/(n-1) doubles, so the quantized filter
    cannot straddle."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    out = orders.select(
        "o_orderkey",
        "o_orderpriority",
        _q(F.percent_rank().over(w), 6).alias("pct_rank"),
        _q(F.cume_dist().over(w), 6).alias("cume_dist"),
    )
    return out.filter(F.col("pct_rank") >= 0.99)


@query("""
            WITH kv AS (
                SELECT event_type,
                       UNNEST(json_keys(props::JSON)) AS pkey,
                       props
                FROM events
            )
            SELECT event_type, pkey, COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.' || pkey)
                                 AS BIGINT)) AS BIGINT) AS total,
                   MIN(CAST(json_extract_string(props, '$.' || pkey)
                            AS BIGINT)) AS vmin,
                   MAX(CAST(json_extract_string(props, '$.' || pkey)
                            AS BIGINT)) AS vmax
            FROM kv GROUP BY event_type, pkey
        """)
def q_props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column path: props JSON decoded to map<string,bigint>
    (not a fixed struct — the schema-free variant of decode_json_props),
    entries exploded map-side and aggregated per (event_type, key).
    Explode fanout is bounded by map cardinality; no extra shuffle
    beyond the aggregation's own."""
    ev = _t(spark, sf_dir, "events")
    m = ev.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,bigint>")).alias(
            "pkey", "pval"
        ),
    )
    return m.groupBy("event_type", "pkey").agg(
        F.count("*").alias("n"),
        F.sum("pval").alias("total"),
        F.min("pval").alias("vmin"),
        F.max("pval").alias("vmax"),
    )


@query(f"""
            WITH chg AS (
                SELECT user_id AS c_custkey,
                       CASE WHEN event_type = 'error' THEN 'D'
                            ELSE 'U' END AS op,
                       {_sql_q("value", 2)} AS new_bal,
                       event_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY event_id DESC
                       ) AS rn
                FROM events
            ), last AS (
                SELECT * FROM chg WHERE rn = 1
            ), b AS (
                SELECT c_custkey, c_mktsegment,
                       {_sql_q("c_acctbal", 2)} AS c_acctbal
                FROM customer
            )
            SELECT COALESCE(b.c_custkey, l.c_custkey) AS c_custkey,
                   b.c_mktsegment AS c_mktsegment,
                   CASE WHEN l.op IS NOT NULL THEN l.new_bal
                        ELSE b.c_acctbal END AS c_acctbal,
                   l.event_id AS event_id
            FROM b FULL OUTER JOIN last l ON b.c_custkey = l.c_custkey
            WHERE l.op IS NULL OR l.op <> 'D'
        """)
def q_cdc_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply (operators.cdc.merge_upsert): the events stream
    read as a change log on the customer snapshot — last write per key
    wins, 'error' deletes the key, anything else upserts the balance;
    log-only keys insert, untouched base rows pass through. Two
    same-key shuffles (log collapse + full-outer resolve), no MERGE
    INTO statement needed."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        _q(F.col("c_acctbal"), 2).alias("c_acctbal"),
    )
    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("c_custkey"),
        F.when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        _q(F.col("value"), 2).alias("c_acctbal"),
        "event_id",
    )
    snap = cdc.merge_upsert(
        cust, changes, ["c_custkey"], ["event_id"], op_col="op"
    )
    return snap.select("c_custkey", "c_mktsegment", "c_acctbal", "event_id")


@query(f"""
            WITH mins AS (
                SELECT user_id,
                       CAST(FLOOR(epoch_ms(ts) / 60000) AS BIGINT) AS m
                FROM events
            ), e AS (
                SELECT user_id,
                       m - (SELECT MIN(m) FROM mins) AS minute_idx
                FROM mins
            ), z AS (
                SELECT user_id, minute_idx,
                       ({_sql_spread("user_id")})
                       | (({_sql_spread("minute_idx")}) << 1) AS zkey
                FROM e
            )
            SELECT zkey >> 26 AS bucket, COUNT(*) AS n,
                   MIN(user_id) AS user_lo, MAX(user_id) AS user_hi,
                   MIN(minute_idx) AS minute_lo,
                   MAX(minute_idx) AS minute_hi
            FROM z GROUP BY bucket
        """)
def q_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key (relational.zorder2_key) over
    (user_id, event-minute): per curve bucket, row count and per-
    dimension min/max spans — the statistics that become parquet
    row-group bounds after `repartitionByRange(z)` + sorted write,
    enabling 2-D scan pruning. Bit-exact integer arithmetic, mirrored
    literally in the oracle."""
    ev = _t(spark, sf_dir, "events")
    minute = F.floor(
        F.unix_millis(F.col("ts").cast("timestamp")) / F.lit(60000)
    ).cast("long")
    # rebase to the corpus's first minute: the key interleaves 16-bit
    # dimensions, and absolute epoch-minutes (~28M) would wrap the mask
    # mid-corpus, scrambling the locality the layout exists to create
    base = ev.agg(F.min(minute).alias("m0"))
    e = (
        ev.select(F.col("user_id"), minute.alias("m"))
        .crossJoin(F.broadcast(base))
        .select(
            "user_id",
            (F.col("m") - F.col("m0")).alias("minute_idx"),
        )
    )
    e = e.withColumn(
        "zkey", relational.zorder2_key(F.col("user_id"), F.col("minute_idx"))
    )
    return (
        e.withColumn("bucket", F.shiftright("zkey", 26))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("user_id").alias("user_lo"),
            F.max("user_id").alias("user_hi"),
            F.min("minute_idx").alias("minute_lo"),
            F.max("minute_idx").alias("minute_hi"),
        )
    )


@query("""
            WITH m AS (
                SELECT event_type,
                       CASE WHEN event_id % 10 = 0
                            THEN SUBSTRING(props, 1, LENGTH(props) - 1)
                            ELSE props END AS props2
                FROM events
            )
            SELECT event_type, COUNT(*) AS n,
                   -- from_json(map<...>) also nulls valid-but-non-object
                   -- JSON, so mirror validity AND object shape (value
                   -- coercion is per the generator contract: int values)
                   CAST(SUM(CASE WHEN json_valid(props2)
                                 THEN (CASE WHEN json_type(props2)
                                                 = 'OBJECT'
                                            THEN 0 ELSE 1 END)
                                 ELSE 1 END) AS BIGINT) AS n_quarantined,
                   CAST(SUM(CASE WHEN json_valid(props2)
                                 THEN (CASE WHEN json_type(props2)
                                                 = 'OBJECT'
                                            THEN 1 ELSE 0 END)
                                 ELSE 0 END) AS BIGINT) AS n_parsed
            FROM m GROUP BY event_type
        """)
def q_corrupt_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record quarantine: a deterministic 10% of the props payloads
    are truncated in flight (every event_id % 10 == 0 loses its last
    char), then parsed with from_json — which yields NULL on malformed
    input instead of failing the job (the PERMISSIVE contract a 100 TB
    ingest needs: one corrupt record must never kill a 6-hour batch).
    Output: parse-health counts per event type."""
    ev = _t(spark, sf_dir, "events")
    mangled = F.when(
        F.col("event_id") % 10 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    parsed = ev.select(
        "event_type",
        F.from_json(mangled, "map<string,bigint>").alias("m"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("m").isNull().cast("long")).alias("n_quarantined"),
        F.sum(F.col("m").isNotNull().cast("long")).alias("n_parsed"),
    )


@query(f"""
            WITH agg AS (
                SELECT event_type, COUNT(*) AS n,
                       SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                           AS spend_c
                FROM events GROUP BY event_type
            )
            SELECT event_type, n,
                   {_sql_q(
                       "CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)",
                       6)} AS share_events,
                   {_sql_q(
                       "CAST(spend_c AS DOUBLE) "
                       "/ CAST(SUM(spend_c) OVER () AS DOUBLE)", 6)}
                       AS share_spend
            FROM agg
        """)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (the dashboard percentage column): per-type event
    count and spend as fractions of the corpus total via an empty-frame
    window over the POST-aggregation rows — the global window touches
    |event types| rows, not the corpus, so the 'single partition' cost
    of an unpartitioned window is irrelevant by construction."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_cents("value")).alias("spend_c"),
    )
    w = Window.partitionBy()
    return agg.select(
        "event_type",
        "n",
        _q(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "share_events"
        ),
        _q(
            F.col("spend_c").cast("double") / F.sum("spend_c").over(w), 6
        ).alias("share_spend"),
    )


@query("""
            WITH counts AS (
                SELECT c_mktsegment, c_custkey, COUNT(*) AS n_orders
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_mktsegment, c_custkey
            ), ranked AS (
                SELECT c_mktsegment, c_custkey, n_orders,
                       CAST(RANK() OVER (
                           PARTITION BY c_mktsegment
                           ORDER BY n_orders DESC
                       ) AS INT) AS rnk,
                       CAST(DENSE_RANK() OVER (
                           PARTITION BY c_mktsegment
                           ORDER BY n_orders DESC
                       ) AS INT) AS drnk
                FROM counts
            )
            SELECT * FROM ranked WHERE rnk <= 3
        """)
def q_rank_vs_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie semantics of the rank family: customers ranked by order count
    within market segment, keeping everyone with rank() <= 3 — ties
    share a rank (and inflate the next), dense_rank stays gapless. The
    rank-value filter makes the result set deterministic WITHOUT a
    tiebreak column: all peers of a qualifying rank qualify together."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    counts = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("n_orders"))
    ranked = counts.select(
        "c_mktsegment",
        "c_custkey",
        "n_orders",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )
    return ranked.filter(F.col("rnk") <= 3)


@query("""
            SELECT user_id, event_id,
                   ts AS valid_from,
                   LEAD(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS valid_to,
                   CAST(LEAD(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) IS NULL AS INT) AS is_current
            FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL
        """)
def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each user's purchase log becomes
    validity intervals [valid_from, valid_to), open-ended for the
    current version — one LEAD window per key, no self-join."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        temporal,
    )

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    hist = temporal.scd2_ranges(
        ev, ["user_id"], ts_col="ts", order_tiebreak=["event_id"]
    )
    return hist.select(
        "user_id", "event_id", "valid_from", "valid_to",
        F.col("valid_to").isNull().cast("int").alias("is_current"),
    )


@query("""
            SELECT c_count, COUNT(*) AS n_customers
            FROM (
                SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
                FROM customer c
                LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey
            )
            GROUP BY c_count
        """)
def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customers bucketed by how many orders they have,
    including zero (left outer join preserved through two aggregation
    levels)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("n_customers")
    )


@query("""
            WITH w AS (
                SELECT
                    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) AS c0,
                    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey)
                         AS BIGINT) AS c1,
                    CAST(SUM(CASE WHEN (o_totalprice < 0) IS NOT FALSE
                                  THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                    CAST(SUM(CASE WHEN (o_orderdate < TIMESTAMP '1990-01-01'
                                     OR o_orderdate >= TIMESTAMP '2005-01-01')
                                       IS NOT FALSE
                                  THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                    CAST(SUM(CASE WHEN (o_orderstatus NOT IN ('F', 'O', 'P'))
                                       IS NOT FALSE
                                  THEN 1 ELSE 0 END) AS BIGINT) AS c4
                FROM orders
            )
            SELECT chk AS check, v AS n_violations, v = 0 AS passed
            FROM w, LATERAL (VALUES
                ('orderkey_not_null', c0),
                ('orderkey_unique', c1),
                ('totalprice_nonneg', c2),
                ('orderdate_in_window', c3),
                ('status_in_domain', c4)) t(chk, v)
        """)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style expectations (operators.quality): five named
    constraints over orders — nullability, key uniqueness, value range,
    date window, and domain membership — verified in ONE aggregation
    pass (each violation counter a map-side conditional sum; uniqueness
    folds into the same aggregate as count − count_distinct)."""
    o = _t(spark, sf_dir, "orders")
    checks = [
        quality.violation("orderkey_not_null", F.col("o_orderkey").isNull()),
        quality.unique_violation("orderkey_unique", "o_orderkey"),
        quality.violation("totalprice_nonneg", F.col("o_totalprice") < 0),
        quality.violation(
            "orderdate_in_window",
            (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2005-01-01").cast("timestamp")),
        ),
        quality.violation(
            "status_in_domain", ~F.col("o_orderstatus").isin("F", "O", "P")
        ),
    ]
    return quality.expectations_report(o, checks)


@query("""
            WITH tagged AS (
                SELECT user_id,
                       list_filter([
                           CASE WHEN (value < 0 OR value > 300.0) IS NOT FALSE
                                THEN 'value_in_range' END,
                           CASE WHEN (event_type = 'error') IS NOT FALSE
                                THEN 'not_error_event' END,
                           CASE WHEN user_id IS NULL
                                THEN 'user_id_present' END
                       ], x -> x IS NOT NULL) AS failed
                FROM events
            )
            SELECT CASE WHEN len(failed) = 0 THEN 'accepted'
                        ELSE 'quarantined' END AS route,
                   COALESCE(array_to_string(failed, ','), '') AS reason,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT user_id) AS n_users
            FROM tagged
            GROUP BY 1, 2
        """)
def q_quality_gate_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quality gate through the production tagging path
    (quality.tag_failures): each event is annotated with the array of violated checks
    (null-safe — an unknown predicate is a violation, not a pass), then
    routed accepted/quarantined and rolled up per reason-combination.
    The oracle recomputes every predicate and the array-compact fold in
    DuckDB, so the routing semantics — including multi-reason
    rows — are hash-gated, not just unit-tested. Counts only (no float
    sums), so the match is exact. Ref parity: the reference ships rows
    to ES with no validation at all (kafka_to_es.py:55-69); this is the
    gate a production ingest would put in front of that sink."""
    ev = _t(spark, sf_dir, "events")
    checks = [
        ("value_in_range", (F.col("value") < 0) | (F.col("value") > 300.0)),
        ("not_error_event", F.col("event_type") == "error"),
        ("user_id_present", F.col("user_id").isNull()),
    ]
    tagged = quality.tag_failures(ev, checks)
    return (
        tagged.withColumn(
            "route",
            F.when(F.size("failed_checks") == 0, F.lit("accepted")).otherwise(
                F.lit("quarantined")
            ),
        )
        .groupBy("route", F.array_join("failed_checks", ",").alias("reason"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@query("""
            WITH agg AS (
                SELECT c.c_mktsegment AS seg, e.event_type,
                       COUNT(*) AS n,
                       CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT))
                            AS BIGINT) AS value_cents
                FROM events e
                JOIN customer c ON e.user_id = c.c_custkey
                GROUP BY c.c_mktsegment, e.event_type
            )
            SELECT seg, event_type, n, value_cents,
                   FLOOR(n * 1e6 / SUM(n) OVER (PARTITION BY seg) + 0.5)
                     / 1e6 AS share_of_seg
            FROM agg
        """)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the same engine through spark.sql over
    registered temp views — ANSI join + aggregate with window share-of-
    group, parsed by Spark's SQL parser into the identical Catalyst plan
    a DataFrame chain would produce (same pushdown, same broadcast)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("v_events")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        WITH agg AS (
            SELECT c.c_mktsegment AS seg, e.event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM v_events e
            JOIN v_customer c ON e.user_id = c.c_custkey
            GROUP BY c.c_mktsegment, e.event_type
        )
        SELECT seg, event_type, n, value_cents,
               FLOOR(n * 1e6 / SUM(n) OVER (PARTITION BY seg) + 0.5)
                 / 1e6 AS share_of_seg
        FROM agg
        """
    )


@query(f"""
            WITH cols AS (
                SELECT 'o_custkey' AS col, CAST(o_custkey AS VARCHAR) AS v
                FROM orders
                UNION ALL
                SELECT 'o_orderstatus', o_orderstatus FROM orders
                UNION ALL
                SELECT 'o_orderpriority', o_orderpriority FROM orders
            ),
            base AS (
                SELECT col AS "column",
                       COUNT(*) AS n_rows,
                       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_nulls,
                       MIN(v) AS min_str, MAX(v) AS max_str,
                       COUNT(DISTINCT v) AS ndv_exact
                FROM cols GROUP BY 1
            ),
            h AS (
                SELECT DISTINCT col,
                       CAST(('0x' || substring(md5('kmv:' || v), 1, 15)
                            )::UBIGINT AS BIGINT) AS h
                FROM cols WHERE v IS NOT NULL
            ),
            bk AS (
                SELECT col, h,
                       row_number() OVER (PARTITION BY col
                                          ORDER BY h ASC) AS rk
                FROM h QUALIFY rk <= 64
            ),
            est AS (
                SELECT col AS "column", COUNT(*) AS n_seen,
                       MAX(CASE WHEN rk = 64 THEN h END) AS kth
                FROM bk GROUP BY 1
            )
            SELECT b."column", n_rows, n_nulls, min_str, max_str,
                   ndv_exact,
                   {_sql_q(
                       "CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE) "
                       "ELSE 63.0 / (kth / 1152921504606846976.0) END", 2
                   )} AS ndv_est
            FROM base b JOIN est USING ("column")
            ORDER BY "column"
        """)
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table statistics for the optimizer's benefit: per
    column of orders — row count, null count, lexicographic min/max of
    the string form, and a KMV ndv estimate beside the exact distinct
    count. This is the stats-collection pass a CBO consumes for join
    ordering and broadcast decisions; at 100 TB you run it per
    partition and merge (counts sum, min/max compare, KMV sketches
    union — every statistic here is mergeable by construction)."""
    o = _t(spark, sf_dir, "orders")
    frames = []
    for c in ["o_custkey", "o_orderstatus", "o_orderpriority"]:
        col = o.select(F.col(c).cast("string").alias("v")).withColumn(
            "column", F.lit(c)
        )
        base = col.groupBy("column").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias(
                "n_nulls"
            ),
            F.min("v").alias("min_str"),
            F.max("v").alias("max_str"),
            F.countDistinct("v").alias("ndv_exact"),
        )
        sk = sketches.kmv_build(
            col.filter(F.col("v").isNotNull()), ["column"], "v", k=64
        )
        est = sketches.kmv_estimate(sk, ["column"], k=64).select(
            "column", _q(F.col("ndv_est"), 2).alias("ndv_est")
        )
        frames.append(base.join(est, "column"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("column")


@query("""
            WITH lv AS (
                SELECT o_totalprice AS p, MAX(o_orderdate) AS lv_mx
                FROM orders GROUP BY 1
            ),
            lv2 AS (
                SELECT p,
                       MAX(lv_mx) OVER (
                           ORDER BY p DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING
                       ) AS thr
                FROM lv
            )
            SELECT o_orderkey, o_totalprice, o_orderdate
            FROM orders JOIN lv2 ON o_totalprice = p
            WHERE thr IS NULL OR thr <= o_orderdate
            ORDER BY o_totalprice DESC, o_orderkey ASC
        """)
def q_pareto_front_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query: orders not strictly dominated on
    (totalprice, orderdate) — no other order has BOTH a higher price
    and a later date. The naive formulation is an inequality self-join
    (quadratic); the classic single-window rewrite (running max of date
    over price-descending) funnels everything through one WindowExec
    partition. This version keeps the rewrite but distributes it with
    the same cutpoint-bucket machinery as q_order_quartiles: price
    levels bucket by inlined approx-quantile literals, the running max
    runs per-bucket in parallel, and a bounded per-bucket max table
    (≤ n_ranges rows, driver round-trip like the rollup sink's day
    list) carries the cross-bucket prefix. Dominance ties are handled
    strictly: equal price never dominates, equal date never dominates.
    The DuckDB oracle uses the plain one-window rewrite — same rows."""
    orders = _t(spark, sf_dir, "orders")
    n_ranges = 8
    # materialize the price-level table once: the bounded per-bucket
    # max collect and the final join each re-ran the orders scan +
    # groupBy without it (guide §1.2).
    lv = orders.groupBy(F.col("o_totalprice").alias("p")).agg(
        F.max("o_orderdate").alias("lv_mx")
    ).localCheckpoint(eager=False)
    cuts = sorted(
        set(
            orders.stat.approxQuantile(
                "o_totalprice",
                [i / n_ranges for i in range(1, n_ranges)],
                0.001,
            )
        )
    )
    bucket = sum(
        (F.when(F.col("p") > F.lit(c), 1).otherwise(0) for c in cuts),
        F.lit(0),
    ).alias("pid")
    lv_b = lv.select("p", "lv_mx", bucket)
    # strictly-higher-price running max WITHIN each bucket (parallel)
    w = Window.partitionBy("pid").orderBy(F.desc("p")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    lv2 = lv_b.withColumn("mx_in", F.max("lv_mx").over(w))
    # bounded cross-bucket carry: max level-date of every HIGHER bucket
    bmax = {
        r.pid: r.mx
        for r in lv_b.groupBy("pid").agg(F.max("lv_mx").alias("mx")).collect()
    }
    carry_rows, run = [], None
    for pid in sorted(bmax, reverse=True):
        carry_rows.append((pid, run))
        run = bmax[pid] if run is None else max(run, bmax[pid])
    carry_df = spark.createDataFrame(
        carry_rows, "pid int, carry timestamp"
    )
    thr = F.greatest(F.col("mx_in"), F.col("carry"))
    levels = (
        lv2.join(F.broadcast(carry_df), "pid")
        .select("p", thr.alias("thr"))
    )
    return (
        orders.join(levels, orders.o_totalprice == levels.p)
        .filter(F.col("thr").isNull() | (F.col("thr") <= F.col("o_orderdate")))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


@query("""
            SELECT o_orderpriority,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS total_cents
            FROM orders
            WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-parameter binding): the same
    front door as q_sql_surface but with the filter values bound as
    PARAMETERS, not interpolated strings — the injection-safe prepared-
    statement surface a serving layer uses. The binding happens at
    parse time (`:status` / `:floor` markers), so Catalyst still sees
    literals and pushes them to the parquet scan like any constant."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_p")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM v_orders_p
        WHERE o_orderstatus = :status AND o_totalprice > :floor
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"status": "F", "floor": 50000.0},
    )


@query(f"""
            WITH f AS (
                SELECT r.r_name, n.n_name,
                       CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS c
                FROM orders o
                JOIN customer cu ON o.o_custkey = cu.c_custkey
                JOIN nation n ON cu.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
            ),
            rolled AS (
                SELECT r_name, n_name,
                       CAST(SUM(c) AS BIGINT) AS spend_c,
                       GROUPING(r_name, n_name) AS gid
                FROM f GROUP BY ROLLUP (r_name, n_name)
            ),
            regions AS (
                SELECT r_name AS pr, spend_c AS parent_c
                FROM rolled WHERE gid = 1
            ),
            grand AS (SELECT spend_c AS grand_c FROM rolled WHERE gid = 3)
            SELECT 'nation' AS level, ro.r_name, ro.n_name, ro.spend_c,
                   {_sql_q("CAST(ro.spend_c AS DOUBLE) / parent_c", 6)}
                       AS share_of_parent
            FROM rolled ro JOIN regions ON ro.r_name = regions.pr
            WHERE ro.gid = 0
            UNION ALL
            SELECT 'region', r_name, NULL, spend_c,
                   {_sql_q("CAST(spend_c AS DOUBLE) / grand_c", 6)}
            FROM rolled, grand WHERE gid = 1
            UNION ALL
            SELECT 'total', NULL, NULL, spend_c, 1.0
            FROM rolled WHERE gid = 3
            ORDER BY level, r_name, n_name
        """)
def q_spend_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent rollup (the drill-down percentage
    column every BI tool renders): ROLLUP(region, nation) over order
    spend, each row carrying its share of its PARENT level — nations
    against their region, regions against the grand total, the total
    against itself. Exact integer cents throughout; each share is one
    micro-quantized IEEE division of exact sums, and the parent totals
    come from the SAME rollup output self-joined at the coarser level
    (grouping_id distinguishes levels) — no second scan of the facts.
    Dimension joins broadcast; the rollup shuffles |regions×nations|
    partial rows after map-side combine."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    facts = (
        orders.select("o_custkey", _cents("o_totalprice").alias("c"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    rolled = facts.rollup("r_name", "n_name").agg(
        F.sum("c").alias("spend_c"),
        F.grouping_id().alias("gid"),
    )
    regions = rolled.filter(F.col("gid") == 1).select(
        F.col("r_name").alias("pr"), F.col("spend_c").alias("parent_c")
    )
    grand = rolled.filter(F.col("gid") == 3).select(
        F.col("spend_c").alias("grand_c")
    )
    nations = (
        rolled.filter(F.col("gid") == 0)
        .join(F.broadcast(regions), F.col("r_name") == F.col("pr"))
        .select(
            F.lit("nation").alias("level"),
            "r_name",
            "n_name",
            "spend_c",
            _q(F.col("spend_c") / F.col("parent_c"), 6).alias(
                "share_of_parent"
            ),
        )
    )
    region_rows = (
        rolled.filter(F.col("gid") == 1)
        .crossJoin(F.broadcast(grand))
        .select(
            F.lit("region").alias("level"),
            "r_name",
            F.lit(None).cast("string").alias("n_name"),
            "spend_c",
            _q(F.col("spend_c") / F.col("grand_c"), 6).alias(
                "share_of_parent"
            ),
        )
    )
    total_row = (
        rolled.filter(F.col("gid") == 3)
        .select(
            F.lit("total").alias("level"),
            F.lit(None).cast("string").alias("r_name"),
            F.lit(None).cast("string").alias("n_name"),
            "spend_c",
            F.lit(1.0).alias("share_of_parent"),
        )
    )
    return nations.unionByName(region_rows).unionByName(total_row).orderBy(
        "level", "r_name", "n_name"
    )


@query("""
            WITH corrected AS (
                SELECT o_custkey,
                       CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
                                 AND o_orderkey % 97 = 0
                            THEN 2 * CAST(ROUND(o_totalprice * 100, 0)
                                          AS BIGINT)
                            ELSE CAST(ROUND(o_totalprice * 100, 0)
                                      AS BIGINT)
                       END AS cents
                FROM orders
            ), agg AS (
                SELECT o_custkey AS custkey,
                       COUNT(*) AS n_orders,
                       CAST(SUM(cents) AS BIGINT) AS total_cents
                FROM corrected GROUP BY o_custkey
            )
            SELECT custkey,
                   CAST(n_orders AS BIGINT) AS n_orders,
                   total_cents,
                   CAST(total_cents // n_orders * 1000000
                        + (total_cents % n_orders) * 1000000 // n_orders
                   AS BIGINT) AS mean_micro
            FROM agg ORDER BY custkey
        """)
def q_incremental_rollup_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance for a distributive rollup — the
    way a 100 TB per-customer aggregate stays fresh WITHOUT rescanning
    history (the classic delta-propagation result: Griffin & Libkin,
    SIGMOD 1995; every streaming 'upsert the rollup' pipeline is this
    pattern): the maintained state is (sum, count) partials per
    customer built from the pre-cutoff base ONCE; a change batch then
    applies as pure partial-aggregate algebra — INSERTS (orders at or
    after the 1999-01-01 cutoff) contribute (+cents, +1) and UPDATES
    (a deterministic 'price correction' doubling every pre-cutoff
    order with o_orderkey % 97 == 0) contribute a RETRACTION
    (−old, −1) plus a re-insert (+new, +1) — negative partials, the
    part naive 'just re-add it' maintenance gets wrong. One
    unionByName + one re-aggregation over the DELTA-sized batch; the
    base never rescans. The DuckDB oracle computes the FINAL state
    directly from the corrected full table, so a hash match proves the
    delta algebra (including retractions) exactly equals
    recomputation. Output per customer: n_orders, total_cents, and
    the integer mean via the split-division identity."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1999-01-01").cast("timestamp")
    cents = _cents("o_totalprice")
    corrected = F.col("o_orderkey") % 97 == 0
    base = (
        o.filter(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(
            F.sum(cents).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    inserts = o.filter(F.col("o_orderdate") >= cut).select(
        "o_custkey", cents.alias("s"), F.lit(1).cast("long").alias("n")
    )
    upd_src = o.filter((F.col("o_orderdate") < cut) & corrected)
    retract = upd_src.select(
        "o_custkey", (-cents).alias("s"), F.lit(-1).cast("long").alias("n")
    )
    reinsert = upd_src.select(
        "o_custkey",
        (cents * 2).alias("s"),
        F.lit(1).cast("long").alias("n"),
    )
    maintained = (
        base.unionByName(inserts)
        .unionByName(retract)
        .unionByName(reinsert)
        .groupBy("o_custkey")
        .agg(F.sum("s").alias("total_cents"), F.sum("n").alias("n_orders"))
        .filter(F.col("n_orders") > 0)
    )
    return maintained.select(
        F.col("o_custkey").alias("custkey"),
        "n_orders",
        "total_cents",
        F.expr(
            "total_cents DIV n_orders * 1000000"
            " + (total_cents % n_orders) * 1000000 DIV n_orders"
        ).alias("mean_micro"),
    ).orderBy("custkey")


@query("""
            WITH pk AS (
                SELECT o_custkey, COUNT(*) AS c
                FROM orders GROUP BY o_custkey
            ), r AS (
                SELECT o_custkey, c,
                       row_number() OVER (ORDER BY c DESC, o_custkey)
                           AS rk
                FROM pk
            ), cm AS (
                SELECT rk, c,
                       SUM(c) OVER (ORDER BY rk
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_c
                FROM r
            ), t AS (
                SELECT COUNT(*) AS k, SUM(c) AS tt, MAX(c) AS mx
                FROM pk
            )
            SELECT CAST(k AS BIGINT) AS n_keys,
                   CAST(tt AS BIGINT) AS total_rows,
                   CAST(mx AS BIGINT) AS max_key_rows,
                   CAST(c AS BIGINT) AS p99_key_rows,
                   CAST(cum_c AS BIGINT) AS top1pct_rows,
                   CAST(mx * k // tt * 1000000
                        + (mx * k % tt) * 1000000 // tt
                   AS BIGINT) AS max_over_mean_micro,
                   CAST(cum_c // tt * 1000000
                        + (cum_c % tt) * 1000000 // tt
                   AS BIGINT) AS top1pct_share_micro
            FROM cm, t WHERE rk = greatest(1, k // 100)
        """)
def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight skew diagnostic a join on o_custkey needs BEFORE
    it runs at 100 TB (the decide-whether-to-salt number; AQE's skew
    split fires on partition sizes, but the per-KEY histogram is what
    tells you WHICH keys to salt and how much): per join key, the row
    count; reported as one row — key cardinality, total rows, the max
    and p99-by-rank key weights, and two exact skew ratios in micro
    units (max·n_keys/total == how many times the heaviest key
    exceeds the mean; top-1% share == mass in the heaviest 1% of
    keys). The p99 boundary and top-1% mass come from the SAME
    _dist_rank/_dist_cumsum machinery over per-key counts DESCENDING
    (ranked on the negated count, the rfm trick) — everything integer,
    so the DuckDB twin hash-matches."""
    o = _t(spark, sf_dir, "orders")
    # materialized once: approxQuantile, the two offset fetches, and
    # the totals aggregate each re-ran the scan + groupBy without it.
    per_key = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("o_custkey", "c", (-F.col("c")).alias("__nc"))
        .localCheckpoint(eager=False)
    )
    cuts = [
        float(x)
        for x in per_key.stat.approxQuantile(
            "__nc", [i / 8 for i in range(1, 8)], 0.001
        )
    ]
    # one census + one pass: rank rides the cumsum (guide §1.2)
    cum = _dist_cumsum(
        per_key, "__nc", "o_custkey", ["c"], cuts, rank_out="__rk"
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("c").alias("__t"),
        F.max("c").alias("__mx"),
    )
    top1 = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            F.col("__rk")
            == F.greatest(
                F.lit(1).cast("long"),
                (F.col("__k") / F.lit(100)).cast("long"),
            )
        )
        .select(
            F.col("__k").alias("n_keys"),
            F.col("__t").alias("total_rows"),
            F.col("__mx").alias("max_key_rows"),
            F.col("c").alias("p99_key_rows"),
            F.col("cum_c").alias("top1pct_rows"),
        )
    )
    return top1.select(
        "n_keys",
        "total_rows",
        "max_key_rows",
        "p99_key_rows",
        "top1pct_rows",
        F.expr(
            "max_key_rows * n_keys DIV total_rows * 1000000"
            " + (max_key_rows * n_keys % total_rows) * 1000000"
            "   DIV total_rows"
        ).alias("max_over_mean_micro"),
        F.expr(
            "top1pct_rows DIV total_rows * 1000000"
            " + (top1pct_rows % total_rows) * 1000000 DIV total_rows"
        ).alias("top1pct_share_micro"),
    )
