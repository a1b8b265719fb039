"""Scaling runs: how catalog queries and operators grow with their input.

Each spec grows one input over a list of scales (a replicated corpus, a
query set, a vocabulary, a hub degree, a cell count) and times what runs
on it. One runner serves every spec: it opens the session, warms the
JVM up on sf0.001 before timing catalog queries, takes the best (or
median) of N timings, works out growth against linear, and rewrites
the spec's table in SCALING.md, between its ``<!-- scaling:<spec> -->``
markers and nowhere else. The prose around each table says what the
spec's shape shows.

Replicated corpora are built once per (recipe, scale) under
``.benchmarks/scaling/`` from the sf0.1 test data; tables a recipe does
not grow are symlinked.

Usage: python tools/scaling.py <spec> [scale ...]
       python tools/scaling.py               (lists the specs)
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    get_spark,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    graph,
    multimodal,
    relational,
    rollup,
    sampling,
    similarity,
    sketches,
    tokenizer,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING_MD = os.path.join(REPO, "SCALING.md")
SF0001 = entrymod.SF0001
BASE = os.path.join(os.path.dirname(SF0001), "sf0.1")
OUT = os.path.join(REPO, ".benchmarks", "scaling")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


# ------------------------------------------------------------------ runner
def best_of(n: int, fn):
    """(seconds, result) of the fastest of `n` calls of `fn`."""
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        if best is None or dt < best[0]:
            best = (dt, out)
    return best


def median_of_3(fn) -> float:
    """Median seconds of 3 calls after one untimed warm-up call."""
    fn()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[1]


def linear(t: float, t0: float, n: float, n0: float) -> float:
    """Growth against linear: (t / t0) / (n / n0). 1.0 is linear, below
    is sublinear (fixed costs amortizing), above is a scale bottleneck."""
    return (t / t0) / (n / n0) if t0 else float("nan")


def corpus(spark, recipe: str, k: int, write) -> str:
    """An sf dir holding sf0.1 with the tables `write(spark, k, out)`
    writes (it returns their names) grown k-fold; the other tables are
    symlinked. Built once per (recipe, k)."""
    out = os.path.join(OUT, f"{recipe}_x{k}")
    if os.path.exists(os.path.join(out, "_built")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    grown = write(spark, k, out)
    for t in TABLES:
        if t not in grown:
            os.symlink(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")
    open(os.path.join(out, "_built"), "w").write("ok")
    return out


def series(scales, data, items: dict, reps: int = 2, label: str = "query"):
    """One row per item, one column per scale: best-of-`reps` seconds
    of `items[name](data(k))`, which returns the output row count; then
    growth against linear and the output rows across the scales."""
    times: dict = {n: {} for n in items}
    rows: dict = {n: {} for n in items}
    for k in scales:
        d = data(k)
        for name, fn in items.items():
            times[name][k], rows[name][k] = best_of(reps, lambda: fn(d))
            print(f"k={k} {name}: {times[name][k]:.2f}s ({rows[name][k]} rows)")
        empty = [n for n in items if rows[n][k] == 0]
        if empty:  # reading nothing is a harness bug, not a measurement
            raise SystemExit(f"zero output rows at k={k} for {empty}")
    k0, k1 = scales[0], scales[-1]
    lines = [
        f"| {label} | " + " | ".join(f"k={k}" for k in scales)
        + " | growth vs linear | out rows |",
        "|---|" + "---|" * (len(scales) + 2),
    ]
    for name in items:
        t = times[name]
        lines.append(
            f"| {name} | " + " | ".join(f"{t[k]:.2f}s" for k in scales)
            + f" | {linear(t[k1], t[k0], k1, k0):.2f}× | "
            + " → ".join(str(rows[name][k]) for k in scales) + " |"
        )
    return lines


def query_series(spark, scales, build, names, reps=2, noop=()):
    """`series` over catalog queries on the sf dirs `build(spark, k)`
    makes, after a warm-up pass on sf0.001. A query in `noop` is timed
    through the noop sink, which materializes every column; a bare
    count() would let Catalyst prune a projection down to a metadata
    count. Streaming queries run inside the builder call, so the timer
    covers it too."""
    qs = entrymod.queries()
    for name in names:
        qs[name](spark, SF0001).count()

    def run(name):
        def timed(sf_dir):
            df = qs[name](spark, sf_dir)
            if name in noop:
                df.write.format("noop").mode("overwrite").save()
            return df.count()

        return timed

    return series(scales, lambda k: build(spark, k),
                  {n: run(n) for n in names}, reps)


def rewrite_table(spec: str, lines: list[str]) -> None:
    """Replace the block between the spec's markers in SCALING.md."""
    begin, end = f"<!-- scaling:{spec} -->", f"<!-- /scaling:{spec} -->"
    with open(SCALING_MD) as f:
        text = f.read()
    head, found, rest = text.partition(begin)
    _, found_end, tail = rest.partition(end)
    if not (found and found_end):
        raise SystemExit(f"SCALING.md has no {begin} ... {end} block")
    with open(SCALING_MD, "w") as f:
        f.write(head + begin + "\n" + "\n".join(lines) + "\n" + end + tail)
    print(f"rewrote the {spec} table in {SCALING_MD}")


# ----------------------------------------------------------------- corpora
def perturbed_documents(spark, k: int, out: str):
    """k replicas of documents; replica i > 0 interleaves a
    (replica, doc, position)-unique marker every 5 words, so replicas
    are not 3-shingle near-dups of each other and the near-dup rate per
    unit of corpus stays constant. (Shared markers would dominate
    SimHash bit votes and collapse every replica into one bucket.)"""
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n = docs.count()
    rep = docs.withColumn("__rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    words = F.split(F.trim(F.col("text")), r"\s+")
    marker = F.concat(
        F.lit("zz"), F.col("__rep").cast("string"),
        F.lit("d"), F.col("doc_id").cast("string"),
    )
    text = F.array_join(
        F.flatten(
            F.transform(
                words,
                lambda w, p: F.when(
                    (p % 5 == 0) & (F.col("__rep") > 0),
                    F.array(F.concat(marker, F.lit("p"), p.cast("string")), w),
                ).otherwise(F.array(w)),
            )
        ),
        " ",
    )
    (
        rep.withColumn("doc_id", F.col("doc_id") + F.col("__rep") * n)
        .withColumn("text", text)
        .withColumn("n_chars", F.length("text"))
        .drop("__rep")
        .coalesce(8 * k)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )
    return {"documents"}


def entity_replicas(*tables: str):
    """A recipe growing `tables` k-fold by entities, not multi-edges:
    events shift user and event ids and suffix the event type per
    replica (k disjoint who-follows-whom graph copies; the time axis is
    untouched), orders and lineitem shift the order key consistently
    (FK edges stay valid, dimension selectivity is kept: facts grow,
    dims don't)."""

    def write(spark, k: int, out: str):
        rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__rep")
        r = F.col("__rep")
        grown = {}
        if "events" in tables:
            ev = spark.read.parquet(f"{BASE}/events.parquet")
            max_uid = ev.agg(F.max("user_id")).collect()[0][0] + 1
            max_eid = ev.agg(F.max("event_id")).collect()[0][0] + 1
            grown["events"] = ev.select("*", rep).select(
                (F.col("event_id") + r * max_eid).alias("event_id"),
                "ts",
                (F.col("user_id") + r * max_uid).alias("user_id"),
                F.when(r == 0, F.col("event_type"))
                .otherwise(F.concat("event_type", F.lit("#"), r.cast("string")))
                .alias("event_type"),
                "value",
                "props",
            )
        if "orders" in tables or "lineitem" in tables:
            orders = spark.read.parquet(f"{BASE}/orders.parquet")
            max_ok = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
            for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
                if t in tables:
                    df = spark.read.parquet(f"{BASE}/{t}.parquet")
                    grown[t] = (
                        df.select("*", rep)
                        .withColumn(key, F.col(key) + r * max_ok)
                        .drop("__rep")
                    )
        for t, df in grown.items():
            df.repartition(max(8, min(64, 8 * k))).write.mode(
                "overwrite"
            ).parquet(f"{out}/{t}.parquet")
        return set(grown)

    return write


def noisy_queries(spark, vecs: np.ndarray, q: int):
    """`q` seeded noisy copies of corpus vectors as a bulk query set."""
    rng = np.random.RandomState(1234)
    qm = vecs[rng.randint(0, len(vecs), size=q)] + rng.randn(q, vecs.shape[1]) * 0.05
    return spark.createDataFrame(
        [(int(i), [float(x) for x in qm[i]]) for i in range(q)],
        "query_id long, qvec array<double>",
    ).localCheckpoint(eager=True)


def sf01_vectors(spark) -> np.ndarray:
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet").orderBy("vec_id")
    return np.asarray([list(r.embedding) for r in emb.collect()], dtype=np.float64)


# ------------------------------------------------------------------- specs
def spec_documents(spark, scales):
    names = [
        "doc_token_counts", "quality_scores", "exact_dedup_docs",
        "minhash_dedup_pairs", "simhash_candidates", "corpus_pipeline_end2end",
        "gopher_quality_rules", "langid_trigram", "dedup_keep_best",
        "passage_dedup_stats", "doremi_domain_weights", "streaming_passage_dedup",
        "boilerplate_scrub", "pretrain_shard_plan", "vocab_growth_zipf_profile",
        "tokenizer_fertility_report", "source_overlap_matrix",
    ]
    noop = {"doc_token_counts", "quality_scores", "gopher_quality_rules",
            "dedup_keep_best", "passage_dedup_stats", "boilerplate_scrub",
            "pretrain_shard_plan", "vocab_growth_zipf_profile"}
    return query_series(
        spark, scales,
        lambda s, k: corpus(s, "documents", k, perturbed_documents),
        names, noop=noop,
    )


def spec_relational(spark, scales):
    names = [
        "pagerank_user_graph", "label_propagation_communities",
        "label_propagation_weighted", "pareto_front_orders",
        "fk_integrity_report", "cohort_retention", "cms_heavy_hitters",
        "tpch_q7_volume_shipping", "tpch_q9_product_type_profit",
        "tpch_q21_waiting_suppliers", "bootstrap_ci_means", "kcore_user_graph",
        "mann_whitney_value_shift", "gini_customer_spend",
        "session_concurrency_profile", "theil_sen_daily_trend",
        "changepoint_best_split", "spearman_price_date", "kaplan_meier_churn",
        "bh_fdr_event_shifts", "psi_value_drift", "acf_minute_counts",
        "calendar_seasonality_profile", "cusum_drift_profile", "lorenz_deciles",
        "activity_correlation_matrix", "market_basket_rules",
        "incremental_rollup_maintenance", "join_skew_report", "bfs_hop_distance",
        "degree_assortativity", "phrase_search", "proximity_search",
        "link_prediction_cn",
    ]
    grow = entity_replicas("events", "orders", "lineitem")
    return query_series(
        spark, scales, lambda s, k: corpus(s, "entities", k, grow), names
    )


def spec_tpch(spark, scales):
    names = ["tpch_q1_pricing_summary", "multiway_join_revenue",
             "tpch_q18_large_orders", "tpch_q5_local_supplier_volume",
             "tpch_q9_product_type_profit"]
    grow = entity_replicas("orders", "lineitem")
    return query_series(
        spark, scales, lambda s, k: corpus(s, "facts", k, grow), names
    )


def spec_basket(spark, scales):
    grow = entity_replicas("lineitem")
    return query_series(
        spark, scales, lambda s, k: corpus(s, "baskets", k, grow),
        ["market_basket_rules"],
    )


def spec_mechanisms(spark, scales):
    """Events grow with per-replica user-id offsets (the key domain grows
    with the volume), documents with fresh doc_ids."""

    def grow(path, col, step, k):
        df = spark.read.parquet(path)
        r = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__rep")
        return df.select("*", r).withColumn(
            col, F.col(col) + F.col("__rep") * F.lit(step)
        ).drop("__rep").persist()

    held: list = []

    def data(k):
        for df in held:
            df.unpersist()
        held[:] = [grow(f"{BASE}/events.parquet", "user_id", 1_000_000, k),
                   grow(f"{BASE}/documents.parquet", "doc_id", 10_000_000, k)]
        return held

    def logbucket(d):
        vals = d[0].select(
            "event_type", (F.abs(F.col("value")) * 100 + 1).cast("long").alias("v")
        )
        return sketches.logbucket_build(vals, ["event_type"], "v").count()

    def dsir(d):
        model = sampling.dsir_bucket_llr(d[1], target=F.col("lang") == "en", dim=1024)
        return sampling.dsir_weights(d[1], model, dim=1024).count()

    items = {
        "cms_build (4x256 grid)": lambda d: sketches.cms_build(d[0], "user_id").count(),
        "bloom_build (4096 bits)": lambda d: sketches.bloom_build(d[0], "user_id").count(),
        "logbucket_build (quantiles)": logbucket,
        "pagerank 3 iters": lambda d: graph.pagerank(
            graph.consecutive_user_edges(d[0]), iterations=3
        ).count(),
        "dsir weights": dsir,
    }
    return series(scales, data, items, reps=1, label="operator")


def spec_wedge_hub(spark, scales):
    """Hub 0 joined to leaves 1..H plus the rim cycle i--i+1: H triangles,
    hub degree H at median degree 3. Run with broadcast joins off (the
    adjacency of a large graph does not broadcast)."""

    def hub_graph(h):
        spokes = spark.range(1, h + 1).select(
            F.lit(0).cast("long").alias("src"), F.col("id").alias("dst"))
        rim = spark.range(1, h + 1).select(
            F.col("id").alias("src"), (F.col("id") % h + 1).alias("dst"))
        return spokes.unionByName(rim).localCheckpoint()

    def undirected(edges):
        return (
            edges.select(F.least("src", "dst").alias("a"),
                         F.greatest("src", "dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def triangles_id_oriented(edges):
        """The wedge self-join keyed on the canonical edge's MIN-ID end:
        the hub's C(H, 2) wedges all land on the reducer of its key."""
        e = undirected(edges)
        w = e.select(F.col("a").alias("w_a"), F.col("b").alias("w_x")).join(
            e.select(F.col("a").alias("w_a"), F.col("b").alias("w_y")), "w_a"
        ).filter(F.col("w_x") < F.col("w_y"))
        return w.join(e, (e.a == F.col("w_x")) & (e.b == F.col("w_y")),
                      "left_semi").count()

    def cn_pairs_plain(edges):
        """Common-neighbour pairs from the adjacency self-join keyed on
        the bare centre node."""
        ue = undirected(edges)
        sym = ue.select(F.col("a").alias("node"), F.col("b").alias("o")).unionByName(
            ue.select(F.col("b").alias("node"), F.col("a").alias("o")))
        x = sym.select("node", F.col("o").alias("pa"))
        y = sym.select("node", F.col("o").alias("pb"))
        return x.join(y, "node").filter(F.col("pa") < F.col("pb")).count()

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    lines = [
        "| H | tri id-oriented | tri degree-oriented | speedup | CN-enum plain "
        "| CN-enum blocked (B=1024) | speedup |",
        "|---|---|---|---|---|---|---|",
    ]
    try:
        for h in scales:
            edges = hub_graph(h)
            t_old, n_old = best_of(1, lambda: triangles_id_oriented(edges))
            t_new, n_new = best_of(
                1, lambda: graph.triangle_count(edges).collect()[0].n_triangles)
            assert n_old == n_new == h, (n_old, n_new, h)
            t_plain, p_plain = best_of(1, lambda: cn_pairs_plain(edges))
            t_blk, p_blk = best_of(
                1, lambda: graph._cn_pair_stream(edges, "src", "dst", 1024).count())
            assert p_plain == p_blk, (p_plain, p_blk)
            lines.append(
                f"| {h:,} | {t_old:.2f}s | {t_new:.2f}s | {t_old / t_new:.1f}x "
                f"| {t_plain:.2f}s | {t_blk:.2f}s | {t_plain / t_blk:.1f}x |")
            print(lines[-1])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    return lines


def spec_skew(spark, scales):
    """Fact rows in millions: 70% share ONE join key, the rest spread over
    100k keys, joined to a 100k-row dimension with broadcast off. The
    three variants must agree on (rows, checksum)."""
    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.adaptive.enabled": "false",
             "spark.sql.adaptive.skewJoin.enabled": "true"}
    prior = {c: spark.conf.get(c) for c in confs}
    lines = [
        "| fact rows | plain sort-merge (AQE off) | `salted_join` ×16 (AQE off) "
        "| plain + AQE skew split |",
        "|---|---|---|---|",
    ]
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        dim = spark.range(100_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("dim_val")).persist()
        dim.count()
        for m in scales:
            fact = spark.range(int(m * 1_000_000)).select(
                F.when(F.rand(1) < 0.7, F.lit(0))
                .otherwise((F.rand(2) * 100_000).cast("long")).alias("k"),
                (F.col("id") % 1000).alias("payload"),
            ).persist()
            fact.count()

            def run(joined):
                row = joined.agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("payload") + F.col("dim_val")).alias("s"),
                ).collect()[0]
                return row.n, row.s

            spark.conf.set("spark.sql.adaptive.enabled", "false")
            t_plain, r_plain = best_of(1, lambda: run(fact.join(dim, "k")))
            t_salt, r_salt = best_of(
                1, lambda: run(relational.salted_join(fact, dim, ["k"], n_salts=16)))
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            t_aqe, r_aqe = best_of(1, lambda: run(fact.join(dim, "k")))
            assert r_plain == r_salt == r_aqe, (r_plain, r_salt, r_aqe)
            fact.unpersist()
            lines.append(f"| {m}M | {t_plain:.2f}s | {t_salt:.2f}s | {t_aqe:.2f}s |")
            print(lines[-1])
        dim.unpersist()
    finally:
        for c, v in prior.items():
            spark.conf.set(c, v)
    return lines


def spec_cagg(spark, scales):
    """k-fold event rate over the same time span: replica i jitters each
    timestamp by (i % 30) s, so raw rows grow k-fold while the rollup
    stays bounded by span-minutes × keys."""
    lines = ["| k | raw rows | rescan/query | materialize (once) | serve/query |",
             "|---|---|---|---|---|"]
    first = None
    for k in scales:
        path = os.path.join(OUT, f"cagg_x{k}")
        if not os.path.exists(f"{path}/_SUCCESS"):
            base = spark.read.parquet(f"{BASE}/events.parquet").select(
                F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
            hist = reduce(lambda a, b: a.unionByName(b), [
                base.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i % 30} SECONDS"))
                for i in range(k)
            ])
            hist.withColumn("dt", F.to_date("ts")).write.mode(
                "overwrite").partitionBy("dt").parquet(path)
        raw = spark.read.parquet(path)
        n_raw = raw.count()
        t_rescan, _ = best_of(2, lambda: rollup.minute_rollup_frame(raw).count())
        mat = os.path.join(OUT, f"cagg_mat_x{k}")
        shutil.rmtree(mat, ignore_errors=True)
        w = rollup.materialization_watermark(raw)
        t_mat, _ = best_of(1, lambda: rollup.materialize_history(raw, mat, w))
        t_serve, _ = best_of(2, lambda: rollup.continuous_aggregate(
            spark, raw, mat, w, partition_col="dt").count())
        first = first or (t_rescan, t_serve)
        lines.append(
            f"| {k}× | {n_raw:,} | {t_rescan:.2f}s ({t_rescan / first[0]:.1f}×) "
            f"| {t_mat:.2f}s | {t_serve:.2f}s ({t_serve / first[1]:.1f}×) |")
        print(lines[-1])
    return lines


def spec_pq(spark, scales):
    """Embeddings replicated k-fold, replica i scaling two fixed components
    by (1 ± 0.01 i), so the corpus grows with distinct vectors. Codebook
    training (a bounded sample) is not timed."""

    def write(spark_, k, out):
        base = spark_.read.parquet(f"{BASE}/embeddings.parquet")
        n = base.count()
        parts = [
            base.select(
                (F.col("vec_id") + i * n).alias("vec_id"),
                F.transform("embedding", lambda x, j: F.when(
                    j == i % 64, x * (1.0 + 0.01 * i)).when(
                    j == (i * 7) % 64, x * (1.0 - 0.01 * i)).otherwise(x)
                ).alias("embedding"),
            )
            for i in range(k)
        ]
        reduce(lambda a, b: a.unionAll(b), parts).repartition(max(8, k)).write.mode(
            "overwrite").parquet(f"{out}/embeddings.parquet")
        return {"embeddings"}

    def mb(path):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(path) for f in fs) / 1e6

    qs = entrymod.queries()
    qvec = [float(x) for x in spark.read.parquet(f"{BASE}/embeddings.parquet")
            .filter(F.col("vec_id") == 0).head()["embedding"]]
    lines = ["| k | rows | encode s | brute topk s | pq topk s | distortion s "
             "| trunc-recall s | corpus MB | index MB | on-disk ratio |",
             "|---|---|---|---|---|---|---|---|---|---|"]
    for k in scales:
        sf_dir = corpus(spark, "pq", k, write)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        cb = similarity.train_pq_codebooks(emb, m=8, k=16, seed=42)
        index = os.path.join(OUT, f"pq_index_x{k}")
        t_enc, _ = best_of(1, lambda: similarity.build_pq_index(emb, cb, index))
        t_brute, _ = best_of(1, lambda: similarity.brute_force_topk(emb, qvec, 10).collect())
        t_pq, _ = best_of(1, lambda: similarity.pq_topk_from_index(
            spark, index, emb, qvec, cb, k=10, shortlist=100).collect())
        t_dist, _ = best_of(1, lambda: qs["pq_distortion_report"](spark, sf_dir).count())
        t_trunc, _ = best_of(1, lambda: qs["dim_truncation_recall"](spark, sf_dir).count())
        c_mb, i_mb = mb(f"{sf_dir}/embeddings.parquet"), mb(index)
        shutil.rmtree(index, ignore_errors=True)
        lines.append(
            f"| {k} | {n:,} | {t_enc:.2f} | {t_brute:.2f} | {t_pq:.2f} | {t_dist:.2f} "
            f"| {t_trunc:.2f} | {c_mb:.1f} | {i_mb:.1f} | {c_mb / max(i_mb, 1e-6):.1f}× |")
        print(lines[-1])
    return lines


def rotated_embeddings(spark, k: int):
    """k replicas of the sf0.1 embeddings; replica r > 0 is a seeded
    signed dimension permutation of the base (an orthogonal transform:
    within-replica duplicate structure identical, cross-replica cosines
    near 0; without the sign flips the corpus mean offset would keep
    permuted copies similar)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(OUT, f"rotated_x{k}", "embeddings.parquet")
    if not os.path.exists(path):
        base = pd.read_parquet(f"{BASE}/embeddings.parquet")
        v0 = np.asarray(base["embedding"].tolist(), dtype=np.float64)
        parts = []
        for r in range(k):
            v = v0
            if r:
                rs = np.random.RandomState(1000 + r)
                perm = rs.permutation(v0.shape[1])
                v = v0[:, perm] * rs.choice([-1.0, 1.0], size=v0.shape[1])[None, :]
            parts.append(pd.DataFrame({
                "vec_id": base["vec_id"].to_numpy() + r * len(base),
                "embedding": list(v.astype(np.float32)),
            }))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pd.concat(parts, ignore_index=True),
                                            preserve_index=False), path)
    emb = spark.read.parquet(path)
    return emb, emb.count()


def spec_semdedup(spark, scales):
    """semantic_dedup_keep with the quantizer growing with the corpus
    (k_cents = max(16, n / 100), uncapped) beside a fixed k=16 and the
    IMI quantizer at a matching cell count."""
    emb, _ = rotated_embeddings(spark, scales[0])
    similarity.semantic_dedup_keep(
        emb, similarity.make_unit_planes(dim=64, n_planes=16, seed=777)).count()
    lines = ["| corpus | k_cents | components | time | growth vs corpus "
             "| fixed k=16 time | IMI cells | IMI time |",
             "|---|---|---|---|---|---|---|---|"]
    first = None
    for k in scales:
        emb, n = rotated_embeddings(spark, k)

        def keep(kc):
            cents = similarity.make_unit_planes(dim=64, n_planes=kc, seed=777)
            return best_of(1, lambda: similarity.semantic_dedup_keep(
                emb, cents, threshold=0.4).count())

        kc = max(16, n // 100)
        t_grow, comps = keep(kc)
        t_fixed, _ = keep(16)
        half = max(4, math.ceil(math.sqrt(n / 100.0)))
        cb = similarity.make_imi_codebooks(64, half, seed=777)
        t_imi, _ = best_of(1, lambda: similarity.semantic_dedup_keep_imi(
            emb, cb, threshold=0.4).count())
        first = first or (t_grow, n)
        lines.append(
            f"| {n:,} | {kc} | {comps:,} | {t_grow:.2f}s "
            f"| {linear(t_grow, first[0], n, first[1]):.2f}× linear "
            f"| {t_fixed:.2f}s | {half * half} | {t_imi:.2f}s |")
        print(lines[-1])
    return lines


def spec_mmr(spark, scales):
    """mmr_rerank_micro (one relevance scan + a bounded greedy) and
    train_semdedup_centroids (a fixed 2048-row sample) over the same
    rotated replica corpora."""
    lines = ["| corpus | mmr_rerank time | growth vs corpus | trainer time "
             "| growth vs corpus |", "|---|---|---|---|---|"]
    first = None
    for k in scales:
        emb, n = rotated_embeddings(spark, k)
        qvec = [float(x) for x in emb.filter("vec_id = 0").select("embedding").head()[0]]

        def mmr():
            return similarity.mmr_rerank_micro(emb, qvec, k=10, shortlist=50)

        def train():
            return similarity.train_semdedup_centroids(emb, 64, sample=2048, iters=4)

        if first is None:
            mmr(), train()
        t_mmr, _ = best_of(1, mmr)
        t_train, _ = best_of(1, train)
        first = first or (t_mmr, t_train, n)
        lines.append(
            f"| {n:,} | {t_mmr:.2f}s | {linear(t_mmr, first[0], n, first[2]):.2f}× linear "
            f"| {t_train:.2f}s | {linear(t_train, first[1], n, first[2]):.2f}× linear |")
        print(lines[-1])
    return lines


def zipf_vocab(spark, n_words: int):
    """`n_words` distinct seeded letter-frequency-weighted words of 3-12
    chars ([a-z] only, the pre-tokenizer alphabet), freq(rank r) =
    max(1, 10^7 // r): Zipf with s = 1."""
    weights = np.array([8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.2, 0.8,
                        4.0, 2.4, 6.7, 7.5, 1.9, 0.1, 6.0, 6.3, 9.1, 2.8, 1.0,
                        2.4, 0.2, 2.0, 0.1])
    letters = list("abcdefghijklmnopqrstuvwxyz")
    rng = np.random.RandomState(20260816)
    seen: set[str] = set()
    rows = []
    while len(rows) < n_words:
        w = "".join(rng.choice(letters, size=int(rng.randint(3, 13)),
                               p=weights / weights.sum()))
        if w not in seen:
            seen.add(w)
            rows.append((w, max(1, 10_000_000 // (len(rows) + 1))))
    return spark.createDataFrame(rows, "word string, freq long").localCheckpoint(eager=True)


def bpe_train(vocab, n_merges: int, every: int):
    merges, final = tokenizer.train_bpe_merges(vocab, n_merges, rematerialize_every=every)
    final.count()
    assert len(merges) == n_merges
    return n_merges


def spec_bpe(spark, scales):
    """train_bpe_merges at 256 merges over Zipf vocabularies of the given
    sizes (Heaps' law V ∝ N^0.5: the corpus grows as V squared)."""
    n_merges = 256
    bpe_train(zipf_vocab(spark, 2_000), 16, every=16)
    lines = ["| vocab | corpus (Heaps N ∝ V²) | sec | ms/merge | × linear in V |",
             "|---|---|---|---|---|"]
    first = None
    for v in scales:
        vocab = zipf_vocab(spark, v)
        sec, _ = best_of(1, lambda: bpe_train(vocab, n_merges, every=16))
        first = first or (sec, v)
        lines.append(
            f"| {v:,} | {int((v / first[1]) ** 2)}× | {sec:.1f}s "
            f"| {sec * 1000 / n_merges:.0f} | {linear(sec, first[0], v, first[1]):.2f}× |")
        print(lines[-1])
    return lines


def spec_bpe_chain(spark, scales):
    """The merge chain with and without re-materialization every 16
    merges, at 12,500 words and the given merge counts."""
    vocab = zipf_vocab(spark, 12_500)
    bpe_train(vocab, 4, every=16)
    lines = ["| merges | rematerialize every 16 | unbounded chain | chain ÷ fixed |",
             "|---|---|---|---|"]
    for m in scales:
        fixed, _ = best_of(1, lambda: bpe_train(vocab, m, every=16))
        chain, _ = best_of(1, lambda: bpe_train(vocab, m, every=0))
        lines.append(f"| {m} | {fixed:.1f}s | {chain:.1f}s | {chain / fixed:.1f}× |")
        print(lines[-1])
    return lines


def _pgm(seed_col):
    """80 bytes from five md5 digests of `seed_col`: the pixels of one
    authored 9×8 PGM."""
    return F.concat(*[F.unhex(F.md5(F.concat(seed_col, F.lit(s))))
                      for s in ["", "x", "y", "z", "w"]])


def media_corpus(spark, k: int):
    """k replicas of the documents as authored 9×8 PGM images, each
    replica salting the md5 chain with its id (images differ across
    replicas); a quarter of the docs get a brightness-shifted copy, so
    planted near-dups per unit of corpus stay constant."""
    docs = spark.read.parquet(f"{BASE}/documents.parquet").select("doc_id", "text")
    n = docs.count()
    parts = []
    for r in range(k):
        seed = F.concat(F.col("text"), F.lit(f"#rep{r}"))
        parts.append(docs.select((F.col("doc_id") + r * n * 2).alias("media_id"),
                                 _pgm(seed).alias("m"), F.lit(0).alias("shift")))
        parts.append(docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + r * n * 2 + n).alias("media_id"),
            _pgm(seed).alias("m"), F.lit(32).alias("shift")))

    def author(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype("int64"),
                "content": [b"P5\n9 8\n255\n" + bytes(x % 192 + int(dv) for x in bytes(m)[:72])
                            for m, dv in zip(pdf["m"], pdf["shift"])],
            })

    media = reduce(lambda a, b: a.unionByName(b), parts).repartition(32).mapInPandas(
        author, "media_id long, content binary").persist()
    return media, media.count()


def spec_perceptual(spark, scales):
    """image_dhash_chunks + dhash_near_dup_pairs end to end (decode,
    hash, pigeonhole join, popcount verify); authoring is not timed."""

    def measure(k):
        media, n = media_corpus(spark, k)
        sec, pairs = best_of(1, lambda: multimodal.dhash_near_dup_pairs(
            multimodal.image_dhash_chunks(media)).count())
        media.unpersist()
        return n, pairs, sec

    measure(scales[0])  # warm-up
    lines = ["| k | media rows | hamming≤3 pairs | hash+pair sec | growth vs linear |",
             "|---|---|---|---|---|"]
    first = None
    for k in scales:
        n, pairs, sec = measure(k)
        first = first or (sec, n)
        lines.append(f"| {k} | {n:,} | {pairs:,} | {sec:.2f} "
                     f"| {linear(sec, first[0], n, first[1]):.2f}× |")
        print(lines[-1])
    return lines


def spec_mih_bulk(spark, scales):
    """Build the MIH index over the k-fold media, then sweep every
    signature through mih_bulk_topk (exclude_self, radius 3, top 5)."""

    def measure(k):
        media, _ = media_corpus(spark, k)
        sigs = multimodal.image_dhash_chunks(media).localCheckpoint(eager=True)
        media.unpersist()
        n = sigs.count()
        path = tempfile.mkdtemp(prefix=f"mih_bulk_scale_{k}_")
        try:
            t_build, _ = best_of(1, lambda: multimodal.build_mih_index(sigs, path, cb_bits=8))
            probes = sigs.select(F.col("media_id").alias("query_id"), "c0", "c1", "c2", "c3")
            t_probe, hits = best_of(1, lambda: multimodal.mih_bulk_topk(
                spark, path, probes, k=5, max_hamming=3, cb_bits=8,
                exclude_self=True).count())
        finally:
            shutil.rmtree(path, ignore_errors=True)
        return n, hits, t_build, t_probe

    measure(scales[0])  # warm-up
    lines = ["| k | media rows | gate hits | index build s | bulk probe s "
             "| probe growth vs linear |", "|---|---|---|---|---|---|"]
    first = None
    for k in scales:
        n, hits, t_build, t_probe = measure(k)
        first = first or (t_probe, n)
        lines.append(f"| {k} | {n:,} | {hits:,} | {t_build:.1f} | {t_probe:.1f} "
                     f"| {linear(t_probe, first[0], n, first[1]):.2f}× |")
        print(lines[-1])
    return lines


def spec_video_stride(spark, scales):
    """video_frame_dhash with stride 2 against the full walk over k
    replicas of 8-frame VID0 videos (md5-salted frames per replica)."""
    docs = spark.read.parquet(f"{BASE}/documents.parquet").select("doc_id", "text")
    n_docs = docs.count()

    def author(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype("int64"),
                "content": [multimodal.encode_video_frames(
                    [b"P5\n9 8\n255\n" + bytes(x % 192 for x in bytes(m)[:72]) for m in fr])
                    for fr in pdf["fr"]],
            })

    def measure(k):
        videos = reduce(lambda a, b: a.unionByName(b), [
            docs.select((F.col("doc_id") + r * n_docs).alias("media_id"),
                        F.array(*[_pgm(F.concat(F.col("text"), F.lit(f"#v{r}f{j}")))
                                  for j in range(8)]).alias("fr"))
            for r in range(k)
        ]).repartition(32).mapInPandas(author, "media_id long, content binary").persist()
        n = videos.count()
        full, _ = best_of(1, lambda: multimodal.video_frame_dhash(videos).count())
        strided, _ = best_of(1, lambda: multimodal.video_frame_dhash(videos, stride=2).count())
        videos.unpersist()
        return n, full, strided

    measure(scales[0])  # warm-up
    lines = ["| k | videos (8 frames) | full walk s | stride-2 walk s | strided/full |",
             "|---|---|---|---|---|"]
    for k in scales:
        n, full, strided = measure(k)
        lines.append(f"| {k} | {n:,} | {full:.2f} | {strided:.2f} | {strided / full:.2f}x |")
        print(lines[-1])
    return lines


def spec_ann_bulk(spark, scales):
    """ivf_bulk_topk (k=10, nprobe=2) over the trained k=16 index at
    sf0.1, the query set grown; the index builds once."""
    from catalog.ann import _trained_ivf_index

    index, cents, cnorms = _trained_ivf_index(spark, BASE)
    vecs = sf01_vectors(spark)
    lines = ["| queries | sec | ms/query | × linear vs first row |", "|---|---|---|---|"]
    first = None
    for q in scales:
        qdf = noisy_queries(spark, vecs, q)
        sec = median_of_3(lambda: similarity.ivf_bulk_topk(
            spark, index, qdf, cents, k=10, nprobe=2, cnorms_sq=cnorms).count())
        first = first or (sec, q)
        lines.append(f"| {q} | {sec:.2f}s | {sec * 1000 / q:.2f} "
                     f"| {linear(sec, first[0], q, first[1]):.2f}× |")
        print(lines[-1])
    return lines


def spec_ann_skew(spark, scales):
    """ivf_bulk_topk over 20,000 synthetic vectors and 400 queries, 16
    seeded cells, nprobe=2, broadcast off, AQE on: a uniform index, one
    with half the corpus and half the queries in one cell, and that
    skewed index again with each salt in `scales`."""
    n, q, dim = 20_000, 400, 64
    cents = similarity.make_unit_planes(dim, 16, seed=31)

    def index(hot: bool):
        path = os.path.join(OUT, "ann_skew", "skewed" if hot else "uniform")
        if not os.path.exists(f"{path}/_SUCCESS"):
            x = np.random.RandomState(7_000).randn(n, dim)
            if hot:  # numpy, not F.rand: its per-column streams correlate
                x[::2] = cents[0][None, :] + 0.05 * x[::2]
            corpus_df = spark.createDataFrame(
                [(int(i), [float(v) for v in x[i]]) for i in range(n)],
                "vec_id long, embedding array<double>")
            similarity.ivf_assign_arrow(corpus_df, cents).coalesce(8).write.mode(
                "overwrite").parquet(path)
        top = (spark.read.parquet(path).groupBy("cid").count()
               .orderBy(F.desc("count")).limit(1).collect()[0])
        qm = np.random.RandomState(77).randn(q, dim)
        if hot:
            qm[::2] = cents[0][None, :] + 0.05 * qm[::2]
        qdf = spark.createDataFrame(
            [(int(i), [float(x) for x in qm[i]]) for i in range(q)],
            "query_id long, qvec array<double>").localCheckpoint(eager=True)
        return path, qdf, top

    def timed(path, qdf, salt, median):
        def run():
            return similarity.ivf_bulk_topk(
                spark, path, qdf, cents, k=10, nprobe=2, salt=salt).count()

        return median_of_3(run) if median else best_of(1, run)[0]

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        u_path, u_q, u_top = index(False)
        s_path, s_q, s_top = index(True)
        u = timed(u_path, u_q, 1, True)
        s = timed(s_path, s_q, 1, False)
        lines = [
            "| config | hottest cell | wall | vs uniform |", "|---|---|---|---|",
            f"| uniform, salt=1 (median-of-3) | {u_top['count']:,}/{n:,} | {u:.2f}s | — |",
            f"| skewed, salt=1 (single run — the straggler) | {s_top['count']:,}/{n:,} "
            f"(cid {s_top['cid']}) | {s:.2f}s | {s / u:.1f}× |",
        ]
        for salt in scales:
            t = timed(s_path, s_q, salt, True)
            lines.append(f"| skewed, salt={salt} (median-of-3) | same | {t:.2f}s | {t / u:.1f}× |")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    return lines


def spec_imi_bulk(spark, scales):
    """The flat carrier (ivf_bulk_topk) against the two-level one
    (imi_bulk_topk) at the same cell count: 320 queries over the sf0.1
    embeddings, k=10, nprobe=4, seeded codebooks, unpartitioned
    prebuilt indexes (a cid-partitioned layout at thousands of cells
    over 2,000 vectors would time file opens, not ranking)."""
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    qdf = noisy_queries(spark, sf01_vectors(spark), 320)
    lines = ["| cells | flat (sec / ms/query) | IMI (sec / ms/query) | flat ÷ IMI |",
             "|---|---|---|---|"]
    for cells in scales:
        half = int(round(cells ** 0.5))
        assert half * half == cells, "cell counts must be perfect squares"
        flat_c = similarity.make_unit_planes(64, cells, seed=99)
        imi_cb = similarity.make_imi_codebooks(64, half, seed=99)
        flat_p = os.path.join(OUT, "imi_bulk", f"flat_{cells}")
        imi_p = os.path.join(OUT, "imi_bulk", f"imi_{cells}")
        if not os.path.exists(f"{flat_p}/_SUCCESS"):
            similarity.ivf_assign_arrow(emb, flat_c).coalesce(8).write.mode(
                "overwrite").parquet(flat_p)
        if not os.path.exists(f"{imi_p}/_SUCCESS"):
            similarity.imi_assign_arrow(emb, imi_cb).coalesce(8).write.mode(
                "overwrite").parquet(imi_p)
        fs = median_of_3(lambda: similarity.ivf_bulk_topk(
            spark, flat_p, qdf, flat_c, k=10, nprobe=4).count())
        ims = median_of_3(lambda: similarity.imi_bulk_topk(
            spark, imi_p, qdf, imi_cb, k=10, nprobe=4).count())
        lines.append(f"| {cells} | {fs:.2f}s / {fs * 1000 / 320:.2f} "
                     f"| {ims:.2f}s / {ims * 1000 / 320:.2f} | {fs / ims:.2f}× |")
        print(lines[-1])
    return lines


def spec_imi_trained(spark, scales):
    """imi_bulk_topk with trained against seeded codebooks on a clustered
    corpus (100 planted unit centers × 40 members, eps=0.15), 320 noisy
    member queries, k=10, nprobe=4; recall against exact
    multi_query_topk."""
    rng = np.random.RandomState(11)
    vecs = []
    for _ in range(100):
        c = rng.randn(64)
        c /= np.linalg.norm(c)
        vecs += [c + 0.15 * rng.randn(64) / np.sqrt(64) for _ in range(40)]
    vecs = np.asarray(vecs)
    corpus_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>").localCheckpoint(eager=True)
    qdf = noisy_queries(spark, vecs, 320)
    queries = [(r.query_id, list(r.qvec)) for r in qdf.collect()]
    exact: dict[int, set] = {}
    for r in similarity.multi_query_topk(corpus_df, queries, 10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    lines = ["| cells | codebooks | sec / ms/query | recall@10 |", "|---|---|---|---|"]
    for cells in scales:
        half = int(round(cells ** 0.5))
        assert half * half == cells, "cell counts must be perfect squares"
        for tag, cb in (
            ("seeded (`make_imi_codebooks`)", similarity.make_imi_codebooks(64, half, seed=99)),
            ("trained (`train_imi_codebooks`, per-half Lloyd)",
             similarity.train_imi_codebooks(corpus_df, n_cells_per_half=half,
                                            sample=2048, iters=10, seed=42)),
        ):
            path = os.path.join(OUT, "imi_trained", f"{tag.split()[0]}_{cells}")
            similarity.imi_assign_arrow(corpus_df, cb).coalesce(8).write.mode(
                "overwrite").parquet(path)
            got: dict[int, set] = {}
            for r in similarity.imi_bulk_topk(spark, path, qdf, cb, k=10, nprobe=4).collect():
                got.setdefault(r.query_id, set()).add(r.vec_id)
            recall = float(np.mean([len(exact[q] & got.get(q, set())) / 10 for q in exact]))
            sec = median_of_3(lambda: similarity.imi_bulk_topk(
                spark, path, qdf, cb, k=10, nprobe=4).count())
            lines.append(f"| {cells} | {tag} | {sec:.2f}s / {sec * 1000 / 320:.2f} "
                         f"| {recall:.3f} |")
            print(lines[-1])
    return lines


def spec_cross_modal(spark, scales):
    """The gated census body over k replica blocks of the 150-doc
    quad-modal fixture: every word salted with the replica id (a
    trailing suffix would leave 3-word shingles shared and glue the
    blocks together), md5-derived embeddings per (doc, replica)."""
    from catalog.multimodal import (
        _cross_modal_base,
        _cross_modal_census,
        _cross_modal_items,
    )

    def embed(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "v": [
                [b / 128.0 - 1.0 for j in range(4)
                 for b in hashlib.md5(f"{t}#emb{j}".encode()).digest()]
                for t in pdf["text"]]})

    docs = (spark.read.parquet(f"{BASE}/documents.parquet")
            .filter(F.col("doc_id") < 150).select("doc_id", "text"))

    def items(k):
        frames = []
        for r in range(k):
            dr = docs.select((F.col("doc_id") + r * 5_000).alias("doc_id"),
                             F.regexp_replace("text", r"(\S+)", f"$1r{r}").alias("text"))
            b = _cross_modal_base(dr, dr.mapInPandas(embed, "doc_id long, v array<double>"))
            lo = r * 5_000
            frames.append(_cross_modal_items(b, lo + 30, lo + 60, lo + 90, lo + 120, 1_000))
        return reduce(lambda a, c: a.unionByName(c), frames).localCheckpoint(eager=True)

    _cross_modal_census(items(1)).count()
    lines = ["| k | items | components | planted+incidental pairs | sec | × linear |",
             "|---|---|---|---|---|---|"]
    first = None
    for k in scales:
        it = items(k)
        n = it.count()
        sec, census = best_of(2, lambda: _cross_modal_census(it).collect())
        pairs = sum(int(r.n_text + r.n_image + r.n_embed + r.n_audio) for r in census)
        first = first or (sec, k)
        lines.append(f"| {k} | {n:,} | {len(census):,} | {pairs:,} | {sec:.2f}s "
                     f"| {linear(sec, first[0], k, first[1]):.2f}× |")
        print(lines[-1])
    return lines


#: spec → (default scales, run)
SPECS = {
    "documents": ([1, 4, 16, 64], spec_documents),
    "relational": ([1, 10], spec_relational),
    "tpch": ([1, 4, 16, 64], spec_tpch),
    "basket": ([1, 10, 100], spec_basket),
    "mechanisms": ([1, 4, 16], spec_mechanisms),
    "wedge_hub": ([10_000, 40_000], spec_wedge_hub),
    "skew": ([10, 40], spec_skew),
    "cagg": ([1, 16, 256, 1024], spec_cagg),
    "pq": ([1, 16, 64], spec_pq),
    "semdedup": ([1, 4, 16], spec_semdedup),
    "mmr": ([1, 4, 16], spec_mmr),
    "bpe": ([12_500, 25_000, 50_000, 100_000], spec_bpe),
    "bpe_chain": ([64], spec_bpe_chain),
    "perceptual": ([1, 4, 16], spec_perceptual),
    "mih_bulk": ([1, 4, 16], spec_mih_bulk),
    "video_stride": ([1, 4, 16], spec_video_stride),
    "ann_bulk": ([32, 320, 3200], spec_ann_bulk),
    "ann_skew": ([32], spec_ann_skew),
    "imi_bulk": ([256, 1024, 4096, 16384], spec_imi_bulk),
    "imi_trained": ([4096], spec_imi_trained),
    "cross_modal": ([1, 4, 16], spec_cross_modal),
}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in SPECS:
        print(__doc__)
        print("specs: " + ", ".join(f"{n} {d}" for n, (d, _) in SPECS.items()))
        raise SystemExit(2)
    name = sys.argv[1]
    default, run = SPECS[name]
    scales = [float(a) if "." in a else int(a) for a in sys.argv[2:]] or default
    spark = get_spark(app_name=f"scaling-{name}")
    rewrite_table(name, run(spark, scales))


if __name__ == "__main__":
    main()
