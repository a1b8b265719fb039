"""Benchmark harness — driver contract (BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Each query is executed to completion (count() action — full plan runs,
nothing collected to the driver beyond the count). A warmup pass on
sf0.001 triggers JVM/codegen warmup so measured times reflect steady
state, not first-query startup.

LEDGER OF RECORD (r10, VERDICT r9 #6): round-over-round comparisons
read the COMMITTED clean-machine BENCH_FULL.json — the run the builder
executes on an otherwise-idle machine and commits with the round's
final state. The driver's own per-round worktree run (BENCH_r{N}.json)
is an independent witness, but it executes beside the driver's other
jobs and has measured ±5% machine noise on identical code (r9:
129.7s committed vs 135.3s driver on the same tree). A delta between
rounds counts as a regression ONLY against the committed
clean-machine artifact; SURVEY §7 cites that run exclusively.

Every run writes its full per-query map to BENCH_FULL.latest.json
(gitignored side artifact). BENCH_FULL.json — the ledger of record —
is rewritten only under `python bench.py --record-ledger`, so a driver
or ad-hoc run can never clobber the committed clean-machine artifact
in the working tree (VERDICT r12 "What's wrong" #2).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    get_spark,
)

HEADLINE = [
    "fusion_minute_avg",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_orders",
    "correlated_subquery_q17",
    "multiway_join_revenue",
    "decode_json_props",
    "delimited_roundtrip",
    "date_histogram_daily",
    "topk_orders",
    "window_lag_delta",
    "latest_event_per_user",
    "sessionize_events",
    "asof_purchase_attribution",
    "funnel_conversion",
    "order_count_distribution",
    "doc_token_counts",
    "exact_dedup_docs",
    "embedding_topk_cosine",
    "kmeans_iteration",
    "minhash_dedup_pairs",
    "simhash_candidates",
    "multimodal_image_features",
    "stratified_split",
    "pack_token_budget",
    "price_band_join",
    "corpus_pipeline_end2end",
    "cdc_merge_snapshot",
    "event_cooccurrence",
    "range_frame_rolling",
    "vocab_top_terms",
    "salted_join_parity",
    "cohort_retention",
    "streaming_minute_counts",
    "streaming_session_rollup",
    "streaming_enriched_counts",
    "hypertable_rollup",
    "partition_pruned_scan",
    "lsh_bucket_verified",
    "pq_adc_verified",
    "tpch_q12_priority_shipmode",
    "tpch_q14_promo_share",
    "tpch_q19_disjunctive_join",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "data_quality_report",
    "quality_gate_routing",
    "fk_integrity_report",
    "interpolate_hourly",
    "winnowing_fingerprints",
    "winnowing_fingerprints_fast",
    "multi_query_topk",
    "hashed_doc_vectors",
    "temperature_resample",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_type_profit",
    "cms_heavy_hitters",
    "pagerank_user_graph",
    "tfidf_top_terms",
    "dsir_importance_weights",
    # bottomk_sample moved to the r16 restoration block at the END of
    # HEADLINE (r15 dropped it when the 0-dp capture-buffer rung
    # overflowed; the r15 verdict ordered it restored — appending
    # instead of re-inserting keeps q1..q164 positionally aligned with
    # the r15 ledger so the driver's positional PERF diff stays valid)
    "bm25_search",
    "kmv_distinct_rollup",
    "token_entropy_docs",
    "time_weighted_avg",
    "pareto_front_orders",
    "regression_stats_by_type",
    "ohlc_downsample",
    # asof_next_purchase moved to the r16 restoration block (end of
    # HEADLINE), same story as bottomk_sample above
    # round-5/6 additions
    "multimodal_jpeg_decode",
    "multimodal_png_decode",
    "clustering_weighted_graph",
    "bloom_membership_gate",
    "unigram_surprisal",
    "bigram_surprisal_heldout",
    "doc_repetition_signals",
    "logbucket_quantiles",
    "streaming_window_quantiles",
    "label_propagation_communities",
    "cms_join_cardinality",
    "daily_churn_rates",
    "corpus_pipeline_v2",
    "label_propagation_weighted",
    "gopher_quality_rules",
    "domain_blocklist_stats",
    "weighted_pps_sample",
    "dedup_keep_best",
    "langid_trigram",
    "outlier_events_zscore",
    "burst_detection_minutes",
    "rfm_segments",
    "first_touch_attribution",
    "event_transition_matrix",
    "benford_digit_audit",
    "spend_share_hierarchy",
    "winsorized_stats",
    # round-7 additions
    "passage_dedup_stats",
    "doremi_domain_weights",
    "bootstrap_ci_means",
    "kcore_user_graph",
    "mann_whitney_value_shift",
    "gini_customer_spend",
    "ks_test_value_shift",
    "t_closeness_report",
    "incremental_rollup_maintenance",
    "streaming_passage_dedup",
    "lorenz_deciles",
    "join_skew_report",
    "cusum_drift_profile",
    "session_concurrency_profile",
    "bfs_hop_distance",
    "degree_assortativity",
    "market_basket_rules",
    "acf_minute_counts",
    "calendar_seasonality_profile",
    # round-8 additions
    "spearman_price_date",
    "hhi_concentration",
    "rrf_fusion_search",
    "kaplan_meier_churn",
    "streaming_left_outer_join",
    "containment_dup_pairs",
    "revenue_coverage_counts",
    "link_prediction_cn",
    "seasonal_naive_eval",
    # welch_t_test moved to the r16 restoration block (end of
    # HEADLINE), same story as bottomk_sample above
    "theil_sen_daily_trend",
    "streaming_windowed_top1",
    "changepoint_best_split",
    "multimodal_gif_decode",
    "multimodal_wav_features",
    "phrase_search",
    "pq_distortion_report",
    "proximity_search",
    "activity_correlation_matrix",
    # round-9 additions
    "bh_fdr_event_shifts",
    "semantic_dedup_keep_best",
    "psi_value_drift",
    # round-10 additions
    "mmr_diversified_topk",
    "semantic_dedup_imi",
    # round-11/12 additions: the trained-quantizer dedup leg and the
    # trained-index MMR serving path
    "semantic_dedup_trained",
    "mmr_from_index",
    # round-12 late addition: BPE tokenizer — bpe_token_counts runs the
    # full 12-merge training PLUS the corpus dictionary join, so it
    # carries the family's headline slot (bpe_merge_table would time a
    # strict subset of the same work; the driver capture buffer caps
    # HEADLINE growth — tests/test_bench_contract.py)
    "bpe_token_counts",
    # perceptual-hash image dedup through the real P5 decoder, and its
    # audio sibling (gain-invariant energy contour, same pairing kernel)
    "image_dhash_near_dup",
    "audio_contour_near_dup",
    # streamed ANN query serving against the persisted trained index
    "streaming_ann_serving",
    # video near-dup by shared perceptual frame signatures (VID0)
    "video_shared_frame_dedup",
    # perceptual search from the persisted multi-index-hashing index
    "image_dhash_search",
    # ingest-time perceptual dedup (stream ≡ batch ≡ SQL replay)
    "streaming_dhash_ingest",
    # streamed token-budget metering under the trained BPE vocabulary
    "streaming_token_budget",
    # round-13 additions: bulk ANN re-ranking with in-plan probe
    # ranking; frame-sampled video dedup (strided index, full probe)
    "ivf_bulk_topk",
    "lsh_bulk_topk",
    "mih_bulk_search",
    "video_sampled_frame_dedup",
    # packing by TRUE trained-vocabulary token counts (the proxy-free
    # composition: training + dictionary join + prefix-sum packing)
    "pack_bpe_budget",
    # cross-modal dedup composition (text MinHash + image dHash +
    # embedding quantizer cells + audio energy contour -> unified
    # components + election)
    "cross_modal_dedup",
    # round-14 additions: doc -> token-sequence encoding under the
    # trained BPE vocabulary; bulk ANN under the two-level (IMI)
    # quantizer (per-half in-plan ranking, sqrt-cost carrier);
    # C4-style corpus-frequency boilerplate removal
    "bpe_encode_docs",
    "imi_bulk_topk",
    "boilerplate_scrub",
    # r15 capstone: the five-stage pretraining shard manifest (scrub →
    # dedup → trained-BPE encode → 2048-token pack → manifest), its
    # per-language balance audit, and the Heaps/Zipf corpus-QA profile
    "pretrain_shard_plan",
    "shard_balance_report",
    "vocab_growth_zipf_profile",
    "tokenizer_fertility_report",
    "dedup_cluster_size_profile",
    "source_overlap_matrix",
    "mixture_epoch_schedule",
    "dim_truncation_recall",
    # r16 restoration (VERDICT r15 "Next round" item 1): the three
    # queries the interrupted r15 BUILD round dropped to dodge the
    # driver's 2,000-char capture buffer go BACK into the timed set —
    # the buffer is handled by the precision ladder (the 1-dp rung fits
    # 167 entries; test_bench_contract models the worst case), never by
    # narrowing the set. Appended at the end so q1..q164 keep their r15
    # positions; tests/test_bench_contract.py now also pins HEADLINE
    # against the committed ledger's name set so a drop can never again
    # go undetected.
    "bottomk_sample",
    "asof_next_purchase",
    "welch_t_test",
]


#: the reference producer's ceiling: sleep(0.5) + synchronous flush()
#: per row (dataframe_to_kafka.py:102,138) → 2 rows/s
REFERENCE_PRODUCER_ROWS_PER_SEC = 2.0

#: the KETI-scale golden replay: per-(room, minute) readings of 51 rooms
#: from 2013-08-23 00:00 UTC, generated in-process from a fixed seed
REPLAY_ROWS = 34_890
REPLAY_ROOMS = 51
REPLAY_SEED = 20130823
REPLAY_START_EPOCH = 1377216000
REPLAY_DDL = (
    "room string, timestamp double, co2 double, light double, "
    "temp double, humidity double, pir double"
)


def replay_frame(spark):
    """The golden replay's shape (rows, rooms, one reading per room and
    minute, five metrics) with seeded values, so the throughput headline
    needs no input file."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(REPLAY_SEED)
    k = np.arange(REPLAY_ROWS)
    pdf = pd.DataFrame(
        {
            "room": (400 + k % REPLAY_ROOMS).astype(str),
            "timestamp": (
                REPLAY_START_EPOCH
                + 60 * (k // REPLAY_ROOMS)
                + rng.uniform(0, 60, REPLAY_ROWS)
            ),
            "co2": rng.normal(450.0, 80.0, REPLAY_ROWS),
            "light": rng.uniform(0.0, 300.0, REPLAY_ROWS),
            "temp": rng.normal(23.0, 2.0, REPLAY_ROWS),
            "humidity": rng.normal(50.0, 5.0, REPLAY_ROWS),
            "pir": rng.poisson(3.0, REPLAY_ROWS).astype(float),
        }
    )
    return spark.createDataFrame(pdf, REPLAY_DDL)


def wire_replay(spark) -> dict:
    """Throughput headline vs the reference producer: push the FULL
    34,890-row KETI-scale golden replay through the reference's whole
    pipeline shape — JSON encode → Kafka (key, value) wire → decode →
    per-(room, minute) rollup → Elasticsearch `_bulk` payloads on disk
    (the es_bulk_wire DataSource; byte-identical to what would POST to
    `/_bulk`) — and report rows/s beside the reference's 2 rows/s
    ceiling (`dataframe_to_kafka.py:102,138`: sleep(0.5) + synchronous
    flush per row). This turns bench_vs_baseline into a MEASURED ratio
    on the one quantitative number the reference publishes."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
        codecs,
    )
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireDataSource,
    )

    spark.dataSource.register(EsBulkWireDataSource)
    src = replay_frame(spark)
    n_rows = src.count()  # warms the scan; the timed run re-reads
    out = tempfile.mkdtemp(prefix="wire_replay_")
    try:
        t0 = time.perf_counter()
        wire = codecs.encode_for_kafka(src, key_col="room", wire_format="json")
        decoded = codecs.decode_kafka_value(wire, REPLAY_DDL, wire_format="json")
        rolled = decoded.groupBy(
            "room",
            F.date_trunc(
                "minute", F.timestamp_seconds(F.col("timestamp"))
            ).cast("long").alias("ts_min"),
        ).agg(
            *[F.avg(c).alias(c) for c in ("co2", "light", "temp", "humidity", "pir")]
        ).withColumn(
            "doc_id", F.concat_ws("-", F.col("room"), F.col("ts_min"))
        )
        (
            rolled.write.format("es_bulk_wire")
            .option("path", os.path.join(out, "bulk"))
            .option("index", "room-{room}")
            .option("mapping_id", "doc_id")
            .mode("append")
            .save()
        )
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(out, ignore_errors=True)
    rps = n_rows / dt
    return {
        "wire_replay_rows": n_rows,
        "wire_replay_sec": round(dt, 3),
        "wire_replay_rows_per_sec": round(rps, 1),
        "baseline_rows_per_sec": REFERENCE_PRODUCER_ROWS_PER_SEC,
        "wire_vs_baseline": round(rps / REFERENCE_PRODUCER_ROWS_PER_SEC, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    qs = entrymod.queries()

    # warmup: tiny sf, every headline query once (JVM + codegen caches)
    for name in HEADLINE:
        try:
            qs[name](spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    # median-of-3 per query: single-shot timing made round-over-round
    # deltas indistinguishable from scheduler/GC jitter (two rounds of
    # forensics on phantom regressions); the median kills that noise
    # class while keeping the run under a few minutes
    times: dict[str, float] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        times[name] = round(sorted(samples)[1], 3)

    total = round(sum(times.values()), 3)
    # The driver captures only the LAST 2000 chars of stdout and parses
    # them as JSON (every BENCH_r0*.json through r6 shows a 2000-char
    # `tail` with `"parsed": null` — the 3.2 KB full-name line never
    # fit).  So the single emitted line uses positional keys q1..qN in
    # HEADLINE order (the driver contract's own example shape), and the
    # full name→median map lands in BENCH_FULL.json beside the repo for
    # the judge.  keymap: qK == HEADLINE[K-1]; BENCH_FULL.json carries
    # the explicit mapping too.
    # 2-decimal positional values: at 123 queries the 3-dp line passed
    # the 2,000-char capture buffer (measured 1,890 at 114 → ~2,007 at
    # 123); centisecond precision keeps ~130 chars of headroom and the
    # full 3-dp name→median map still lands in BENCH_FULL.json
    short = {
        f"q{i + 1}": round(times[name], 2) for i, name in enumerate(HEADLINE)
    }
    # "key" (the qK=HEADLINE[K-1] mapping) and the best-of-3 wire rate
    # are BENCH_FULL-only as of r10: at 141 headline entries the modeled
    # worst-case 2-dp line hit the capture-buffer guard exactly — the
    # driver line keeps only what the driver itself parses.
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": short,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # wire_replay must never cost us the headline numbers already
    # measured above — any failure inside it degrades to a note.
    # Protocol: 1 warmup + median-of-3 measured, the SAME statistic as
    # every headline query median (r8 briefly reported best-of-3, which
    # inflates the number and weakens round-over-round comparability —
    # reverted). The warmup call absorbs the Python DataSource worker +
    # Arrow codec cold start (r7 forensics, PLANS.md); the best run is
    # reported alongside for the saturation story, never as the headline.
    try:
        wire_replay(spark)  # warmup (Python DataSource worker, CSV scan)
        runs = [wire_replay(spark) for _ in range(3)]
        ordered = sorted(
            runs, key=lambda r: r.get("wire_replay_rows_per_sec", 0)
        )
        median_run = ordered[1]
        payload.update(median_run)
        # constants (row count, the reference's 2 rows/s), the derived
        # wire_vs_baseline ratio (= rows_per_sec / the 2 rows/s
        # constant) and wire_replay_sec (= the constant row count /
        # rows_per_sec), and the best-of-3 saturation rate live in
        # BENCH_FULL.json; dropping them from the driver line buys the
        # per-query map headroom as HEADLINE grows (r12: 147 entries;
        # r15 at 164 entries moved the measured median rate itself —
        # the driver parses only metric/value/queries, and the rate
        # stays in BENCH_FULL.json like the rest of the wire story)
        full_only = {
            k: payload.pop(k)
            for k in (
                "wire_replay_rows",
                "baseline_rows_per_sec",
                "wire_vs_baseline",
                "wire_replay_sec",
                "wire_replay_rows_per_sec",
            )
            if k in payload
        }
        full_only["wire_replay_best_rows_per_sec"] = ordered[-1].get(
            "wire_replay_rows_per_sec", 0
        )
    except Exception as e:  # noqa: BLE001
        full_only = {}
        payload["wire_replay_error"] = str(e)[:200]
    full = dict(payload)
    full.update(full_only)
    full["key"] = "qK=HEADLINE[K-1]"
    full["queries"] = times  # full names, same medians
    # The LEDGER OF RECORD (committed BENCH_FULL.json) is only
    # overwritten under an explicit --record-ledger: the r12 driver's
    # own bench run clobbered the builder's committed clean-machine
    # artifact in the worktree (VERDICT r12 "What's wrong" #2). Every
    # run still persists its full 3-dp map to the side artifact
    # BENCH_FULL.latest.json (gitignored) for bench_diff / forensics.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_FULL.latest.json"), "w") as fh:
            json.dump(full, fh, indent=1)
        if "--record-ledger" in sys.argv:
            with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
                json.dump(full, fh, indent=1)
    except OSError:
        pass
    line = json.dumps(payload, separators=(",", ":"))
    # Precision ladder: wide medians (a 100+s streaming query) can push
    # the 2-dp line past the driver's 2,000-char capture buffer. Losing
    # a decimal place is strictly better than losing the per-query map,
    # so degrade 2dp → 1dp → 0dp before the drop-everything fallback
    # (full 3-dp numbers always live in BENCH_FULL.json regardless).
    for ndp in (1, 0):
        if len(line) <= 1950:
            break
        payload["queries"] = {
            f"q{i + 1}": (
                int(round(times[name])) if ndp == 0 else round(times[name], ndp)
            )
            for i, name in enumerate(HEADLINE)
        }
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1950:  # belt-and-braces: never overflow the buffer
        payload["queries"] = {"n": len(times)}
        payload["key"] = "per-query times in BENCH_FULL.json"
        line = json.dumps(payload, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
