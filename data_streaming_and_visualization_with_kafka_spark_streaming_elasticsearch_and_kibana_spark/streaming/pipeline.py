"""Structured-Streaming pipelines.

The reference streams Kafka → parse → ES with zero event-time handling
(no watermark, no window, no stateful op — SURVEY §2.10 T6). The engine
supplies the full set:

  windowed_rollup      — watermarked tumbling/sliding window aggregation
  session_rollup       — session windows (gap-based)
  latest_value_view    — keyed last-write-wins (T5: the ES doc-id=room
                         upsert semantics, expressed in the engine itself)
  dedup_within_watermark — state-evicting at-least-once source dedup
  stream_static_enrich — T7: stream ⋈ broadcast static dimension table
  stream_stream_outer_join — watermarked left outer interval join
  ewma_view, running_totals_view — custom stateful operators
  throttled_replay     — principled version of the producer throttle (O2):
                         source-bounded intake + ProcessingTime trigger
  run_to_memory, drain_to_sink — bounded availableNow drivers
  foreachBatch sinks   — one directory of state each: sketch_rollup (HLL),
                         cms/kmv/logbucket/stats/bloom_refresh; output in
                         several directories: rollup_refresh, quality_gate,
                         dedup_ingest, semantic_dedup_ingest, pq_ingest,
                         ann_serving, dhash_ingest, token_budget — with
                         compact_batch_dirs/read_batch_dirs and the
                         *_view readers over their output

Replay protocol: foreachBatch is at-least-once — a restarted query
replays its last uncommitted batch under the same id, and ids rise
monotonically per checkpoint (so a sink root serves one checkpoint).
Every sink therefore keeps one ledger, an `_APPLIED` file holding the
highest batch id it applied, and skips any id at or below it (Spark's
FileStreamSink skips `batchId <= latest` on the same reasoning). Every rewrite of a live directory goes through
`fsutil.replace_dir` (recover a crash's leftovers, stage, rename aside,
swap). The one-directory sinks (`_state_sink`) write the mark into the
staged state, so one rename commits state and mark together; the
multi-directory sinks (`_once_per_batch`) mark after their last write.
The one remaining limit: a multi-directory sink that crashes after some
of its directories committed, but before its mark, re-applies them on
replay — harmless where the batch rewrites its own `ingest=N` directory
or re-folds the same component edges, double-counted in the rollup's
committed days and the appended output of ann_serving, dhash_ingest and
token_budget. Atomicity across directories needs a table format.

Scale notes: watermarks bound state; for 100 TB streams use the RocksDB
state store (`spark.sql.streaming.stateStore.providerClass`) and
per-query checkpoint dirs (the reference shared one dir — T2 bug).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fsutil import recover_dir_swap, recover_partition_swaps, replace_dir

#: the applied-batch ledger file of every foreachBatch sink
_APPLIED = "_APPLIED"


def _applied(root: str, batch_id: int) -> bool:
    """True when `batch_id` is at or below the ledger mark in `root`."""
    try:
        with open(os.path.join(root, _APPLIED)) as f:
            return batch_id <= int(f.read())
    except FileNotFoundError:
        return False


def _mark(root: str, batch_id: int) -> None:
    """Set the ledger mark: write-then-rename, so a crash leaves the old
    mark or the new one, never a torn file."""
    tmp = os.path.join(root, _APPLIED + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(batch_id))
    os.replace(tmp, os.path.join(root, _APPLIED))


def _once_per_batch(root: str, apply):
    """foreachBatch sink for output that spans several directories:
    `apply(batch_df, batch_id)` runs unless the id is at or below the
    mark in `root`, and the mark follows its last write."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(root, exist_ok=True)
        if _applied(root, batch_id):
            return
        apply(batch_df, batch_id)
        _mark(root, batch_id)

    return sink


def _swap_merged(path: str, fresh: DataFrame, merge, batch_id=None) -> None:
    """Replace `path` with `merge(stored, fresh)`, or with `fresh` while
    it holds no state yet; a `batch_id` is marked inside the staged
    directory, so the swap commits state and mark together."""

    def write(staging: str) -> None:
        out = fresh
        if os.path.exists(path):
            out = merge(fresh.sparkSession.read.parquet(path), fresh)
        out.write.mode("overwrite").parquet(staging)
        if batch_id is not None:
            _mark(staging, batch_id)

    replace_dir(path, write)


def _state_sink(path: str, build, merge):
    """foreachBatch sink whose whole state is the one directory `path`:
    `build(batch_df)` summarizes a non-empty batch and `merge(stored,
    fresh)` folds it into the stored state."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        recover_dir_swap(path)
        if _applied(path, batch_id) or batch_df.isEmpty():
            return
        _swap_merged(path, build(batch_df), merge, batch_id)

    return sink


def windowed_rollup(
    records: DataFrame,
    ts_col: str,
    keys: list[str],
    metrics: list[str],
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed mean/min/max/count per key — the streaming
    twin of the batch minute_rollup, and what Kibana's date-histogram
    charts (A3) compute server-side.
    """
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    aggs = []
    for m in metrics:
        aggs += [
            F.avg(m).alias(f"{m}_avg"),
            F.min(m).alias(f"{m}_min"),
            F.max(m).alias(f"{m}_max"),
        ]
    aggs.append(F.count("*").alias("n"))
    return (
        records.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *keys)
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            *[f"{m}_{s}" for m in metrics for s in ("avg", "min", "max")],
            "n",
        )
    )


def session_rollup(
    records: DataFrame,
    ts_col: str,
    keys: list[str],
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows (Spark 3.2+ session_window) — activity bursts per
    key separated by `gap` of silence."""
    return (
        records.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), *keys)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *keys,
            "n",
        )
    )


def latest_value_view(
    records: DataFrame, keys: list[str], ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """T5 streaming: keep first arrival per (key, event-ts) within the
    watermark — with the ES keyed sink (`es.mapping.id`) the index
    converges to last-write-wins per key exactly as the reference's S8
    sink does, but the dedup state lives in the engine, bounded by the
    watermark."""
    return records.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])


def stream_static_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: list[str] | str,
    how: str = "left",
) -> DataFrame:
    """T7 (SURVEY §2.10): enrich a stream with a static dimension table.

    The dimension side is explicitly broadcast — each micro-batch joins
    against the replicated dim table map-side, so the unbounded stream
    never shuffles. This is the engine's version of joining sensor
    readings to per-room metadata (the reference had no join in its
    streaming path at all)."""
    return stream_df.join(F.broadcast(dim_df), on, how)


def stream_stream_outer_join(
    left: DataFrame,
    right: DataFrame,
    condition,
    left_ts: str,
    right_ts: str,
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the
    completeness tier above the inner interval join: unmatched left
    rows DO surface, as null-extended rows, but only once the global
    watermark (min over both sides) passes their join window, because
    that is the earliest moment "no match ever arrived" is decidable
    on unbounded input. Until then they live in bounded join state.

    `condition` must include the equi-key AND a time bound tying
    right_ts to left_ts, or state cannot be evicted and grows without
    bound. Null emission happens in the micro-batch AFTER the
    watermark advances (eviction-driven) — exercised batch-by-batch
    in tests/test_streaming.py.
    """
    return left.withWatermark(left_ts, watermark).join(
        right.withWatermark(right_ts, watermark), condition, "leftOuter"
    )


def throttled_replay(
    stream_df: DataFrame,
    query_name: str,
    trigger_interval: str = "1 second",
    output_mode: str = "append",
    sink_format: str = "memory",
    checkpoint: str | None = None,
    **sink_options: str,
):
    """O2 done right (vs. the reference's sleep-per-row+flush loop,
    dataframe_to_kafka.py:94-102): cadence comes from the ProcessingTime
    trigger; volume per tick comes from source-side bounds the caller
    set on the reader (maxFilesPerTrigger / maxOffsetsPerTrigger).
    Returns the started StreamingQuery — stop() it to end the replay.
    """
    w = (
        stream_df.writeStream.format(sink_format)
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(processingTime=trigger_interval)
    )
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    for k, v in sink_options.items():
        w = w.option(k, v)
    return w.start()


def rollup_refresh_sink(
    path: str,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
):
    """foreachBatch sink that incrementally refreshes a continuous
    aggregate (operators.rollup layout): each micro-batch is rolled up
    to (minute, keys) partials, merged with the already-materialized
    partials for the AFFECTED DAYS ONLY, and written back with dynamic
    partition overwrite — untouched day directories are never rewritten
    or even read. Counts and integer-cents sums are associative, so
    batch partial + stored partial re-aggregate losslessly; the
    materialized table converges to exactly the batch rollup of
    everything ingested (pinned in tests/test_streaming.py).

    This is the streaming half of the hypertable pattern: the batch
    side (q_hypertable_rollup) serves history ∪ tail; this sink is what
    keeps history current at 100 TB without ever rescanning it."""
    from ..operators.rollup import minute_rollup_frame

    def merge(stored: DataFrame, fresh: DataFrame) -> DataFrame:
        return (
            stored.unionByName(fresh)
            .groupBy("minute", *keys)
            .agg(F.sum("n").alias("n"), F.sum("value_cents").alias("value_cents"))
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = minute_rollup_frame(batch_df, ts_col, keys, value_col)
        delta = delta.withColumn("dt", F.to_date("minute"))
        # the rolled-up partials are tiny; persist so isEmpty, the day
        # collect, and the per-day writes don't re-aggregate the batch
        delta = delta.persist()
        if delta.isEmpty():
            delta.unpersist()
            return
        # affected-day list: tiny (time-ordered streams touch 1-2 days
        # per batch), and it IS the refresh unit — a deliberate driver
        # round-trip, like a refresh job reading its invalidation log
        days = [r[0] for r in delta.select("dt").distinct().collect()]
        for day in days:
            _swap_merged(
                os.path.join(path, f"dt={day.isoformat()}"),
                delta.filter(F.col("dt") == F.lit(day)).drop("dt"),
                merge,
            )
        delta.unpersist()
        # root marker: partition dirs are discoverable from here on
        open(os.path.join(path, "_SUCCESS"), "a").close()

    return _once_per_batch(path, _apply)


def quality_gate_sink(
    good_path: str,
    quarantine_path: str,
    violations: list,
):
    """foreachBatch row-level quality gate: each micro-batch is split by
    the named constraint predicates (operators.quality.violation
    semantics — a NULL predicate is a violation, unknown is not a pass)
    into accepted rows and quarantined rows, the latter annotated with
    the list of failed checks so triage never has to re-derive WHY a row
    was rejected. Both sides land in per-batch directories with
    overwrite, so foreachBatch's at-least-once replay rewrites rather
    than duplicates; the ledger's skip is REQUIRED once
    `compact_batch_dirs` runs, because a replay after compaction deleted
    `ingest=N` would otherwise resurrect the batch next to its compacted
    copy.

    `violations`: list of (name, Column predicate TRUE-where-violated) —
    the same predicate convention operators.quality.violation wraps into
    aggregate counters, applied here row-wise instead."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ..operators.quality import tag_failures

        tagged = tag_failures(batch_df, violations, out_col="__failed").persist()
        tagged.filter(F.size("__failed") == 0).drop("__failed").write.mode(
            "overwrite"
        ).parquet(f"{good_path}/ingest={batch_id}")
        (
            tagged.filter(F.size("__failed") > 0)
            .withColumn("failed_checks", F.col("__failed"))
            .drop("__failed")
            .write.mode("overwrite")
            .parquet(f"{quarantine_path}/ingest={batch_id}")
        )
        tagged.unpersist()

    return _once_per_batch(good_path, _apply)


#: partition value holding compacted rows (real batch ids are >= 0)
_COMPACTED = -1


def compact_batch_dirs(
    spark,
    root: str,
    min_batches: int = 2,
    target_files: int = 1,
) -> int:
    """Fold accumulated per-batch `ingest=N` directories into the single
    consolidated `ingest=-1` partition — the compaction story for the
    foreachBatch sinks (quality gate, dedup verdicts), whose long-stream
    failure mode is unbounded small-file growth.

    Crash-safe and idempotent: the consolidated dir is committed with
    the same rename-aside swap as the rollup sink, and carries an
    `_INCLUDED` marker listing every batch id folded in. Any `ingest=N`
    dir whose id is already in the marker is a leftover from a crash
    between swap and cleanup — deleted on entry, and ignored by
    `read_batch_dirs` in the meantime, so readers never double-count.
    Returns the number of batch dirs folded (0 = below `min_batches`,
    nothing touched). Run it from a scheduled maintenance job or every
    K-th micro-batch; reading N small batch dirs is the only cost."""
    cdir = os.path.join(root, f"ingest={_COMPACTED}")
    recover_dir_swap(cdir)
    included = _compacted_ids(root)
    victims = []
    for name in sorted(os.listdir(root) if os.path.exists(root) else []):
        if not name.startswith("ingest="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid == _COMPACTED:
            continue
        if bid in included:  # leftover from a crashed cleanup
            shutil.rmtree(os.path.join(root, name))
        else:
            victims.append(bid)
    if len(victims) < min_batches:
        return 0
    paths = [os.path.join(root, f"ingest={b}") for b in victims]
    if os.path.exists(cdir):
        paths.append(cdir)
    merged = spark.read.parquet(*paths).coalesce(target_files)

    def write(staging: str) -> None:
        merged.write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, "_INCLUDED"), "w") as f:
            json.dump(sorted(included + victims), f)

    replace_dir(cdir, write)
    for b in victims:
        shutil.rmtree(os.path.join(root, f"ingest={b}"))
    return len(victims)


def _compacted_ids(root: str) -> list[int]:
    marker = os.path.join(root, f"ingest={_COMPACTED}", "_INCLUDED")
    if not os.path.exists(marker):
        return []
    with open(marker) as f:
        return json.load(f)


def read_batch_dirs(spark, root: str) -> DataFrame:
    """Read a per-batch sink root correctly at any point in the
    compaction lifecycle: a mid-swap crash's `ingest=-1.old` /
    `.staging` leftovers are resolved FIRST (partition discovery would
    otherwise read the retired copy as a second, type-degrading
    partition), and rows whose `ingest` id is already folded into the
    compacted partition are excluded even if a crashed cleanup left
    their directory behind. The id filter is on the partition column,
    so it prunes directories, not rows."""
    recover_partition_swaps(root)
    df = spark.read.parquet(root)
    leftovers = [
        b
        for b in _compacted_ids(root)
        if os.path.exists(os.path.join(root, f"ingest={b}"))
    ]
    if leftovers:
        df = df.filter(~F.col("ingest").isin(leftovers))
    return df


def dedup_ingest_sink(
    index_path: str,
    verdicts_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    maintain_components: bool = True,
):
    """foreachBatch sink for streaming near-dedup at ingest: each micro-
    batch of documents is probed against the persisted MinHash index
    (operators.dedup.dedup_index_probe_and_extend), its verdicts written
    to a per-batch subdirectory of `verdicts_path`, and the index
    extended with the batch — new data is deduplicated against the WHOLE
    corpus seen so far while only ever paying batch-sized signature work.
    A rerun of a batch rewrites the per-batch index and verdict
    directories it left, and the probe excludes same-id matches.

    With `maintain_components` the sink also keeps the CLUSTER state
    current: each batch's (new_id, dup_of) verdict edges fold into the
    persisted (id, component) table via incremental_components — the
    affected-component relabel, batch-sized work — so the keep-list
    never needs a from-scratch corpus re-cluster (incremental == batch
    recompute, pinned in tests/test_dedup.py)."""
    from ..operators.dedup import dedup_index_probe_and_extend

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts = dedup_index_probe_and_extend(
            batch_df.sparkSession,
            batch_df,
            index_path,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            batch_tag=str(batch_id),
        )
        vdir = os.path.join(verdicts_path, f"ingest={batch_id}")
        verdicts.write.mode("overwrite").parquet(vdir)
        if maintain_components:
            edges = (
                batch_df.sparkSession.read.parquet(vdir)
                .filter(F.col("is_dup"))
                .select(
                    F.col(id_col).alias("id_a"), F.col("dup_of").alias("id_b")
                )
            )
            _fold_components(
                os.path.join(index_path, "components"),
                edges,
                dict(batch_df.dtypes)[id_col],
            )

    return _once_per_batch(index_path, _apply)


def _components(spark, comp_dir: str, id_type: str = "bigint") -> DataFrame:
    """The persisted (id, component) table, empty before the first fold."""
    recover_dir_swap(comp_dir)
    if os.path.exists(comp_dir):
        return spark.read.parquet(comp_dir)
    return spark.createDataFrame([], f"id {id_type}, component {id_type}")


def _fold_components(comp_dir: str, edges: DataFrame, id_type: str = "bigint") -> None:
    """Fold `edges` into the persisted (id, component) table through
    incremental_components — the affected-component relabel, batch-sized
    work; re-folding edges it already holds changes nothing."""
    from ..operators.dedup import incremental_components

    labels = _components(edges.sparkSession, comp_dir, id_type)
    replace_dir(
        comp_dir,
        lambda staging: incremental_components(labels, edges)
        .write.mode("overwrite")
        .parquet(staging),
    )


def semantic_dedup_ingest_sink(
    index_path: str,
    centroids,
    cnorms_sq=None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch sink for SEMANTIC dedup at ingest (r10 verdict task
    4) — the streaming twin of operators.similarity.semantic_dedup_keep:
    each micro-batch of vectors is assigned against the PERSISTED
    trained centroids (semantic_assign_scored — the exact batch-path
    front half, map-side), compared by exact cosine against every
    already-ingested vector IN ITS CELL (cid-pruned read of the
    persisted vector state + one BLAS matmul per touched cell — new
    rows never compare outside their cells, so per-batch work is
    O(|batch|·cell_size·d), corpus-independent), and the ≥ threshold
    edges fold into the persisted (id, component) table via
    incremental_components — batch-sized relabel work, never a corpus
    re-cluster. semantic_dedup_state_view reconstructs the EXACT batch
    output contract (component, n_members, keep_id, keep_cos_micro)
    from the persisted state; streamed == batch is pinned in
    tests/test_streaming.py. A rerun of a batch rewrites its per-batch
    vector directory and re-derives the SAME edges (self-pairs are
    excluded by id inequality).

    Why components here need the GENERAL incremental machinery while
    the batch path's union-find is cluster-local: the batch kernel sees
    each cell completely, so min-id resolution is local; the stream
    sees a cell a slice at a time, so labels must persist and merge
    across batches — exactly incremental_components' contract (min-id
    convergence pinned in tests/test_dedup.py)."""
    import numpy as np
    import pandas as pd

    from ..operators.similarity import semantic_assign_scored

    thr = float(threshold)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        scored = semantic_assign_scored(
            batch_df, centroids, id_col=id_col, vec_col=vec_col,
            cnorms_sq=cnorms_sq,
        )
        vec_root = os.path.join(index_path, "vectors")
        scored.write.mode("overwrite").parquet(
            os.path.join(vec_root, f"ingest={batch_id}")
        )
        # edges: new members vs ALL members of the touched cells (the
        # just-written batch included, so batch-internal pairs land in
        # the same pass). cid is bounded by k, so the probe list is a
        # bounded driver collect; the per-cell kernel is the batch
        # path's normalize→matmul→threshold, restricted to new rows.
        # the vectors root carries `ingest` as a partition column, so
        # "new" is a partition predicate, not a batch-sized id
        # broadcast; `touched` is bounded by k (the cell count)
        state = spark.read.parquet(vec_root)
        touched = [int(r[0]) for r in scored.select("cid").distinct().collect()]
        members = state.filter(F.col("cid").isin(touched)).select(
            "cid", id_col, "__v",
            (F.col("ingest") == batch_id).alias("__new"),
        )

        def _cell_edges(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            isnew = pdf["__new"].to_numpy()
            if not isnew.any() or len(pdf) < 2:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype(
                    {"id_a": "int64", "id_b": "int64"}
                )
            v = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
            u = v / np.sqrt((v * v).sum(axis=1))[:, None]
            ni = np.where(isnew)[0]
            s = u[ni] @ u.T
            ra, cb = np.where(s >= thr)
            ia, ib = ids[ni[ra]], ids[cb]
            # rows are NEW members only, columns are ALL members — an
            # old-vs-new pair appears exactly once (new row, old col),
            # in whichever id order the ingest happened to produce, so
            # normalize to (min, max) rather than filter ia < ib (which
            # silently dropped pairs whose NEW id was the larger one)
            mask = ia != ib
            lo = np.minimum(ia[mask], ib[mask])
            hi = np.maximum(ia[mask], ib[mask])
            return pd.DataFrame({"id_a": lo, "id_b": hi}).drop_duplicates()

        edges = (
            members.groupBy("cid")
            .applyInPandas(_cell_edges, "id_a long, id_b long")
            .dropDuplicates(["id_a", "id_b"])
        )
        _fold_components(os.path.join(index_path, "components"), edges)

    return _once_per_batch(index_path, _apply)


def semantic_dedup_state_view(spark, index_path: str) -> DataFrame:
    """The batch output contract reconstructed from the streaming
    sink's persisted state: every ingested vector (labelled by its
    component, singletons labelling themselves) elects the least-
    prototypical member per component — identical columns and
    semantics to semantic_dedup_keep (component, n_members, keep_id,
    keep_cos_micro); equality is pinned in tests/test_streaming.py."""
    vecs = spark.read.parquet(os.path.join(index_path, "vectors")).select(
        "vec_id", "cent_cos_micro"
    )
    labels = _components(spark, os.path.join(index_path, "components"))
    m = vecs.join(
        labels.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("component", F.col("vec_id")).alias("component"),
        "cent_cos_micro",
    )
    keep = F.min(
        F.struct(
            F.col("cent_cos_micro").alias("c"), F.col("vec_id").alias("i")
        )
    ).alias("k")
    return (
        m.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"), keep)
        .select(
            "component",
            "n_members",
            F.col("k.i").alias("keep_id"),
            F.col("k.c").alias("keep_cos_micro"),
        )
    )


def running_totals_view(
    records: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Custom stateful operator on transformWithStateInPandas — the
    Spark 4.x typed-state successor to applyInPandasWithState (which
    ewma_view demonstrates): per-key running count / integer-cents sum /
    max maintained in a ValueState across micro-batches, one row per key
    per batch in update mode. Cents are quantized per value BEFORE
    summing (pandas round half-to-even on exact-decimal inputs), so the
    running sum is an exact integer and the view converges to the batch
    aggregate regardless of batch boundaries.

    Requires the RocksDB state store provider AND the `protobuf` python
    package (the TWS state client speaks protobuf to the JVM state
    server; without it the worker crashes opaquely — hence the explicit
    import gate). ewma_view is the dependency-free stateful fallback."""
    import pandas as pd

    try:
        import google.protobuf  # noqa: F401  (TWS state-client wire format)
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas needs the `protobuf` package for "
            "its state-server protocol; it is not installed in this "
            "environment. Use ewma_view (applyInPandasWithState) instead."
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_ddl = (
        f"{key_col} string, n_seen bigint, total_cents bigint, "
        "max_value double"
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, cents bigint, mx double"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._totals.exists():
                n, cents, mx = self._totals.get()
            else:
                n, cents, mx = 0, 0, None
            for pdf in rows:
                vals = pdf[value_col]
                n += int(len(pdf))
                cents += int(
                    (vals * 100).round().astype("int64").sum()
                )
                batch_max = float(vals.max()) if len(vals) else None
                if batch_max is not None:
                    mx = batch_max if mx is None else max(mx, batch_max)
            self._totals.update((n, cents, mx))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_seen": [n],
                    "total_cents": [cents],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return records.groupBy(key_col).transformWithStateInPandas(
        RunningTotals(), out_ddl, "update", "none"
    )


def ewma_view(
    records: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-key
    exponentially-weighted moving average maintained ACROSS micro-batches.

    The per-batch update is closed-form vectorized numpy (no per-row
    Python): E_m = (1-a)^m E_0 + a Σ (1-a)^(m-i) v_i over the batch's
    time-sorted values. State = (ewma, count); update output mode emits
    one row per key per batch. This is the engine's template for
    operators Structured Streaming lacks natively."""
    import numpy as np
    import pandas as pd

    out_ddl = f"{key_col} bigint, ewma double, n_seen bigint"
    state_ddl = "ewma double, n bigint"

    def update(key, pdf_iter, state):
        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = None, 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col)
            vals = pdf[value_col].to_numpy(dtype="float64")
            m = len(vals)
            if m:
                w = np.power(1.0 - alpha, np.arange(m - 1, -1, -1))
                contrib = float(alpha * np.dot(w, vals))
                if ewma is None:
                    # seed with the first value, fold the rest in
                    ewma = float(vals[0])
                    if m > 1:
                        w1 = np.power(1.0 - alpha, np.arange(m - 2, -1, -1))
                        ewma = float(
                            (1.0 - alpha) ** (m - 1) * ewma
                            + alpha * np.dot(w1, vals[1:])
                        )
                else:
                    ewma = float((1.0 - alpha) ** m * ewma + contrib)
                n += m
        state.update((ewma, n))
        yield pd.DataFrame({key_col: [key[0]], "ewma": [ewma], "n_seen": [n]})

    return records.groupBy(key_col).applyInPandasWithState(
        update, out_ddl, state_ddl, "update", "NoTimeout"
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Test/dev harness: drive a streaming DataFrame to completion
    synchronously into an in-memory table; returns the StreamingQuery
    (caller reads `spark.table(name)`)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q



def drain_to_sink(spark, src: str, schema: str, sink, checkpoint: str) -> None:
    """Ingest every file landed under `src` through the foreachBatch
    `sink`, one file per micro-batch, in one availableNow run. Shuffle
    partitions are scoped to 8 for the run: per-batch work is
    batch-sized, and a corpus-sized setting pays its per-partition task
    floor on every batch. The caller's setting is restored afterwards;
    the scope is session-global, so a concurrent caller on the same
    session sees the scoped value meanwhile."""
    from ..sources.readers import file_stream

    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)

def pq_ingest_sink(
    index_path: str,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """foreachBatch sink that keeps the compact PQ code index current as
    embedding batches ingest: each micro-batch is encoded map-side
    through the SAME production encoder the batch build uses
    (operators.similarity.pq_encode — pure JVM struct-argmin against
    the codebook literals) and lands as a per-batch `ingest=N`
    directory, so ANN serving reads a fresh index (read_batch_dirs →
    pq_multi_query_topk) without ever re-encoding the corpus. Per-batch
    encode work is batch-sized regardless of index size — the 100 TB
    shape. Like quality_gate_sink, the ledger's skip is REQUIRED once
    compact_batch_dirs folds batch dirs. Codebooks are train-once
    bounded-sample artifacts; retraining means re-encoding into a NEW
    index root offline, never mutating the live one mid-stream."""
    from ..operators.similarity import pq_encode_arrow

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            pq_encode_arrow(batch_df, codebooks, vec_col)
            .select(id_col, "pq_code")
            .write.mode("overwrite")
            .parquet(f"{index_path}/ingest={batch_id}")
        )

    return _once_per_batch(index_path, _apply)


def sketch_rollup_sink(
    path: str,
    ts_col: str = "ts",
    id_col: str = "user_id",
):
    """foreachBatch sink maintaining per-day HLL distinct-user sketches
    over an unbounded stream: each micro-batch is sketched in one
    aggregation and union-merged with the stored binary sketches per
    day. State is ONE fixed-size sketch per day regardless of stream
    length or cardinality — the bounded-memory answer to "daily active
    users" where storing raw ids grows without bound and dropDuplicates
    state grows with cardinality. Serving: hll_sketch_estimate over the
    stored rows; estimates equal the batch q_sketch_distinct_rollup over
    everything ingested because same-lgK union is lossless (pinned in
    tests)."""

    def build(batch_df: DataFrame) -> DataFrame:
        day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
        return batch_df.groupBy(day.alias("day")).agg(
            F.hll_sketch_agg(id_col).alias("sk")
        )

    def merge(stored: DataFrame, fresh: DataFrame) -> DataFrame:
        return (
            stored.unionByName(fresh)
            .groupBy("day")
            .agg(F.hll_union_agg("sk").alias("sk"))
        )

    return _state_sink(path, build, merge)


def cms_refresh_sink(
    path: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
):
    """foreachBatch sink maintaining ONE count-min sketch grid over an
    unbounded stream: each micro-batch builds its own depth×width grid
    (operators.sketches.cms_build — bounded shuffle, map-side combined)
    and cell-wise sums it into the stored grid. Serving state is
    <= depth×width rows forever, regardless of stream length or key
    cardinality — the streaming answer to "how often has key X
    occurred, ever" without an unbounded exact count table. Estimates
    from the maintained grid equal a cms_build over everything ingested
    (merge == whole, pinned in tests/test_streaming.py), so downstream
    cms_estimate answers are identical to batch recomputation."""
    from ..operators.sketches import cms_build, cms_merge

    return _state_sink(
        path,
        lambda batch_df: cms_build(batch_df, key_col, depth=depth, width=width),
        # cms_merge (not a raw cell sum): the parameter sentinel must
        # dedup, not double
        cms_merge,
    )


def kmv_refresh_sink(
    path: str,
    group_cols: tuple[str, ...] = ("event_type",),
    key_col: str = "user_id",
    k: int = 64,
):
    """foreachBatch sink maintaining per-group KMV distinct sketches
    over an unbounded stream: each micro-batch's bottom-k hash set
    merges into the stored one (operators.sketches.kmv_merge). State is
    k longs per group forever, and fully deterministic (md5 family), so
    the batch kmv_distinct_rollup oracle doubles as a check on the
    streamed state: streamed == batch-built is pinned in tests."""
    from ..operators.sketches import kmv_build, kmv_merge

    return _state_sink(
        path,
        lambda batch_df: kmv_build(batch_df, list(group_cols), key_col, k=k),
        lambda stored, fresh: kmv_merge(
            stored.unionByName(fresh), list(group_cols), k=k
        ),
    )


def logbucket_refresh_sink(
    path: str,
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
):
    """foreachBatch sink maintaining per-group log-bucket quantile
    sketches over an unbounded stream — streaming percentiles with
    bounded state (≤512 bucket rows per group forever) and a relative-
    error guarantee, where exact streaming percentiles would need the
    full value history. Streamed state == batch logbucket_build over
    everything ingested (pinned in tests), so logbucket_quantile
    serves identical answers from the maintained directory."""
    from ..operators.sketches import logbucket_build, logbucket_merge

    return _state_sink(
        path,
        lambda batch_df: logbucket_build(batch_df, list(group_cols), value_col),
        lambda stored, fresh: logbucket_merge(
            stored.unionByName(fresh), list(group_cols)
        ),
    )


def stats_refresh_sink(
    path: str,
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
):
    """foreachBatch sink maintaining per-group MOMENT STATISTICS
    (n, Σv, Σv²) in integer cents over an unbounded stream — the model
    the integer-exact z-score outlier gate (q_outlier_events_zscore)
    serves: a live anomaly monitor flags each incoming batch against
    statistics accumulated over the WHOLE stream history, with state
    bounded at one row per group forever. Completes the maintained-
    model family: CMS (frequency), KMV (cardinality), Bloom
    (membership), log-bucket (quantiles), moments (mean/variance).
    Streamed state == the batch aggregate over everything ingested
    (pinned in tests), so the outlier inequality
    n·(n·v − S)² > 9·n·(n·Σv² − S²) answers identically from the
    maintained directory."""

    def build(batch_df: DataFrame) -> DataFrame:
        v = F.round(F.col(value_col) * 100).cast("long")
        return (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(*group_cols, v.alias("__v"))
            .groupBy(*group_cols)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("__v").alias("s"),
                F.sum(F.col("__v") * F.col("__v")).alias("s2"),
            )
        )

    return _state_sink(
        path,
        build,
        lambda stored, fresh: stored.unionByName(fresh)
        .groupBy(*group_cols)
        .agg(*[F.sum(c).alias(c) for c in ("n", "s", "s2")]),
    )


def bloom_refresh_sink(
    path: str,
    key_col: str = "user_id",
    n_hashes: int = 4,
    n_bits: int = 4096,
):
    """foreachBatch sink maintaining ONE Bloom bit-set over an
    unbounded stream — the streaming "have we EVER seen this key" gate
    (ingest dedup across the whole stream history, where
    dropDuplicates state grows with cardinality and
    dropDuplicatesWithinWatermark forgets past the horizon; the Bloom
    answers forever in ≤ n_bits rows, trading exactness for a bounded
    false-positive rate and keeping the no-false-negative guarantee).
    The md5 bit family keeps the maintained state fully deterministic,
    so streamed state == bloom_build over everything ingested (pinned
    in tests), and batch bloom_probe serves directly from the
    maintained directory."""
    from ..operators.sketches import bloom_build, bloom_merge

    return _state_sink(
        path,
        lambda batch_df: bloom_build(
            batch_df, key_col, n_hashes=n_hashes, n_bits=n_bits
        ),
        bloom_merge,
    )


def dedup_within_watermark(
    records: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """State-EVICTING streaming dedup (dropDuplicatesWithinWatermark):
    duplicates of a key arriving within the watermark horizon are
    suppressed, and the key's state is dropped once the watermark
    passes it — so state is bounded by keys-per-horizon, not total key
    cardinality. The trade: a key recurring AFTER the horizon emits
    again (it is not a global DISTINCT). Use this for at-least-once
    source dedup (retries/replays land close together in event time);
    use plain dropDuplicates — one state row per key forever, bounded
    by cardinality not stream length — when the contract is exact
    global DISTINCT (q_streaming_dedup_keys)."""
    return records.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def ann_serving_sink(
    index_path: str,
    centroids,
    out_path: str,
    cnorms_sq=None,
    k: int = 10,
    nprobe: int = 2,
    round_to: int = 6,
):
    """foreachBatch sink: ANN QUERY SERVING against the persisted IVF
    index — the request-path twin of `semantic_dedup_ingest_sink`
    (that one streams the CORPUS into state; this one streams QUERIES
    against it, the shape a 100 TB serving tier actually runs:
    micro-batches of query vectors arrive, each probes only its
    nprobe nearest cells of the cid-partitioned index and appends its
    exact top-k).

    Per micro-batch: the (bounded — a serving batch is a page of
    requests, never a corpus) query set collects to the driver, cells
    rank via `similarity.rank_probe_cells` (the left-to-right-fold
    probe contract shared with mmr_from_ivf_index, so a SQL twin
    replays the ranking bit-for-bit), and one partition-pruned
    `_topk_over_probed` job scores candidates JVM-side and appends
    (query_id, vec_id, cos_sim) to `out_path`. Each query is answered
    exactly once in whichever batch delivers it and touches only its
    own probed partitions, so the accumulated output is INDEPENDENT of
    how the query stream was batched — streamed serving ≡ the batch
    `ivf_multi_query_topk` on the same query set (pinned in
    tests/test_streaming.py; the gated catalog entry hash-checks it
    against the SQL replay)."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (  # noqa: E501
        similarity,
    )

    def sink(batch_df, batch_id: int) -> None:
        rows = batch_df.select("query_id", "qvec").collect()
        if not rows:
            return
        spark = batch_df.sparkSession
        queries = [
            (int(r["query_id"]), [float(x) for x in r["qvec"]]) for r in rows
        ]
        probes = {
            qid: similarity.rank_probe_cells(qv, centroids, cnorms_sq, nprobe)
            for qid, qv in queries
        }
        idx = spark.read.parquet(index_path)
        out = similarity._topk_over_probed(
            spark,
            idx,
            probes,
            queries,
            k,
            "vec_id",
            "embedding",
            round_to,
            "cid",
        )
        out.write.mode("append").parquet(out_path)

    return _once_per_batch(out_path, sink)


def dhash_ingest_sink(
    state_path: str,
    pairs_path: str,
    max_hamming: int = 3,
    cb_bits: int = 8,
):
    """foreachBatch sink: PERCEPTUAL DEDUP AT MEDIA INGEST — the
    streaming twin of `multimodal.dhash_near_dup_pairs`, with the
    persisted MIH index as its state (the semantic-dedup ingest
    pattern, hamming domain): each micro-batch of media hashes through
    the real decoders (`image_dhash_chunks`), probes ONLY the state
    partitions its own chunk values touch (cb-pruned reads of the four
    chunk tables — per-batch state I/O is O(|batch| · state/2^cb_bits),
    corpus-independent), verifies exact xor-popcount hamming ≤
    `max_hamming` against both the probed state AND the batch itself,
    appends the normalized (id_a < id_b) pair decisions, and folds the
    batch's signatures into the state tables.

    Order independence: a cross-batch pair is found exactly once — when
    its LATER-ARRIVING member ingests, whatever the id order (the
    candidate join carries no id inequality; normalization happens
    after — the exact class of bug the semantic ingest test caught) —
    and a within-batch pair exactly once via the batch-local pigeonhole
    join. The accumulated pair set therefore EQUALS the batch
    `dhash_near_dup_pairs` on the full corpus, whatever the batching:
    one driver hash pins stream ≡ batch ≡ SQL replay (the gated
    catalog entry reuses the batch DuckDB twin verbatim), and
    stream-vs-batch equality is pinned in tests/test_streaming.py."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (  # noqa: E501
        multimodal,
    )

    shift = 16 - int(cb_bits)

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs_b = multimodal.image_dhash_chunks(batch_df).persist()
        try:
            if not sigs_b.head(1):
                return
            ham_cols = [
                F.bit_count(
                    F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}"))
                )
                for j in range(4)
            ]
            new_pairs = []
            # within-batch pairs: the batch-local pigeonhole join
            wb = multimodal.dhash_near_dup_pairs(
                sigs_b, max_hamming=max_hamming
            )
            new_pairs.append(wb)
            # batch-vs-state pairs: probe only the cb partitions the
            # batch's own chunk values touch, one pruned read per table
            if os.path.exists(os.path.join(state_path, "table0")):
                a = sigs_b.select(
                    F.col("media_id").alias("bid"),
                    *[F.col(f"c{j}").alias(f"a{j}") for j in range(4)],
                )
                cand = None
                for t in range(4):
                    cbs = [
                        int(r[0])
                        for r in sigs_b.select(
                            F.shiftright(F.col(f"c{t}"), shift)
                        ).distinct().collect()
                    ]
                    st = (
                        spark.read.parquet(
                            os.path.join(state_path, f"table{t}")
                        )
                        .filter(F.col("cb").isin(cbs))
                        .select(
                            F.col("media_id").alias("sid"),
                            *[
                                F.col(f"c{j}").alias(f"b{j}")
                                for j in range(4)
                            ],
                        )
                    )
                    hit = a.join(
                        st, F.col(f"a{t}") == F.col(f"b{t}")
                    )
                    cand = hit if cand is None else cand.unionByName(hit)
                xb = (
                    cand.dropDuplicates(["bid", "sid"])
                    .withColumn(
                        "hamming",
                        sum(ham_cols).cast("long"),
                    )
                    .filter(F.col("hamming") <= max_hamming)
                    .select(
                        F.least("bid", "sid").alias("id_a"),
                        F.greatest("bid", "sid").alias("id_b"),
                        "hamming",
                    )
                )
                new_pairs.append(xb)
            allp = new_pairs[0]
            for p in new_pairs[1:]:
                allp = allp.unionByName(p)
            allp.dropDuplicates(["id_a", "id_b"]).write.mode(
                "append"
            ).parquet(pairs_path)
            if os.path.exists(os.path.join(state_path, "table0")):
                _mih_append(sigs_b, state_path, shift)
            else:
                multimodal.build_mih_index(
                    sigs_b, state_path, cb_bits=cb_bits
                )
        finally:
            sigs_b.unpersist()

    return _once_per_batch(state_path, sink)


def _mih_append(sigs, state_path: str, shift: int) -> None:
    """Append a batch's signatures to the four MIH state tables (same
    layout as `multimodal.build_mih_index`, append mode)."""
    for k in range(4):
        (
            sigs.withColumn("cb", F.shiftright(F.col(f"c{k}"), shift))
            .write.mode("append")
            .partitionBy("cb")
            .parquet(os.path.join(state_path, f"table{k}"))
        )


def token_budget_sink(dict_path: str, out_path: str):
    """foreachBatch sink: TOKEN-BUDGET accounting at document ingest —
    per-source token totals under a TRAINED BPE dictionary (the number
    a mixture pipeline budgets and rebalances by while data streams
    in; operators/tokenizer.py trains the dictionary, this meters
    against it). Each micro-batch explodes its documents' words, joins
    the persisted word→token-count dictionary (broadcast — the
    dictionary is vocabulary-sized), aggregates per-source partials,
    and appends them; the serving view sums partials per source. Sums
    are associative, so the accumulated totals are INDEPENDENT of the
    batching — streamed metering ≡ the batch per-source aggregation ≡
    the SQL replay of training + application (the gated catalog entry
    pins all three with one hash). Absent words fall back to character
    count, exactly like tokenizer.doc_token_counts."""
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (  # noqa: E501
        tokenizer,
    )

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        words = batch_df.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), tokenizer.WORD_SPLIT_REGEX)
            ).alias("word"),
        ).filter(F.col("word") != "")
        d = F.broadcast(spark.read.parquet(dict_path))
        partial = (
            words.join(d, "word", "left")
            .select(
                "source",
                F.coalesce(
                    F.col("tok_n"), F.length("word").cast("long")
                ).alias("tok_n"),
            )
            .groupBy("source")
            .agg(
                F.sum("tok_n").cast("long").alias("n_tokens"),
                F.count(F.lit(1)).cast("long").alias("n_words"),
            )
        )
        docs = batch_df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )
        partial.join(docs, "source", "full").write.mode("append").parquet(
            out_path
        )

    return _once_per_batch(out_path, sink)


def token_budget_view(spark, out_path: str) -> DataFrame:
    """Serving view over the appended per-batch partials: exact
    per-source running totals."""
    return (
        spark.read.parquet(out_path)
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
    )
