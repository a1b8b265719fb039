"""Streaming observability — engine-native metrics the reference pushed
to Kibana dashboards (README.md:171-204 of the reference describes the
ES/Kibana monitoring role; here the engine records its own progress).

ProgressRecorder is a StreamingQueryListener that captures each
micro-batch's QueryProgressEvent: rows in, processing rate, batch
duration, stateful-operator state sizes, and the ``durationMs`` phases
that split the trigger into offset lookup, write-ahead log, planning,
the batch's own jobs and the offset commit. Metrics accumulate
driver-side (they are tiny — one row per micro-batch) and convert to a
DataFrame for the same analytics/dashboard operators every other table
gets; at production scale, write that frame through any engine sink
(partitioned parquet, the ES bulk sink) on a cadence.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

#: ``durationMs`` keys, recorded as ``<key>_ms`` columns in this order
PHASES = (
    "addBatch",
    "queryPlanning",
    "latestOffset",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)
PROGRESS_SCHEMA = (
    "query_name string, batch_id long, num_input_rows long, "
    "process_rate double, duration_ms long, state_rows long, "
    + ", ".join(f"{ph}_ms long" for ph in PHASES)
)


class ProgressRecorder(StreamingQueryListener):
    """Accumulates one metrics row per micro-batch across all queries the
    session runs while the listener is attached."""

    def __init__(self) -> None:
        self.records: list[tuple] = []

    # -- StreamingQueryListener interface
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        state_rows = sum(
            int(s.get("numRowsTotal", 0)) for s in p.get("stateOperators", [])
        )
        phases = p.get("durationMs", {})
        self.records.append(
            (
                p.get("name"),
                int(p.get("batchId", -1)),
                int(p.get("numInputRows", 0)),
                float(p.get("processedRowsPerSecond", 0.0) or 0.0),
                int(p.get("batchDuration", 0)),
                state_rows,
                # a phase the trigger skipped (no new data) is absent: null
                *(phases.get(ph) for ph in PHASES),
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- analytics surface
    def frame(self, spark: SparkSession) -> DataFrame:
        """The captured metrics as a DataFrame (empty-safe)."""
        return spark.createDataFrame(self.records, PROGRESS_SCHEMA)

    def summary(self, spark: SparkSession) -> DataFrame:
        """Per-query rollup: batches, rows, mean rate, p95-ish max
        duration — the numbers a throughput dashboard panel plots."""
        from pyspark.sql import functions as F

        return (
            self.frame(spark)
            .groupBy("query_name")
            .agg(
                F.count("*").alias("n_batches"),
                F.sum("num_input_rows").alias("total_rows"),
                F.avg("process_rate").alias("avg_rate"),
                F.max("duration_ms").alias("max_batch_ms"),
                F.max("state_rows").alias("max_state_rows"),
            )
        )
