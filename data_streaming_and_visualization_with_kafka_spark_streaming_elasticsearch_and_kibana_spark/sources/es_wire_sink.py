"""ES bulk-wire writer as a Spark 4 Python DataSource: the write-side
twin of `sensor_source` completing the connector surface (batch read +
stream read + write).

`format("es_bulk_wire")` materializes EXACTLY the Elasticsearch `_bulk`
API payload the reference ships row-by-row over HTTP
(kafka_to_es.py:55-69): per partition, one NDJSON file of alternating
action and document lines —

    {"index": {"_index": "room-413", "_id": "413"}}
    {"room": "413", "co2": 612.0, ...}

with S8 keyed-upsert (`mapping_id` option → `_id` per row, so replaying
the payload converges to last-write-wins per key) and S9 dynamic index
routing (`index` option may contain `{field}` patterns resolved per
row). Against a live cluster the payload POSTs verbatim to `/_bulk`
(one request per partition file instead of the reference's one per
row); in the broker-less sandbox the bytes ON DISK are the testable
contract — tests assert action/doc line structure, routing, and doc
ids without needing a node.

Commit protocol: executors write `part-<uuid>.ndjson.tmp` and report it
in their WriterCommitMessage; `commit()` renames all reported files to
final names only after every task succeeded, `abort()` removes strays —
the same stage-then-publish discipline the repo's batch sinks use, so a
failed job never leaves half a payload looking publishable.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _Staged(WriterCommitMessage):
    tmp_path: str


_PATTERN = re.compile(r"\{([^{}]+)\}")


def _json_value(v):
    """Dates and timestamps as ISO-8601, the form Elasticsearch's dynamic
    date detection (`strict_date_optional_time`) maps as `date`; str()
    would write `2013-08-23 23:04:00`, which ES maps as text."""
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _resolve_index(pattern: str, row: dict) -> str:
    """S9 dynamic routing: replace `{field}` with the row's value."""
    return _PATTERN.sub(lambda m: str(row.get(m.group(1), "")), pattern)


class EsBulkWireWriter(DataSourceWriter):
    """Batch writer. SINGLE-WRITER-PER-PATH assumption: exactly one job
    writes a given payload directory at a time. The post-commit orphan
    sweep deletes every unreferenced `.ndjson.tmp` under the path, so a
    concurrent job staging into the same directory would lose its
    in-flight files — point concurrent jobs at distinct paths (the
    streaming twin gets this for free via per-epoch directories)."""

    def __init__(
        self,
        path: str,
        index: str,
        mapping_id: str | None,
        overwrite: bool,
    ):
        self.path = path
        self.index = index
        self.mapping_id = mapping_id
        # overwrite semantics, deferred to COMMIT: the prior payload's
        # files are enumerated now (driver-side, before any task runs)
        # and deleted only after the new files publish — a failed job
        # leaves the old payload intact, a successful one replaces it
        self.retire = (
            sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".ndjson")
            )
            if overwrite and os.path.isdir(path)
            else []
        )

    def write(self, iterator):
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"part-{uuid.uuid4().hex}.ndjson.tmp")
        with open(tmp, "w") as f:
            for row in iterator:
                doc = row.asDict()
                action: dict = {"_index": _resolve_index(self.index, doc)}
                if self.mapping_id is not None:
                    action["_id"] = str(doc[self.mapping_id])
                f.write(json.dumps({"index": action}, sort_keys=True))
                f.write("\n")
                f.write(json.dumps(doc, sort_keys=True, default=_json_value))
                f.write("\n")
        return _Staged(tmp_path=tmp)

    def _sweep_orphaned_tmp(self) -> None:
        """Remove leftover .tmp files once the job resolves: a task
        attempt that died mid-write and was RETRIED leaves its first
        attempt's .tmp unreported (commit never renames it, abort never
        runs because the job succeeded) — without this sweep those
        orphans accumulate forever, unseen even by overwrite's retire
        scan (which matches only *.ndjson). Runs AFTER commit has
        renamed every claimed .tmp (and after abort has removed its
        own), so everything still matching *.ndjson.tmp is an orphan —
        under the single-writer-per-path assumption (see class
        docstring)."""
        if not os.path.isdir(self.path):
            return
        for f in os.listdir(self.path):
            if f.endswith(".ndjson.tmp"):
                os.remove(os.path.join(self.path, f))

    def commit(self, messages):
        for m in messages:
            if m is not None:
                os.replace(m.tmp_path, m.tmp_path[: -len(".tmp")])
        self._sweep_orphaned_tmp()
        for old in self.retire:
            if os.path.exists(old):
                os.remove(old)

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)
        self._sweep_orphaned_tmp()


class EsBulkWireStreamWriter(DataSourceStreamWriter):
    """Streaming twin: each micro-batch's payload publishes atomically
    as an `epoch=<batchId>` directory (tasks stage `.tmp` files; the
    driver-side commit renames them under the epoch dir only after
    every task succeeded, abort removes strays). At-least-once replay
    of a batch rewrites its own epoch dir — with per-key `_id`s the ES
    `_bulk` POST of a replayed payload converges to the same documents,
    the same idempotence the keyed S8 sink relies on. The epoch layout
    is the same per-batch-dir convention as the foreachBatch sinks, so
    `compact_batch_dirs`-style maintenance applies."""

    def __init__(self, path: str, index: str, mapping_id: str | None):
        self.path = path
        self.index = index
        self.mapping_id = mapping_id

    def write(self, iterator):
        w = EsBulkWireWriter(self.path, self.index, self.mapping_id, False)
        return w.write(iterator)

    def _sweep_root_tmp(self) -> None:
        """Orphaned .tmp files in the staging root (failed-then-retried
        task attempts that never made a commit message) are safe to
        delete once the epoch resolves — micro-batches are sequential,
        so nothing else can be staging here."""
        for f in os.listdir(self.path):
            if f.endswith(".ndjson.tmp"):
                os.remove(os.path.join(self.path, f))

    def commit(self, messages, batchId: int) -> None:
        edir = os.path.join(self.path, f"epoch={batchId}")
        if os.path.isdir(edir):  # at-least-once replay: rewrite, not add
            import shutil

            shutil.rmtree(edir)
        os.makedirs(edir, exist_ok=True)
        for m in messages:
            if m is not None:
                final = os.path.join(
                    edir, os.path.basename(m.tmp_path)[: -len(".tmp")]
                )
                os.replace(m.tmp_path, final)
        self._sweep_root_tmp()

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)
        self._sweep_root_tmp()


class EsBulkWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "es_bulk_wire"

    def writer(self, schema, overwrite: bool) -> EsBulkWireWriter:
        path = self.options.get("path")
        index = self.options.get("index")
        if not path or not index:
            raise ValueError(
                "es_bulk_wire requires .option('path', ...) and "
                ".option('index', ...)"
            )
        return EsBulkWireWriter(
            path, index, self.options.get("mapping_id"), overwrite
        )

    def streamWriter(self, schema, overwrite: bool) -> EsBulkWireStreamWriter:
        path = self.options.get("path")
        index = self.options.get("index")
        if not path or not index:
            raise ValueError(
                "es_bulk_wire requires .option('path', ...) and "
                ".option('index', ...)"
            )
        return EsBulkWireStreamWriter(
            path, index, self.options.get("mapping_id")
        )
