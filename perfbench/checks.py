"""Correctness checks. Each returns ``(attempted, failed, notes)``; they
run outside the timed region and feed the result line's ``attempted``
and ``failed`` counts (``failed / attempted`` is the failed ratio).
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd

from gen import METRICS


def read_payload(out_dir: str) -> list[tuple[int, dict, dict]]:
    """``(batch id, action, doc)`` for every document of an
    ``es_bulk_wire`` streaming payload (``epoch=<batch>/*.ndjson``)."""
    docs = []
    for path in sorted(glob.glob(os.path.join(out_dir, "epoch=*", "*.ndjson"))):
        batch = int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])
        with open(path) as f:
            lines = f.read().splitlines()
        for i in range(0, len(lines) - 1, 2):
            docs.append((batch, json.loads(lines[i]), json.loads(lines[i + 1])))
        if len(lines) % 2:
            docs.append((batch, {}, {}))  # dangling action line
    return docs


def expected_rollup(df: pd.DataFrame, watermark_s: float) -> pd.DataFrame:
    """Per room-minute mean/min/max/count of the readings, for windows
    the final watermark (max event time − delay) has closed."""
    win = (np.floor(df["ts"].to_numpy() / 60) * 60).astype("int64")
    wide = df.assign(win=win, **{f"{m}_f64": df[m].astype("float64")
                                 for m in METRICS})
    out = wide.groupby(["room", "win"]).agg(
        **{f"{m}_{s}": (m, s) for m in METRICS for s in ("min", "max")},
        **{f"{m}_avg": (f"{m}_f64", "mean") for m in METRICS},
        n=("co2", "size"))
    wm = np.floor((df["ts"].max() - watermark_s) * 1000) / 1000
    out = out[out.index.get_level_values("win") + 60 <= wm]
    out.index = [f"{r}@{w}" for r, w in out.index]
    return out


def _f32_equal(a, b) -> bool:
    return a is not None and b is not None and np.float32(a) == np.float32(b)


def check_replay(docs, expected: pd.DataFrame) -> tuple[int, int, list[str]]:
    """Each closed window's document exactly once, with the right action
    line, exact ``n``/min/max and the mean to 1e-9 relative."""
    failed, notes, seen = 0, [], set()
    for _, action, doc in docs:
        did = doc.get("doc_id")
        idx = action.get("index", {})
        ok = did in expected.index and did not in seen
        if ok:
            row = expected.loc[did]
            ok = (
                idx.get("_index") == f"room-{doc.get('room')}"
                and idx.get("_id") == did
                and doc.get("n") == int(row["n"])
                and all(_f32_equal(doc.get(f"{m}_{s}"), row[f"{m}_{s}"])
                        for m in METRICS for s in ("min", "max"))
                and all(doc.get(f"{m}_avg") is not None and
                        abs(doc[f"{m}_avg"] - row[f"{m}_avg"])
                        <= 1e-9 * max(1.0, abs(row[f"{m}_avg"]))
                        for m in METRICS)
            )
        if not ok:
            failed += 1
            if len(notes) < 3:
                notes.append(f"bad replay doc {did}: {doc}")
        seen.add(did)
    missing = len(set(expected.index) - seen)
    if missing:
        notes.append(f"{missing} closed windows missing from the payload")
    return len(expected), failed + missing, notes


def check_live(docs, df: pd.DataFrame, sent: np.ndarray) -> tuple[int, int, list[str]]:
    """Every generated event delivered exactly once with its fields."""
    ref = df.set_index("event_id")
    sent_by_id = dict(zip(df["event_id"].tolist(), sent.tolist()))
    failed, notes, seen = 0, [], set()
    for _, action, doc in docs:
        eid = doc.get("event_id")
        ok = eid in sent_by_id and eid not in seen
        if ok:
            row = ref.loc[eid]
            ok = (
                action.get("index", {}).get("_id") == str(eid)
                and doc.get("room") == row["room"]
                and doc.get("sent") == sent_by_id[eid]
                and all(_f32_equal(doc.get(m), row[m]) for m in METRICS)
            )
        if not ok:
            failed += 1
            if len(notes) < 3:
                notes.append(f"bad live doc {eid}: {doc}")
        seen.add(eid)
    missing = len(sent_by_id.keys() - seen)
    if missing:
        notes.append(f"{missing} events not delivered by the drain deadline")
    return len(df), failed + missing, notes


def check_catalog(results: dict[str, pd.DataFrame], oracle_sql: dict[str, str],
                  tables_dir: str, tables, dup_pairs) -> tuple[int, int, list[str]]:
    """Each query's rows against its DuckDB twin under the rules of
    ``tools/check_oracle.compare``; ``minhash_dedup_pairs`` has no twin
    and must find every planted duplicate pair at Jaccard 1."""
    import duckdb
    from check_oracle import compare

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
        failed, notes = 0, []
        for name, got in results.items():
            if name in oracle_sql:
                err = compare(got, con.sql(oracle_sql[name]).df())
            elif name == "minhash_dedup_pairs":
                err = _check_dup_pairs(got, dup_pairs)
            else:
                err = "no oracle twin"
            if err:
                failed += 1
                notes.append(f"{name}: {str(err)[:300]}")
        return len(results), failed, notes
    finally:
        con.close()


def _check_dup_pairs(got: pd.DataFrame, dup_pairs) -> str | None:
    pairs = {(min(a, b), max(a, b)): j for a, b, j in
             zip(got["id_a"], got["id_b"], got["jaccard"])}
    lost = [p for p in dup_pairs if pairs.get(p) != 1.0]
    if lost:
        return f"{len(lost)} planted duplicate pairs missing, e.g. {lost[:3]}"
    if (got["jaccard"] < 0.5).any():
        return "pair below the 0.5 threshold"
    return None
