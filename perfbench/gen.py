"""Seeded input generators for the benchmark.

Everything the engine reads is made here from ``--seed``; nothing outside
the checkout is read.

* ``sensor_frame`` / ``write_wire_files`` — KETI-shaped sensor readings
  (room, timestamp and the five metrics co2/light/temp/humidity/pir) as
  Kafka-shaped records: ``key`` = room, ``value`` = the JSON reading,
  landed as parquet files that ``sources.readers.file_stream`` replays.
  Rooms report at Zipf-skewed rates; event time jitters a few seconds,
  far under the rollup's watermark.
* ``live`` (``python3 perfbench/gen.py live ...``) — the open-loop
  generator, run as its own process: one file per tick at a fixed rate,
  each event stamped with its scheduled send time, reporting how late it
  ran.
* ``catalog_tables`` — TPC-H-shaped tables plus ``events``, ``documents``
  and ``embeddings`` with the column layout the catalog queries read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

METRICS = ("co2", "light", "temp", "humidity", "pir")
#: 2013-08-23 00:00:00 UTC, the start of the KETI sample
BASE_EPOCH = 1377216000
WIRE_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
#: DDL of the decoded reading; ``sent`` is only set by the live generator
RECORD_DDL = (
    "event_id BIGINT, ts TIMESTAMP, room STRING, co2 FLOAT, light FLOAT, "
    "temp FLOAT, humidity FLOAT, pir FLOAT, sent DOUBLE"
)


def room_names(n: int) -> list[str]:
    """KETI-style room ids: numeric, with a letter suffix on some."""
    return [f"{100 + i}{'A' if i % 7 == 3 else ''}" for i in range(n)]


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def sensor_frame(
    rng: np.random.Generator,
    rows: int,
    rooms: int,
    span_s: float,
    jitter_s: float = 5.0,
    first_id: int = 0,
    t0: float = BASE_EPOCH,
) -> pd.DataFrame:
    """``rows`` readings over ``span_s`` seconds in arrival order.

    Rows are in the order they are sent; ``ts`` is the send slot plus
    up to ``jitter_s`` of lateness, so event time is slightly out of
    order. Values are rounded to one decimal so JSON text, Spark's
    FLOAT and numpy's float32 all hold the same number.
    """
    names = np.array(room_names(rooms))
    room = names[rng.choice(rooms, size=rows, p=_zipf_weights(rooms))]
    slot = t0 + np.sort(rng.uniform(0.0, span_s, rows))
    ts = np.round(slot - rng.uniform(0.0, jitter_s, rows), 3)
    vals = {
        "co2": rng.normal(600, 120, rows).clip(100, 1000),
        "light": rng.gamma(2.0, 150, rows).clip(0, 2500),
        "temp": rng.normal(23.5, 1.2, rows).clip(20, 27),
        "humidity": rng.normal(50, 4, rows).clip(40, 60),
        "pir": np.where(rng.random(rows) < 0.8, 0.0, rng.uniform(0, 40, rows)),
    }
    df = pd.DataFrame(
        {"event_id": np.arange(first_id, first_id + rows), "ts": ts, "room": room}
    )
    for m in METRICS:
        df[m] = np.round(vals[m], 1).astype(np.float32)
    return df


def _iso_ms(epoch: np.ndarray) -> np.ndarray:
    ms = np.round(epoch * 1000).astype("int64").astype("datetime64[ms]")
    return np.char.add(np.datetime_as_string(ms, unit="ms"), "Z")


def wire_table(df: pd.DataFrame, sent: np.ndarray | None = None) -> pa.Table:
    """Readings → Kafka-shaped records whose value is the JSON reading.

    ``sent`` (epoch seconds) is written with 15 significant digits, so
    pass it rounded to 10 µs to have it read back exactly.
    """
    rec = pd.DataFrame({"event_id": df["event_id"].to_numpy(),
                        "ts": _iso_ms(df["ts"].to_numpy()),
                        "room": df["room"].to_numpy()})
    for m in METRICS:
        rec[m] = np.round(df[m].to_numpy().astype("float64"), 1)
    if sent is not None:
        rec["sent"] = sent
    text = rec.to_json(orient="records", lines=True, double_precision=15)
    values = [v.encode() for v in text.splitlines()]
    n = len(df)
    return pa.table(
        {
            "key": [r.encode() for r in rec["room"]],
            "value": values,
            "topic": ["office-input"] * n,
            "partition": (df["event_id"].to_numpy() % 3).astype("int32"),
            "offset": df["event_id"].to_numpy().astype("int64"),
            "timestamp": pa.array(
                (df["ts"].to_numpy() * 1e6).astype("int64"),
                type=pa.timestamp("us", tz="UTC"),
            ),
        },
        schema=WIRE_SCHEMA,
    )


def land(table: pa.Table, directory: str, name: str) -> None:
    """Write then rename, so a streaming source never sees half a file
    (names starting with ``.`` are skipped by Spark's file source)."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def write_wire_files(df: pd.DataFrame, directory: str, files: int) -> None:
    """Split the readings in send order into ``files`` landed files."""
    os.makedirs(directory, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        land(wire_table(df.iloc[part]), directory, f"part-{i:05d}.parquet")


# ------------------------------------------------------------------ live
def live_schedule(seed: int, rate: int, tick_s: float, ticks: int, rooms: int):
    """The live generator's readings for every tick, reproducible from
    the seed alone (the checks regenerate them to compare fields)."""
    rng = np.random.default_rng(seed)
    per_tick = int(round(rate * tick_s))
    df = sensor_frame(rng, per_tick * ticks, rooms, ticks * tick_s, 1.0)
    offset = np.arange(len(df)) / rate  # each event's send time after start
    return df, offset, per_tick


def sent_times(start: float, offset: np.ndarray) -> np.ndarray:
    """Scheduled send epochs, rounded to what the wire carries exactly."""
    return np.round(start + offset, 5)


def run_live(args) -> int:
    """Open loop: tick k lands, at start + (k+1)·tick, the events due in
    [start + k·tick, start + (k+1)·tick), whatever the engine is doing."""
    df, offset, per_tick = live_schedule(
        args.seed, args.rate, args.tick, args.ticks, args.rooms
    )
    os.makedirs(args.out, exist_ok=True)
    start = float(args.start)
    late = []
    for k in range(args.ticks):
        due = start + (k + 1) * args.tick
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        sl = slice(k * per_tick, (k + 1) * per_tick)
        part = df.iloc[sl]
        land(wire_table(part, sent_times(start, offset[sl])), args.out, f"tick-{k:06d}.parquet")
        late.append(time.time() - due)
    print(json.dumps({"ticks": args.ticks, "late_max_s": max(late),
                      "late_p50_s": float(np.median(late))}))
    return 0


# --------------------------------------------------------------- catalog
CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")


def n_documents(sf: float) -> int:
    return max(50, int(50_000 * sf))


def planted_dup_pairs(n_doc: int) -> list[tuple[int, int]]:
    """(original, copy) doc ids whose texts are identical."""
    return [(i - 7, i) for i in range(7, n_doc, 20)]


def catalog_tables(out: str, seed: int, sf: float) -> None:
    """TPC-H-shaped tables at scale factor ``sf`` (sf 1 ≈ 6M lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = n_documents(sf)
    n_emb = max(50, int(20_000 * sf))
    n_users = max(15, n_cust // 10)
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "us")

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["red", "small", "hot", "old", "large", "green", "blue", "dark"]
    noun = ["plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "nut"]
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    put("part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    odate = d0 + rng.integers(0, 2400, n_ord) * day
    put("orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    okey = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, okey[1:] != okey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    pkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array((np.arange(n_line) - run_start) % 7 + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": odate[okey] + rng.integers(1, 122, n_line) * day,
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_ev),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 25.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    vocab = ("a the data spark stream query table row column key value join "
             "merge sort hash scan filter agg group order line part customer "
             "window batch vector big small fast slow").split()
    texts = [" ".join(rng.choice(vocab, rng.integers(8, 80))) for _ in range(n_doc)]
    for a, b in planted_dup_pairs(n_doc):  # near-dup detection needs hits
        texts[b] = texts[a]
    put("documents", {
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    lv = sub.add_parser("live", help="open-loop file generator")
    lv.add_argument("--out", required=True)
    lv.add_argument("--seed", type=int, required=True)
    lv.add_argument("--rate", type=int, required=True)
    lv.add_argument("--tick", type=float, required=True)
    lv.add_argument("--ticks", type=int, required=True)
    lv.add_argument("--rooms", type=int, required=True)
    lv.add_argument("--start", type=float, required=True,
                    help="epoch second of tick 0's start")
    args = p.parse_args(argv)
    return run_live(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
