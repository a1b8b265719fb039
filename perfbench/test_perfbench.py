"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The checks are tested without Spark. The smoke test runs every workload
of BENCHMARK.json at the ``smoke`` size, traced and untraced, and needs
a JVM (about a minute per run on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _payload(tmp_path, expected):
    """The replay's expected documents, written by the real sink writer."""
    from pyspark.sql import Row

    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
        EsBulkWireStreamWriter,
    )

    rows = []
    for did, r in expected.iterrows():
        room = did.split("@")[0]
        rows.append(Row(room=room, doc_id=did, n=int(r["n"]), **{
            c: float(r[c]) for c in expected.columns if c != "n"}))
    w = EsBulkWireStreamWriter(str(tmp_path), "room-{room}", "doc_id")
    w.commit([w.write(iter(rows))], 0)
    return str(tmp_path)


@pytest.fixture
def replay_case(tmp_path):
    df = gen.sensor_frame(np.random.default_rng(5), 3000, 20, 600)
    expected = checks.expected_rollup(df, 60)
    return expected, _payload(tmp_path, expected)


def test_clean_payload_passes(replay_case):
    expected, out = replay_case
    attempted, failed, notes = checks.check_replay(checks.read_payload(out), expected)
    assert attempted == len(expected) > 0
    assert failed == 0, notes


def _rewrite(out, edit):
    [path] = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
              if f.endswith(".ndjson")]
    with open(path) as f:
        lines = f.read().splitlines()
    with open(path, "w") as f:
        f.write("\n".join(edit(lines)) + "\n")


@pytest.mark.parametrize("edit", [
    # a wrong count in one document
    lambda ls: ls[:1] + [ls[1].replace('"n": ', '"n": 1')] + ls[2:],
    # one document lost
    lambda ls: ls[2:],
    # one document delivered twice
    lambda ls: ls + ls[:2],
    # a truncated payload: dangling action line
    lambda ls: ls[:-1],
], ids=["wrong-value", "missing", "duplicate", "truncated"])
def test_corrupted_payload_gives_failures(replay_case, edit):
    expected, out = replay_case
    _rewrite(out, edit)
    attempted, failed, _ = checks.check_replay(checks.read_payload(out), expected)
    assert failed / attempted > 0


def test_planted_duplicates_are_required():
    import pandas as pd

    pairs = gen.planted_dup_pairs(100)
    found = pd.DataFrame({"id_a": [a for a, _ in pairs], "id_b": [b for _, b in pairs],
                          "jaccard": 1.0})
    assert checks._check_dup_pairs(found, pairs) is None
    assert checks._check_dup_pairs(found.iloc[1:], pairs) is not None


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                          "--seed", "1", "--seconds", "1",
                                          "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]]
                         + ["sensor_live"])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    r = subprocess.run(SPEC["command"] + ["--workload", workload, "--seed", "3",
                                          "--seconds", "1", "--trace", str(trace),
                                          "--size", "smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
