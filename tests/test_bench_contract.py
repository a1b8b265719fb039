"""Bench harness contract guards.

The round driver captures only the LAST 2,000 characters of bench.py's
stdout and parses them as JSON — a payload that outgrows the buffer
silently turns BENCH_r{N}.json's `parsed` null (rounds 1-6 all shipped
that way). Growing HEADLINE must never re-break it.
"""

from __future__ import annotations

import glob
import json
import os

import bench
import __spark_entry__ as entrymod


def _catalog_sources() -> list[str]:
    """The entry module and every module of the catalog it fronts."""
    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    return [entrymod.__file__] + sorted(
        glob.glob(os.path.join(here, "catalog", "*.py"))
    )


def test_headline_names_resolve_and_are_unique():
    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"HEADLINE entries not in queries(): {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_headline_never_loses_a_committed_ledger_name():
    """A HEADLINE name silently vanishing is undetectable downstream:
    bench.py emits positional q1..qN keys, so removing a mid-list entry
    SHIFTS every later key instead of deleting one — the r15 driver's
    PERF table compared different queries from q62 on and reported
    `n_dropped_from_bench: 0` while three queries had left the timed
    set (VERDICT r15 "What's wrong" #1). Contract: every query name in
    the COMMITTED ledger of record (BENCH_FULL.json) must still be in
    HEADLINE. Growing the set is fine; shrinking it must fail HERE, in
    the same commit that tries it, with the override being an explicit
    edit to the committed ledger that the round judge will see."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_FULL.json")) as fh:
        ledger = json.load(fh)
    committed = set(ledger["queries"])
    lost = sorted(committed - set(bench.HEADLINE))
    assert not lost, (
        f"HEADLINE lost committed-ledger queries: {lost} — restore them "
        "(the capture buffer is handled by the precision ladder, never "
        "by narrowing the timed set)"
    )
    # the three r15 casualties are restored and must stay restored even
    # after the next --record-ledger rewrites BENCH_FULL.json
    for name in ("bottomk_sample", "asof_next_purchase", "welch_t_test"):
        assert name in bench.HEADLINE, f"{name} dropped from HEADLINE again"


def _worst_case_line(per_query: float, ndp: int) -> str:
    # ndp == 0 models bench.py's last ladder rung, which emits ints
    times = {
        name: (int(round(per_query)) if ndp == 0 else round(per_query, ndp))
        for name in bench.HEADLINE
    }
    short = {f"q{i + 1}": t for i, (_, t) in enumerate(times.items())}
    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": short,
        "sf": 0.1,
        # wire_replay_rows / baseline_rows_per_sec / the best-of-3 rate
        # / the qK key-mapping hint are constants and live only in
        # BENCH_FULL.json (headroom for the per-query map — r10: the
        # 141-entry 2-dp worst case hit the guard exactly; r12 moved
        # the derived wire_vs_baseline ratio and wire_replay_sec (=
        # rows/rate, rows constant) there too as HEADLINE kept growing;
        # r15 at 164 entries moved the measured median rate itself —
        # the whole wire story now lives in BENCH_FULL.json)
    }
    # same compact serialization bench.py emits
    return json.dumps(payload, separators=(",", ":"))


def test_bench_line_fits_driver_capture_buffer():
    """Ladder contract at 167 entries (r16 — the r15 verdict's item 1:
    fit the line via the PRECISION LADDER, never by narrowing the
    timed set). Three guarantees, strongest first:

    1. The everyday rung keeps per-query resolution: a 1-dp line with
       EVERY median at the suite's slowest committed value (~5s) fits.
       (Through r15 this asserted the 2-dp rung at 164 entries; at 167
       a realistic 2-dp line is ~1955 chars, so 1-dp is the everyday
       rung now — full 3-dp numbers always land in BENCH_FULL.json.)
    2. A 100×-degraded run still ships the map: the 0-dp rung fits
       with every median at 100s (a 4.6-hour bench).
    3. Beyond that, bench.py's final fallback drops the map but keeps
       metric/value parseable — it is a constant-size line and cannot
       overflow; asserted here so nobody deletes it."""
    line_1dp = _worst_case_line(5.0, 1)
    assert len(line_1dp) < 1950, (
        f"1-dp bench line would be {len(line_1dp)} chars at 5.0/query "
        "— the precision ladder's everyday rung no longer fits; trim "
        "the payload before growing HEADLINE"
    )
    line_0dp = _worst_case_line(100.0, 0)
    assert len(line_0dp) < 1950, (
        f"0-dp bench line would be {len(line_0dp)} chars at 100s/query "
        "— even the degraded-run rung overflows; shrink the payload "
        "before growing HEADLINE"
    )
    fallback = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 999999.999,
            "unit": "sec",
            "queries": {"n": len(bench.HEADLINE)},
            "sf": 0.1,
            "key": "per-query times in BENCH_FULL.json",
        },
        separators=(",", ":"),
    )
    assert len(fallback) < 1950


def test_entry_caches_go_through_the_artifact_store():
    """Every cached artifact of the catalog is built by
    `fsutil.materialize`, whose key is in the path and whose publish is
    one rename. A hand-built temp path or a hand-written `_SUCCESS`
    stamp in the entry module or a catalog module is a cache outside the
    store: keyed on less than what built it, and readable while
    half-written."""
    import re

    found = []
    for path in _catalog_sources():
        with open(path) as f:
            src = f.read()
        name = os.path.basename(path)
        if "tempfile.gettempdir(" in src:
            found.append(f"{name}: tempfile.gettempdir(")
        found += [
            f"{name}: {m}"
            for m in re.findall(r"""open\([^)]*["']_SUCCESS["']""", src)
        ]
    assert not found, found


def test_swap_names_live_only_in_fsutil():
    """`fsutil.replace_dir` is the one writer that knows the `.staging`
    and `.old` siblings of a swapped directory. A path literal naming
    them anywhere else in the package, the entry module or the catalog
    is a second commit protocol, with its own crash windows."""
    import ast
    import re

    import data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark as pkg

    root = os.path.dirname(pkg.__file__)
    files = _catalog_sources() + [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".py") and f != "fsutil.py"
    ]
    swap_name = re.compile(r"\.(staging|old)\b")
    found = []
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read())
        docs = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        found += [
            f"{os.path.relpath(path, root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and swap_name.search(node.value)
        ]
    assert not found, found


#: public library definitions kept with no caller in the catalog,
#: bench.py or perfbench, each for a reason of its own
_KEPT_WITHOUT_CALLER = {
    # the reference's own surface, expressed in the engine; README's
    # coverage map names each. The Kafka and elasticsearch-spark
    # connector paths stay although no connector jar is on this host.
    "latest_value_view",  # T5 keyed upsert (the ES doc-id=room sink)
    "throttled_replay",  # O2 producer throttle (ProcessingTime trigger)
    "kafka_stream",
    "kafka_stream_writer",
    "write_kafka_batch",
    "write_es_stream",
    "es_bulk_foreach_batch",
    "read_sensor_csv",
    "read_delimited",
    "sensor_fusion_pipeline",
    # plan-assertion helpers (plans/explain.py) the plan tests use
    "assert_pushed_filters",
    "has_broadcast_join",
    "codegen_stage_count",
    # reference paths the tests hold a production path equal to: the
    # globbed sensor-tree reader, the JPEG fixture encoder, the
    # driver-side per-query ANN searches, the numpy-parity PQ encoder
    # and the Arrow brute-force top-k
    "read_sensor_tree",
    "encode_jpeg",
    "lsh_multi_query_topk",
    "ivf_multi_query_topk",
    "pq_multi_query_topk",
    "pq_encode",
    "brute_force_topk_arrow",
    # measured by tools/ann_recall.py and SCALING.md, not by a query
    "train_imi_codebooks",
    "semantic_dup_pairs_multiprobe_imi",
    # the merge half of the mergeable sketches (merge == sketch of the
    # union is the property their tests pin)
    "cms_merge",
    "kmv_merge",
    "logbucket_merge",
    # the streaming-progress listener the per-query profile reads
    "ProgressRecorder",
    # the reference producer's full shuffle before replay (O1,
    # `sample(frac=1)` in dataframe_to_kafka.py), beside its throttle
    # above, and the partition-local form its docstring sends
    # scale callers to
    "shuffled",
    "shuffled_within_partitions",
    # the pixel path of `resize_plan` (which multimodal queries call):
    # its test holds the plan's target shape equal to a real resample
    "resize_images",
}


def test_streaming_and_fsutil_surface_has_callers():
    """A public function or class of the package stays only while the
    package, the entry module, the catalog, `bench.py` or `perfbench/`
    refers to it (by name or attribute) outside its own body. Test
    files and tools do not count: an entry point only they call is
    surface nothing runs. (The rule started with
    `streaming/pipeline.py` and `fsutil.py`; it now covers every module
    of the package.)"""
    import ast

    import data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark as pkg

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.realpath(os.path.dirname(pkg.__file__))
    files = _catalog_sources() + [bench.__file__] + [
        os.path.join(d, f)
        for top in (root, os.path.join(here, "perfbench"))
        for d, _, fs in os.walk(top)
        for f in fs
        if f.endswith(".py") and not f.startswith("test_")
    ]
    trees = {}
    for path in files:
        with open(path) as f:
            trees[os.path.realpath(path)] = ast.parse(f.read())

    def refs(tree, skip=None):
        own = {id(n) for n in ast.walk(skip)} if skip else set()
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(tree)
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in own
        }

    orphans = []
    for path, tree in trees.items():
        if not path.startswith(root + os.sep):
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            seen = set().union(
                *(refs(t, node if p == path else None) for p, t in trees.items())
            )
            if node.name not in seen and node.name not in _KEPT_WITHOUT_CALLER:
                orphans.append(f"{os.path.relpath(path, root)}:{node.name}")
    assert not orphans, orphans
    stale = _KEPT_WITHOUT_CALLER - {
        node.name
        for path, tree in trees.items()
        if path.startswith(root + os.sep)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
    }
    assert not stale, f"kept names that no longer exist: {sorted(stale)}"


def test_queries_md_matches_the_generator():
    """QUERIES.md is generated (`python tools/gen_catalog.py`); a catalog
    edit that does not regenerate it leaves the committed table stale."""
    from tools.gen_catalog import OUT, render

    with open(OUT) as fh:
        committed = fh.read()
    assert committed == render(), "QUERIES.md is stale: run python tools/gen_catalog.py"
