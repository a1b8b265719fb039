"""The artifact store (`fsutil.materialize`): complete keys, atomic
publish, readiness by existence. Pure filesystem — no Spark session."""

from __future__ import annotations

import importlib
import os
import sys
import tempfile
import textwrap
import threading

import numpy as np
import pytest

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    fsutil,
)


@pytest.fixture()
def store(tmp_path, monkeypatch):
    """An isolated temp root for the store, plus one source file under
    a `sf0.001` fixture dir."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    (sf / "t.parquet").write_text("v1")
    return root, str(sf)


def _writer(calls: list, text: str = "done"):
    def build(path: str) -> None:
        calls.append(path)
        with open(os.path.join(path, "out.txt"), "w") as f:
            f.write(text)

    return build


def _artifacts(root) -> list[str]:
    return sorted(os.listdir(root))


def test_hit_does_not_call_build(store):
    root, sf = store
    calls: list = []
    build = _writer(calls)
    p1 = fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {"k": 1}, build)
    p2 = fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {"k": 1}, build)
    assert p1 == p2 and len(calls) == 1
    assert os.path.basename(p1).startswith("spark_graft_t_sf0.001_")
    assert open(os.path.join(p1, "out.txt")).read() == "done"
    # readiness is existence: no stamp or fingerprint file is written
    assert os.listdir(p1) == ["out.txt"]
    assert _artifacts(root) == [os.path.basename(p1)]


def test_source_stat_change_rebuilds_and_drops_old_key(store):
    root, sf = store
    calls: list = []
    build = _writer(calls)
    p1 = fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {}, build)
    with open(f"{sf}/t.parquet", "w") as f:
        f.write("version 2")
    p2 = fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {}, build)
    assert p2 != p1 and len(calls) == 2
    assert _artifacts(root) == [os.path.basename(p2)]  # superseded key gone


def test_directory_source_is_walked(store):
    _, sf = store
    os.makedirs(f"{sf}/d.parquet")
    with open(f"{sf}/d.parquet/part-0", "w") as f:
        f.write("a")
    calls: list = []
    build = _writer(calls)
    p1 = fsutil.materialize("d", sf, [f"{sf}/d.parquet"], {}, build)
    with open(f"{sf}/d.parquet/part-0", "w") as f:
        f.write("ab")
    assert fsutil.materialize("d", sf, [f"{sf}/d.parquet"], {}, build) != p1


def test_param_change_rebuilds(store):
    _, sf = store
    calls: list = []
    build = _writer(calls)
    src = [f"{sf}/t.parquet"]
    a = fsutil.materialize("t", sf, src, {"v": np.array([1.0, 2.0])}, build)
    b = fsutil.materialize("t", sf, src, {"v": np.array([1.0, 2.5])}, build)
    c = fsutil.materialize("t", sf, src, {"v": np.array([1.0, 2.5]), "n": 3}, build)
    assert len({a, b, c}) == 3 and len(calls) == 3
    # equal params (ndarrays compared by bytes) hit
    assert fsutil.materialize("t", sf, src, {"n": 3, "v": np.array([1.0, 2.5])}, build) == c
    assert len(calls) == 3


def test_build_code_change_rebuilds(store):
    _, sf = store
    calls: list = []

    def build_a(path):
        calls.append("a")

    def build_b(path):
        calls.append("b")

    pa = fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {}, build_a)
    pb = fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {}, build_b)
    assert pa != pb and calls == ["a", "b"]


def test_code_of_called_helpers_is_in_the_key(store, tmp_path, monkeypatch):
    """The digest follows the build into the functions of its module it
    calls: editing only a helper's body gives a new key."""
    _, sf = store
    mod_dir = tmp_path / "mods"
    mod_dir.mkdir()
    monkeypatch.syspath_prepend(str(mod_dir))
    src = textwrap.dedent(
        """
        def helper(path):
            open(path + "/out.txt", "w").write("{v}")

        def build(path):
            helper(path)
        """
    )
    (mod_dir / "artifact_builder_mod.py").write_text(src.format(v="one"))
    mod = importlib.import_module("artifact_builder_mod")
    try:
        p1 = fsutil.materialize("m", sf, [], {}, mod.build)
        (mod_dir / "artifact_builder_mod.py").write_text(src.format(v="two!"))
        importlib.invalidate_caches()
        mod = importlib.reload(mod)
        p2 = fsutil.materialize("m", sf, [], {}, mod.build)
    finally:
        sys.modules.pop("artifact_builder_mod", None)
    assert p1 != p2
    assert open(os.path.join(p2, "out.txt")).read() == "two!"


def test_failed_build_leaves_nothing_servable(store):
    root, sf = store

    def broken(path):
        with open(os.path.join(path, "out.txt"), "w") as f:
            f.write("partial")
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError):
        fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {}, broken)
    assert _artifacts(root) == []  # no artifact, no staging dir

    calls: list = []
    p = fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {}, _writer(calls))
    assert len(calls) == 1
    assert open(os.path.join(p, "out.txt")).read() == "done"


def test_concurrent_builders_publish_once(store, monkeypatch):
    """Builders that all miss and build at once: exactly one rename
    publishes, the others discard their copies and serve the winner's
    complete artifact. More threads than cores, short switch interval."""
    root, sf = store
    n = 2 * (os.cpu_count() or 2)
    all_building = threading.Barrier(n)
    publishes = []
    real_rename = os.rename

    def counting_rename(a, b):
        real_rename(a, b)
        publishes.append(b)

    monkeypatch.setattr(os, "rename", counting_rename)

    def build(path):
        all_building.wait(timeout=30)
        for i in range(50):
            with open(os.path.join(path, f"part-{i}"), "w") as f:
                f.write(str(i))

    got: list = []
    errors: list = []

    def run():
        try:
            got.append(fsutil.materialize("t", sf, [f"{sf}/t.parquet"], {}, build))
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(got) == n and len(set(got)) == 1
    assert publishes == got[:1]
    assert sorted(os.listdir(got[0])) == sorted(f"part-{i}" for i in range(50))
    assert _artifacts(root) == [os.path.basename(got[0])]
