"""The stage-then-swap commit (`fsutil.replace_dir` /
`recover_dir_swap`) through each of its crash windows. The persisted
component table of the semantic-dedup sink is rewritten through it.
Pure filesystem — no Spark session."""

from __future__ import annotations

import os

import pytest

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    fsutil,
)


def _put(path: str, **files: str) -> None:
    os.makedirs(path)
    for name, text in files.items():
        with open(os.path.join(path, name), "w") as f:
            f.write(text)


def _read(path: str) -> dict:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name)) as f:
            out[name] = f.read()
    return out


def _writer(seen: list, **files: str):
    """A `write(staging)` that records what the live dir held when it
    ran, then stages `files`."""

    def write(staging: str) -> None:
        live = staging[: -len(".staging")]
        seen.append(_read(live) if os.path.exists(live) else None)
        _put(staging, **files)

    return write


def _siblings(path: str) -> list:
    base = os.path.basename(path)
    return sorted(
        n for n in os.listdir(os.path.dirname(path)) if n.startswith(base + ".")
    )


def test_swap_replaces_the_contents(tmp_path):
    live = str(tmp_path / "state")
    _put(live, a="old")
    seen = []
    fsutil.replace_dir(live, _writer(seen, b="new"))
    assert _read(live) == {"b": "new"}
    assert seen == [{"a": "old"}]  # the live dir was readable during write
    assert _siblings(live) == []


def test_stale_staging_is_discarded(tmp_path):
    live = str(tmp_path / "state")
    _put(live, a="old")
    _put(live + ".staging", junk="from a killed writer")
    fsutil.replace_dir(live, _writer([], b="new"))
    assert _read(live) == {"b": "new"}
    assert _siblings(live) == []


def test_only_old_left_is_restored_before_write(tmp_path):
    """A crash after the live dir was renamed aside, before the staged
    one took its name: the aside copy is the committed state, and
    `write` must see it back in place."""
    live = str(tmp_path / "state")
    _put(live + ".old", a="committed")
    seen = []
    fsutil.replace_dir(live, _writer(seen, b="new"))
    assert seen == [{"a": "committed"}]
    assert _read(live) == {"b": "new"}
    assert _siblings(live) == []


def test_old_beside_live_dir_is_dropped(tmp_path):
    """A crash after the swap, before the cleanup: the live dir is the
    new state and the `.old` is only garbage."""
    live = str(tmp_path / "state")
    _put(live, a="new")
    _put(live + ".old", a="retired")
    fsutil.recover_dir_swap(live)
    assert _read(live) == {"a": "new"}
    assert _siblings(live) == []


def test_failed_write_leaves_the_live_dir_intact(tmp_path):
    live = str(tmp_path / "state")
    _put(live, a="old")

    def write(staging: str) -> None:
        _put(staging, partial="half")
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        fsutil.replace_dir(live, write)
    assert _read(live) == {"a": "old"}
    # the next swap discards what the failed one staged
    fsutil.replace_dir(live, _writer([], b="new"))
    assert _read(live) == {"b": "new"}
    assert _siblings(live) == []


def test_crash_between_the_renames_keeps_the_old_state(tmp_path, monkeypatch):
    """The live dir is renamed aside, not deleted, before the staged one
    takes its name: a crash between the two renames leaves the old state
    on disk, and the next call restores it."""
    live = str(tmp_path / "state")
    _put(live, a="old")
    real_replace = os.replace

    def crash_on_publish(src, dst):
        if src == live + ".staging":
            raise OSError("killed before the staged rename")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_publish)
    with pytest.raises(OSError, match="killed"):
        fsutil.replace_dir(live, _writer([], b="new"))
    monkeypatch.setattr(os, "replace", real_replace)
    assert not os.path.exists(live)
    fsutil.recover_dir_swap(live)
    assert _read(live) == {"a": "old"}
    assert _siblings(live) == []
