"""Stage-then-swap directory commits — `replace_dir`, the one writer
of a live directory the streaming sinks rewrite (the persisted
component table of the semantic-dedup sink), with `recover_dir_swap`
resolving a crashed swap's leftovers — and the artifact store
(`materialize`) every cached index, format copy and memoized streaming
run of the query catalog is built through.

Local-FS commit protocol by design: on HDFS/S3 this role is played by
a table format's transaction log (Delta/Iceberg) — the call sites are
the seams where that would plug in.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import re
import shutil
import sys
import tempfile

import numpy as np


def recover_dir_swap(ddir: str) -> None:
    """Crash recovery for the stage-then-swap commit: a prior run may
    have died mid-swap. If the live dir is gone but its renamed-aside
    copy survives, the swap never completed — restore the copy as the
    committed state. A leftover `.old` ALONGSIDE a live dir means the
    swap DID complete and only the cleanup was lost; drop it. Stale
    staging is always discarded."""
    retired, staging = ddir + ".old", ddir + ".staging"
    if os.path.exists(retired):
        if os.path.exists(ddir):
            shutil.rmtree(retired)
        else:
            os.replace(retired, ddir)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def replace_dir(path: str, write) -> None:
    """Replace directory `path` with what `write(staging)` writes into
    a sibling: leftovers of a crashed earlier swap are resolved first,
    `path` stays readable while `write` runs (a lazy plan may still be
    reading it), and the live dir is renamed ASIDE, not rmtree'd,
    before the staged one takes its name — so no crash window ever
    leaves `path` with neither the old nor the new state on disk
    (`recover_dir_swap` resolves every intermediate state)."""
    recover_dir_swap(path)
    staging, retired = path + ".staging", path + ".old"
    write(staging)
    if os.path.exists(path):
        os.replace(path, retired)
    os.replace(staging, path)
    if os.path.exists(retired):
        shutil.rmtree(retired)


#: id(code object) → (code object, digest): each build callable is
#: walked once per process. Keyed on identity, not on code equality — a
#: reloaded module's code can compare equal while calling new helpers.
_CODE_DIGESTS: dict = {}
_PACKAGE = __name__.rpartition(".")[0]
_KEY = re.compile(r"[0-9a-f]{16}")


def _code_digest(fn) -> str:
    """Digest of the code that builds an artifact: the source of `fn`
    and of every function it reaches through globals, closures and
    nested code within its own top-level package (a catalog build
    reaches the helpers of every `catalog.*` module), plus the whole
    source file of every engine-package module those functions call
    into."""
    hit = _CODE_DIGESTS.get(id(fn.__code__))
    if hit is None:
        parts: set[str] = set()
        _walk_code(fn, parts, set())
        hit = _CODE_DIGESTS[id(fn.__code__)] = (
            fn.__code__,
            hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest(),
        )
    return hit[1]


def _walk_code(fn, parts: set, seen: set) -> None:
    if id(fn.__code__) in seen:
        return
    seen.add(id(fn.__code__))
    try:
        parts.add(inspect.getsource(fn))
    except (OSError, TypeError):
        parts.add(fn.__code__.co_code.hex())
    names: set[str] = set()
    stack = [fn.__code__]
    while stack:
        code = stack.pop()
        names.update(code.co_names)
        stack.extend(c for c in code.co_consts if inspect.iscode(c))
    refs = [fn.__globals__[n] for n in names if n in fn.__globals__]
    refs += [c.cell_contents for c in fn.__closure__ or ()]
    top = (fn.__module__ or "").partition(".")[0]
    for ref in refs:
        mod = ref.__name__ if inspect.ismodule(ref) else getattr(
            ref, "__module__", None
        )
        if isinstance(mod, str) and mod.startswith(_PACKAGE + "."):
            with open(sys.modules[mod].__file__, "rb") as f:
                parts.add(mod + ":" + hashlib.sha256(f.read()).hexdigest())
        elif inspect.isfunction(ref) and mod and mod.partition(".")[0] == top:
            _walk_code(ref, parts, seen)


def source_stats(paths) -> str:
    """(path, size, mtime) of every file under `paths` — a regenerated
    corpus must never be served an artifact built from the old one."""
    h = hashlib.sha256()
    for p in sorted(paths):
        walk = (
            sorted(os.path.join(r, fn) for r, _, fs in os.walk(p) for fn in fs)
            if os.path.isdir(p) else [p]
        )
        for fp in walk:
            st = os.stat(fp)
            h.update(f"{fp}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _param_digest(params: dict) -> str:
    h = hashlib.sha256()
    for k in sorted(params):
        v = params[k]
        if isinstance(v, np.ndarray):
            v = (v.dtype.str, v.shape, v.tobytes())
        h.update(f"{k}={v!r};".encode())
    return h.hexdigest()


def materialize(tag: str, sf_dir: str, sources, params: dict, build) -> str:
    """Path of the artifact `build(staging_dir)` writes, built at most
    once per complete key: the stats of the `sources` files, `params`
    (ndarrays by bytes, the rest by repr; a dependent artifact passes
    its upstream path) and the build code (`_code_digest`).

    The key is in the path, so an artifact is ready exactly when its
    directory exists. `build` writes into a fresh sibling directory that
    one `os.rename` publishes; a failed build leaves nothing behind, and
    a builder that loses the publish race serves the winner's copy.
    After a publish, artifacts of the same tag and sf under other keys
    are removed."""
    key = hashlib.sha256(
        "|".join(
            (source_stats(sources), _param_digest(params), _code_digest(build))
        ).encode()
    ).hexdigest()[:16]
    root = tempfile.gettempdir()
    prefix = f"spark_graft_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_"
    path = os.path.join(root, prefix + key)
    if publish(path, build):
        drop_superseded(root, prefix, key)
    return path


def publish(path: str, build) -> bool:
    """Build directory `path` unless it exists: `build(staging)` writes
    into a fresh sibling directory that one `os.rename` publishes. A
    failed build leaves nothing behind; a process that loses the publish
    race discards its copy and keeps the winner's. True when this call
    published `path`."""
    if os.path.isdir(path):
        return False
    root, name = os.path.split(path)
    staging = tempfile.mkdtemp(prefix=f"{name}.", suffix=".staging", dir=root)
    try:
        build(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        os.rename(staging, path)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isdir(path):
            raise
        return False  # another process published first
    return True


def drop_superseded(root: str, prefix: str, key: str) -> None:
    """Remove `<root>/<prefix><key16>` directories under any other key."""
    for name in os.listdir(root):
        if name.startswith(prefix) and name != prefix + key and _KEY.fullmatch(
            name[len(prefix):]
        ):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
