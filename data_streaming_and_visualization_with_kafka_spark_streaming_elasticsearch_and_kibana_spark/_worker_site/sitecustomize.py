"""Python-worker start-up hook: take Spark's archives off ``sys.path``.

Spark starts every Python worker with ``pyspark.zip``, the py4j zip and
the spark-core jar ahead of site-packages, and every worker call runs
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
whole index of each archive on the path. When the same ``pyspark`` and
``py4j`` are installed as plain directories further down the path, the
archives add nothing but that cost, so they are dropped (from the
importer cache too). In any other case the path is left as it is. Either
way, the ``sitecustomize`` this file shadows still runs.

``session.get_spark`` puts this directory on the workers' PYTHONPATH;
Python's ``site`` module imports this file when the interpreter starts.
"""

import os
import sys
import zipimport

PACKAGES = ("pyspark", "py4j")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _archive_version(archive: str, package: str) -> bytes | None:
    try:
        return zipimport.zipimporter(archive).get_data(f"{package}/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def _installed_version(path: list[str], package: str) -> bytes | None:
    """``version.py`` of the first directory install of ``package``."""
    for entry in path:
        pkg = os.path.join(entry or os.curdir, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def pruned_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when a directory install of the
    same pyspark and py4j remains on it; otherwise ``path`` unchanged."""
    archives = [p for p in path if _is_spark_archive(p)]
    if not archives:
        return path
    rest = [p for p in path if p not in archives]
    for package in PACKAGES:
        installed = _installed_version(rest, package)
        if installed is None:
            return path
        for archive in archives:
            shipped = _archive_version(archive, package)
            if shipped is not None and shipped != installed:
                return path
    return rest


def _run_shadowed(here: str) -> None:
    """Run the next ``sitecustomize`` on ``sys.path`` after this one."""
    from importlib.machinery import PathFinder
    from importlib.util import module_from_spec

    others = [p for p in sys.path if os.path.realpath(p or os.curdir) != here]
    spec = PathFinder.find_spec("sitecustomize", others)
    if spec is None:
        return
    module = module_from_spec(spec)
    sys.modules["sitecustomize"] = module
    spec.loader.exec_module(module)


def main() -> None:
    kept = pruned_path(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept
    _run_shadowed(os.path.dirname(os.path.realpath(__file__)))


if __name__ == "sitecustomize":
    main()
