"""The Python-worker start-up hook (`_worker_site/sitecustomize.py`) and
the session that installs it.

The hook's tests build fake pyspark/py4j installs and Spark archives in
temp directories and need no JVM; the last test asks a real worker of
the shared session what its import path looks like.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile

import pytest

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.session import (
    WORKER_SITE,
)

_spec = importlib.util.spec_from_file_location(
    "worker_site_hook", os.path.join(WORKER_SITE, "sitecustomize.py")
)
hook = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(hook)  # not named sitecustomize: main() does not run

V1 = b"__version__ = '9.9.1'\n"
V2 = b"__version__ = '9.9.2'\n"


def _install(site, package, version):
    os.makedirs(os.path.join(site, package))
    open(os.path.join(site, package, "__init__.py"), "w").close()
    with open(os.path.join(site, package, "version.py"), "wb") as f:
        f.write(version)


def _archive(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return path


def _spark_archives(root, pyspark_version=V1, py4j_version=V1):
    """pyspark.zip, the py4j zip and a spark-core jar, as Spark lists them."""
    return [
        _archive(f"{root}/lib/pyspark.zip", {
            "pyspark/__init__.py": b"", "pyspark/version.py": pyspark_version,
        }),
        _archive(f"{root}/lib/py4j-9.9.1-src.zip", {
            "py4j/__init__.py": b"", "py4j/version.py": py4j_version,
        }),
        _archive(f"{root}/jars/spark-core_2.13-9.9.1.jar", {
            "META-INF/MANIFEST.MF": b"Manifest-Version: 1.0\n",
        }),
    ]


def test_matching_directory_install_drops_spark_archives(tmp_path):
    site = str(tmp_path / "site")
    _install(site, "pyspark", V1)
    _install(site, "py4j", V1)
    archives = _spark_archives(str(tmp_path))
    path = [str(tmp_path / "cwd"), *archives, site]
    assert hook.pruned_path(path) == [str(tmp_path / "cwd"), site]


@pytest.mark.parametrize(
    "installed, shipped",
    [
        ({"py4j": V1}, {}),  # no directory install of pyspark
        ({"pyspark": V1}, {}),  # no directory install of py4j
        ({"pyspark": V1, "py4j": V1}, {"pyspark_version": V2}),
        ({"pyspark": V1, "py4j": V1}, {"py4j_version": V2}),
    ],
    ids=["no-pyspark", "no-py4j", "pyspark-differs", "py4j-differs"],
)
def test_path_unchanged_without_a_matching_directory_install(
    tmp_path, installed, shipped
):
    site = str(tmp_path / "site")
    os.makedirs(site)
    for package, version in installed.items():
        _install(site, package, version)
    path = [*_spark_archives(str(tmp_path), **shipped), site]
    assert hook.pruned_path(path) == path


def test_zip_that_is_not_sparks_stays(tmp_path):
    site = str(tmp_path / "site")
    _install(site, "pyspark", V1)
    _install(site, "py4j", V1)
    deps = _archive(str(tmp_path / "lib" / "deps.zip"), {"dep/__init__.py": b""})
    path = [*_spark_archives(str(tmp_path)), deps, site]
    assert hook.pruned_path(path) == [deps, site]


@pytest.mark.parametrize("matching", [True, False], ids=["pruned", "fallback"])
def test_interpreter_start_prunes_and_runs_shadowed_sitecustomize(tmp_path, matching):
    """A real interpreter start with the hook on PYTHONPATH behind fake
    Spark archives: the archives leave sys.path and the importer cache
    only when they match the installed pyspark and py4j, and the
    sitecustomize the hook shadows runs either way."""
    import py4j
    import pyspark

    def version(module):
        with open(os.path.join(os.path.dirname(module.__file__), "version.py"), "rb") as f:
            return f.read()

    archives = _spark_archives(
        str(tmp_path),
        pyspark_version=version(pyspark) if matching else V2,
        py4j_version=version(py4j),
    )
    shadowed = tmp_path / "shadowed"
    shadowed.mkdir()
    (shadowed / "sitecustomize.py").write_text("import os\nos.environ['SHADOWED_RAN'] = '1'\n")
    probe = (
        "import json, os, sys; print(json.dumps({"
        "'path': sys.path, 'cached': sorted(k for k in sys.path_importer_cache), "
        "'shadowed': os.environ.get('SHADOWED_RAN')}))"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([*archives, WORKER_SITE, str(shadowed)]))
    env.pop("SHADOWED_RAN", None)
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, capture_output=True, text=True,
        timeout=60, check=True,
    )
    got = json.loads(out.stdout)
    assert got["shadowed"] == "1", out.stderr
    for a in archives:
        assert (a in got["path"]) is not matching
        assert (a in got["cached"]) is not matching
    assert str(shadowed) in got["path"]


def test_session_workers_import_pyspark_from_a_directory(spark):
    """A Python UDF under `get_spark()` sees no Spark archive on its
    sys.path and imports pyspark from a directory install, and the
    caller's own `spark.executorEnv.PYTHONPATH` entries (conftest passes
    one through `extra_conf`) are still on that path."""
    from pyspark.sql.functions import udf

    @udf("string")
    def worker_path(_):
        import sys

        import pyspark

        return json.dumps({"path": sys.path, "pyspark": pyspark.__file__})

    got = json.loads(spark.range(1).select(worker_path("id")).first()[0])
    names = [os.path.basename(p) for p in got["path"]]
    assert not [
        n for n in names
        if n == "pyspark.zip" or n.startswith(("py4j-", "spark-core_"))
    ], got["path"]
    assert os.path.isfile(got["pyspark"]), got["pyspark"]
    caller = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert caller[0] == WORKER_SITE and len(caller) > 1
    assert set(caller) <= set(got["path"]), got["path"]
