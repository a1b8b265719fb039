"""Hadoop's local file systems without child processes (`local_fs` and
`_jvm/NoForkLocalFs.java`).

The conf tests build jars into temp directories and need no JVM. The
parity tests drive the stock classes and ours side by side through py4j
in the shared session's JVM, where `get_spark()` has put the jar; the
last two run a checkpointed, stateful query through `es_bulk_wire`.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import stat
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark import (
    local_fs,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.es_wire_sink import (
    EsBulkWireDataSource,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.sources.readers import (
    file_stream,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming.pipeline import (
    windowed_rollup,
)
from tools import jvm_forks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_javac = pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")
CALLER_JAR = "/srv/lib/extra.jar"


# ---------------------------------------------------------------- conf
@pytest.mark.parametrize(
    "master", ["spark://h:7077", "yarn", "k8s://https://h:443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_leaves_conf_unchanged(tmp_path, master):
    conf = {"spark.driver.extraClassPath": CALLER_JAR}
    root = tmp_path / "build"
    assert local_fs.local_fs_conf(master, conf, roots=(str(root),)) == conf
    assert not root.exists()  # nothing compiled


def test_no_javac_leaves_conf_unchanged(tmp_path, monkeypatch):
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    root = tmp_path / "build"
    assert local_fs.local_fs_conf("local[2]", {}, roots=(str(root),)) == {}
    assert not root.exists()


@needs_javac
def test_jar_goes_first_and_caller_values_are_kept(tmp_path):
    roots = (str(tmp_path / "build"),)
    conf = {
        "spark.driver.extraClassPath": CALLER_JAR,
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    }
    out = local_fs.local_fs_conf("local[*]", conf, roots=roots)
    jar = local_fs.build_jar(roots=roots)
    assert out["spark.driver.extraClassPath"] == os.pathsep.join((jar, CALLER_JAR))
    assert out["spark.hadoop.fs.file.impl"] == "org.apache.hadoop.fs.LocalFileSystem"
    assert out["spark.hadoop.fs.AbstractFileSystem.file.impl"].endswith("NoForkLocalFs$Fs")
    assert conf["spark.driver.extraClassPath"] == CALLER_JAR  # input not mutated
    # a driver JVM already running without the jar cannot load its classes
    assert local_fs.local_fs_conf("local[2]", conf, running_classpath=CALLER_JAR,
                                  roots=roots) == conf
    assert local_fs.local_fs_conf("local[2]", conf, running_classpath=jar,
                                  roots=roots) == out


@needs_javac
def test_second_process_reuses_the_jar(tmp_path):
    roots = (str(tmp_path / "build"),)
    jar = local_fs.build_jar(roots=roots)
    built = os.stat(jar).st_mtime_ns
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        f"from {local_fs.__name__.rpartition('.')[0]} import local_fs\n"
        "def recompile(*a, **k):\n"
        "    raise AssertionError('recompiled')\n"
        "local_fs.subprocess.run = recompile\n"
        f"print(local_fs.build_jar(roots={roots!r}))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, check=True).stdout.strip()
    assert out == jar and os.stat(jar).st_mtime_ns == built


@needs_javac
def test_unwritable_root_falls_back_to_the_next(tmp_path):
    blocked = tmp_path / "not_a_dir"
    blocked.write_text("")  # no directory can be made under a file
    jar = local_fs.build_jar(roots=(str(blocked / "build"), str(tmp_path / "tmp")))
    assert jar.startswith(str(tmp_path / "tmp")) and os.path.isfile(jar)


@needs_javac
def test_source_edit_changes_key_and_drops_old_jar(tmp_path):
    src = tmp_path / "NoForkLocalFs.java"
    shutil.copy(local_fs.SOURCE, src)
    roots = (str(tmp_path / "build"),)
    old = local_fs.build_jar(str(src), roots)
    src.write_text(src.read_text() + "// edited\n")
    new = local_fs.build_jar(str(src), roots)
    assert os.path.dirname(new) != os.path.dirname(old)
    assert os.listdir(roots[0]) == [os.path.basename(os.path.dirname(new))]


@needs_javac
def test_compile_recipe_edit_changes_key(tmp_path):
    """Editing `_compile` (javac flags, jar layout) must not serve the
    jar an older recipe built."""
    text = open(local_fs.__file__).read()
    assert '"--release", "17"' in text

    def key_of(name, module_text):
        path = tmp_path / f"{name}.py"
        path.write_text(module_text)
        spec = importlib.util.spec_from_file_location(
            f"{local_fs.__name__}_{name}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)  # the package's relative imports resolve
        return mod._jar_key(local_fs.SOURCE, local_fs._hadoop_jar(), shutil.which("javac"))

    stock = key_of("copy", text)
    assert stock == local_fs._jar_key(
        local_fs.SOURCE, local_fs._hadoop_jar(), shutil.which("javac"))
    assert key_of("flags", text.replace('"--release", "17"', '"--release", "21"')) != stock
    assert key_of("layout", text.replace("sorted(files)", "files")) != stock


@needs_javac
def test_failed_compile_leaves_no_jar_and_no_staging(tmp_path):
    src = tmp_path / "NoForkLocalFs.java"
    src.write_text("package sensorstream.hadoop; class NoForkLocalFs { broken }\n")
    root = tmp_path / "build"
    assert local_fs.local_fs_conf("local[2]", {}, source=str(src), roots=(str(root),)) == {}
    assert os.listdir(root) == []


# --------------------------------------------------------------- parity
STOCK = {"fs": "org.apache.hadoop.fs.LocalFileSystem",
         "afs": "org.apache.hadoop.fs.local.LocalFs"}
OURS = {"fs": local_fs.IMPL_KEYS["spark.hadoop.fs.file.impl"],
        "afs": local_fs.IMPL_KEYS["spark.hadoop.fs.AbstractFileSystem.file.impl"]}


@pytest.fixture()
def jvm(spark):
    j = spark.sparkContext._jvm
    try:
        j.java.lang.Class.forName(local_fs.CLASS)
    except Py4JJavaError:
        pytest.skip("the session's JVM has no NoForkLocalFs (no javac)")
    return j


def _conf(jvm, impl, umask="022"):
    c = jvm.org.apache.hadoop.conf.Configuration()
    c.set("fs.file.impl", impl["fs"])
    c.set("fs.AbstractFileSystem.file.impl", impl["afs"])
    c.set("fs.permissions.umask-mode", umask)
    return c


def _fs(jvm, impl, umask="022"):
    return jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jvm.java.net.URI("file:///"), _conf(jvm, impl, umask))


def _fc(jvm, impl, umask="022"):
    return jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), _conf(jvm, impl, umask))


def _fc_create(spark, fc, path, data=b""):
    jvm = spark.sparkContext._jvm
    opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.CreateOpts.createParent()
    out = fc.create(jvm.org.apache.hadoop.fs.Path(path),
                    jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE), opts)
    out.write(bytearray(data))
    out.close()


def _modes(root):
    return {os.path.relpath(os.path.join(r, n), root): stat.S_IMODE(os.lstat(os.path.join(r, n)).st_mode)
            for r, ds, fs in os.walk(root) for n in ds + fs}


def _write_tree(spark, jvm, impl, root, umask):
    P = jvm.org.apache.hadoop.fs.Path
    fs = _fs(jvm, impl, umask)
    fs.create(P(f"{root}/fs/a/b/file")).close()  # parents made by create
    fs.mkdirs(P(f"{root}/fs/c/d"))
    fc = _fc(jvm, impl, umask)
    _fc_create(spark, fc, f"{root}/fc/a/file")
    fc.mkdir(P(f"{root}/fc/c/d"), jvm.org.apache.hadoop.fs.permission.FsPermission.getDirDefault(), True)
    fs.close()


@pytest.mark.parametrize("umask", ["022", "077"])
def test_create_and_mkdirs_modes_match_stock(spark, jvm, tmp_path, umask):
    modes = {}
    for name, impl in (("stock", STOCK), ("ours", OURS)):
        root = tmp_path / name
        root.mkdir()
        # a setgid parent: its new subdirectories inherit the bit, which
        # `chmod 0755` keeps on a directory and clears on a file
        os.chmod(root, 0o2775)
        _write_tree(spark, jvm, impl, str(root), umask)
        modes[name] = _modes(root)
    assert modes["ours"] == modes["stock"]
    assert modes["ours"]["fs/c/d"] & 0o7777 == (0o2000 | (0o777 & ~int(umask, 8)))


def _status(st):
    return (st.isFile(), st.isDirectory(), st.isSymlink(),
            st.getSymlink().toString() if st.isSymlink() else None,
            st.getLen(), st.getPath().toString(), st.getPermission().toString(),
            st.getOwner(), st.getGroup(), st.getModificationTime(), st.getReplication(),
            st.getBlockSize())


def _link_status(jvm, impl, path):
    fs = _fs(jvm, impl)
    try:
        return _status(fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path)))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    finally:
        fs.close()


def test_file_link_status_matches_stock(jvm, tmp_path):
    (tmp_path / "file").write_text("x")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    cases = {}
    for name in ("file", "dir", "link", "dangling", "missing"):
        plain = str(tmp_path / name)
        for path in (plain, "file:" + plain):  # the qualified form reads as no link
            stock, ours = _link_status(jvm, STOCK, path), _link_status(jvm, OURS, path)
            assert ours == stock, path
            cases[path] = ours
    link = cases[str(tmp_path / "link")]
    assert link[2] and link[3] == "file:" + str(tmp_path / "file")
    assert cases[str(tmp_path / "dangling")][2]
    assert cases[str(tmp_path / "missing")] == "java.io.FileNotFoundException"
    assert cases["file:" + str(tmp_path / "dangling")] == "java.io.FileNotFoundException"


def _defaults(d):
    return (d.getBlockSize(), d.getBytesPerChecksum(), d.getWritePacketSize(),
            d.getReplication(), d.getFileBufferSize(), d.getEncryptDataTransfer(),
            d.getTrashInterval(), d.getChecksumType().toString(), d.getKeyProviderUri(),
            d.getDefaultStoragePolicyId())


def test_server_defaults_match_stock(jvm):
    root = jvm.org.apache.hadoop.fs.Path("/")
    uri = jvm.java.net.URI("file:///")
    got = {}
    for name, impl in (("stock", STOCK), ("ours", OURS)):
        afs = jvm.org.apache.hadoop.fs.AbstractFileSystem.get(uri, _conf(jvm, impl))
        fs = _fs(jvm, impl)
        got[name] = (_defaults(afs.getServerDefaults(root)), afs.getUriDefaultPort(),
                     afs.isValidName("/a:b"), _defaults(fs.getServerDefaults(root)))
        fs.close()
    assert got["ours"] == got["stock"]
    assert got["ours"][0][:2] == (64 * 2**20, 512)  # LocalConfigKeys, not the session's


def test_crc_sidecars_match_stock(spark, jvm, tmp_path):
    data = bytes(range(256)) * 20  # several 512-byte checksum chunks
    crcs = {}
    for name, impl in (("stock", STOCK), ("ours", OURS)):
        fs = _fs(jvm, impl)
        out = fs.create(jvm.org.apache.hadoop.fs.Path(f"{tmp_path}/{name}/fs/part"))
        out.write(bytearray(data))
        out.close()
        fs.close()
        _fc_create(spark, _fc(jvm, impl), f"{tmp_path}/{name}/fc/part", data)
        crcs[name] = [(tmp_path / name / api / ".part.crc").read_bytes() for api in ("fs", "fc")]
    assert crcs["ours"] == crcs["stock"]
    assert crcs["ours"][0] == crcs["ours"][1] and len(crcs["ours"][0]) > 8


# ------------------------------------------------- checkpointed query
SCHEMA = "ts TIMESTAMP, room STRING, temp DOUBLE"


def _land(src, i):
    """Input file i: two rooms over minutes 2i and 2i+1, with mtimes in order."""
    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, f"part-{i}.json")
    with open(path, "w") as f:
        for m in (2 * i, 2 * i + 1):
            for room, temp in (("a", 20.0 + m), ("b", 30.0 - m)):
                f.write(json.dumps({"ts": f"2024-01-01T10:{m:02d}:30",
                                    "room": room, "temp": temp}) + "\n")
    os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _rollup_run(spark, src, ckpt, out):
    spark.dataSource.register(EsBulkWireDataSource)
    rolled = windowed_rollup(file_stream(spark, src, SCHEMA, "json", max_files_per_trigger=1),
                             "ts", ["room"], ["temp"], "1 minute", watermark="1 minute")
    q = (rolled.withColumn("doc_id", F.concat_ws("@", "room", F.col("window_start").cast("string")))
         .writeStream.format("es_bulk_wire").outputMode("append")
         .option("path", out).option("index", "room-{room}").option("mapping_id", "doc_id")
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination()
    q.stop()


def _docs(out):
    docs = []
    for root, _, files in os.walk(out):
        for fn in files:
            if fn.endswith(".ndjson"):
                lines = open(os.path.join(root, fn)).read().splitlines()
                docs += lines[1::2]
    return sorted(docs)


def test_rollup_restarted_from_checkpoint_matches_uninterrupted(spark, jvm, tmp_path):
    whole, split = tmp_path / "whole", tmp_path / "split"
    for i in range(4):
        _land(str(whole / "src"), i)
    _rollup_run(spark, str(whole / "src"), str(whole / "ckpt"), str(whole / "out"))
    for i in range(2):
        _land(str(split / "src"), i)
    _rollup_run(spark, str(split / "src"), str(split / "ckpt"), str(split / "out"))
    for i in range(2, 4):
        _land(str(split / "src"), i)
    _rollup_run(spark, str(split / "src"), str(split / "ckpt"), str(split / "out"))
    assert (whole / "ckpt" / "state" / "0" / "0" / ".1.delta.crc").exists()
    docs = _docs(str(whole / "out"))
    # the watermark closes every minute but the last one or two
    assert len(docs) >= 12 and len(set(docs)) == len(docs)
    assert _docs(str(split / "out")) == docs


@pytest.mark.skipif(not jvm_forks.available(), reason="no jcmd/jfr")
def test_checkpointed_stateful_query_starts_no_chmod_or_readlink(spark, jvm, tmp_path):
    assert spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl") == OURS["fs"]
    for i in range(2):
        _land(str(tmp_path / "src"), i)
    _, commands = jvm_forks.process_starts(
        jvm_forks.driver_pid(spark),
        lambda: _rollup_run(spark, str(tmp_path / "src"), str(tmp_path / "ckpt"),
                            str(tmp_path / "out")))
    assert _docs(str(tmp_path / "out"))
    starts = jvm_forks.by_program(commands)
    assert starts.get("chmod", 0) == 0 and starts.get("readlink", 0) == 0, starts
