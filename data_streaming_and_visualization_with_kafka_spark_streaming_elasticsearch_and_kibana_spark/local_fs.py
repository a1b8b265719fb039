"""Hadoop's local file systems without a child process per file operation.

Without libhadoop, Hadoop's ``RawLocalFileSystem`` starts ``chmod`` for
every permission it sets and ``readlink`` for every link status it reads.
A streaming query does both for each offset-log, commit-log and
state-store file of every micro-batch, at tens of milliseconds per child
process from a large driver JVM. ``_jvm/NoForkLocalFs.java`` makes the
same system calls in-process and wraps the stock local file systems
around them (see its class comment).

``local_fs_conf`` compiles that source once per content key (source
digest, Hadoop jar name, which ``javac``, the compile recipe) into a jar published
atomically under ``_jvm/build/`` beside the source, or under the temp
directory when the package directory is read-only, and returns the conf
that puts it on the driver class path and names its classes for the two
``file`` scheme keys. Only ``local[...]`` masters get it: there the
driver JVM is also the only executor. With no ``javac``, a failed compile
or any other master, the conf comes back unchanged and stock Hadoop runs.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

from . import fsutil

_HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(_HERE, "_jvm", "NoForkLocalFs.java")
BUILD_DIR = os.path.join(_HERE, "_jvm", "build")
JAR = "local-fs.jar"
PREFIX = "nofork-"
CLASS = "sensorstream.hadoop.NoForkLocalFs"
CLASSPATH_KEY = "spark.driver.extraClassPath"
IMPL_KEYS = {
    "spark.hadoop.fs.file.impl": CLASS + "$FileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": CLASS + "$Fs",
}
#: masters whose executors run in the driver JVM (not local-cluster)
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")

log = logging.getLogger(__name__)
_warned: set[str] = set()


def _warn_once(msg: str) -> None:
    if msg not in _warned:
        _warned.add(msg)
        log.warning("%s; Hadoop's stock local file system stays in use", msg)


def _hadoop_jar() -> str | None:
    """Spark's ``hadoop-client-api`` jar, the one class path javac needs."""
    from pyspark.find_spark_home import _find_spark_home

    jars = sorted(glob.glob(os.path.join(
        _find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    return jars[-1] if jars else None


def _javac_id(javac: str) -> str:
    """Which compiler `javac` is: its resolved path and stat, and the
    JDK's ``release`` file (the version ``javac -version`` prints), all
    read without starting a JVM."""
    real = os.path.realpath(javac)
    st = os.stat(real)
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(real)), "release")) as f:
            release = f.read()
    except OSError:
        release = ""
    return f"{real}|{st.st_size}|{st.st_mtime_ns}|{release}"


def _jar_key(source: str, hjar: str, javac: str) -> str:
    """Source digest, Hadoop jar name, javac identity and the recipe
    (`_compile`'s code: javac flags, jar layout)."""
    with open(source, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    return hashlib.sha256("|".join(
        (digest, os.path.basename(hjar), _javac_id(javac),
         fsutil._code_digest(_compile), JAR)
    ).encode()).hexdigest()[:16]


def _compile(javac: str, hjar: str, source: str, staging: str) -> None:
    classes = os.path.join(staging, "classes")
    subprocess.run(
        [javac, "--release", "17", "-encoding", "UTF-8", "-nowarn",
         "-cp", hjar, "-d", classes, source],
        capture_output=True, text=True, check=True,
    )
    with zipfile.ZipFile(os.path.join(staging, JAR), "w") as z:
        for root, _, files in os.walk(classes):
            for fn in sorted(files):
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)


def build_jar(source: str = SOURCE, roots: tuple[str, ...] | None = None) -> str | None:
    """Path of the compiled jar of `source`, compiled at most once per
    key; None (after one warning) when it cannot be had. ``roots`` are
    tried in order, default ``_jvm/build`` and then the temp directory."""
    javac, hjar = shutil.which("javac"), _hadoop_jar()
    if javac is None or hjar is None:
        _warn_once("no javac" if javac is None else "no hadoop-client-api jar")
        return None
    try:
        key = _jar_key(source, hjar, javac)
    except OSError as e:
        _warn_once(f"cannot key {source}: {e}")
        return None
    roots = roots or (BUILD_DIR, tempfile.gettempdir())
    for root in roots:
        path = os.path.join(root, PREFIX + key)
        try:
            os.makedirs(root, exist_ok=True)
            if fsutil.publish(path, lambda d: _compile(javac, hjar, source, d)):
                fsutil.drop_superseded(root, PREFIX, key)
        except subprocess.CalledProcessError as e:
            _warn_once(f"javac failed on {source}: {e.stderr.strip()}")
            return None
        except OSError:
            continue  # a read-only root: try the next one
        return os.path.join(path, JAR)
    _warn_once(f"no writable directory for the jar among {roots}")
    return None


def local_fs_conf(master: str, conf: dict[str, str], running_classpath: str | None = None,
                  source: str = SOURCE, roots: tuple[str, ...] | None = None) -> dict[str, str]:
    """`conf` with the jar first on ``spark.driver.extraClassPath`` (any
    caller value kept after it) and the two ``spark.hadoop.*`` file-system
    keys (unless the caller set them), for a local master; otherwise
    `conf` itself. `running_classpath` is the class path of a driver JVM
    that is already up: its class path is fixed, so the keys are only
    added when the jar is on it."""
    if not _LOCAL_MASTER.fullmatch(master):
        return conf
    jar = build_jar(source, roots)
    if jar is None or (running_classpath is not None
                       and jar not in running_classpath.split(os.pathsep)):
        return conf
    out = dict(conf)
    out[CLASSPATH_KEY] = os.pathsep.join(
        p for p in (jar, conf.get(CLASSPATH_KEY)) if p)
    for k, v in IMPL_KEYS.items():
        out.setdefault(k, v)
    return out
