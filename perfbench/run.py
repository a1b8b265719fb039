"""Benchmark launcher.

    python3 perfbench/run.py --workload sensor_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run gets a fresh worker process
(``bench.py``) with its own scratch directory under ``.perfbench_work/``
for temp files, checkpoints and ``SPARK_LOCAL_DIRS``; ``TMPDIR`` points
there too, so nothing left in the system temp directory by tests or
earlier runs reaches the timed work. ``PYTHONPATH`` names the repository
root, because Spark's Python workers (the ``es_bulk_wire`` writer) must
import the package. The scratch directory is deleted afterwards; traces
of ``--trace 1`` runs stay in ``.perfbench_work/traces/``.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark"
#: a run is stopped after this long (the contract allows 180 s)
TIMEOUT_S = 170


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="sensor-pipeline benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", help="'smoke' for a seconds-long run")
    args = p.parse_args(argv)

    missing = [f for f in (PACKAGE, "__spark_entry__.py", "tools/check_oracle.py")
               if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: the program is not here ({', '.join(missing)} "
              f"missing under {ROOT})", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.path.join(ROOT, "tools")]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # the JVM's own temp files (native libraries, session artifacts)
        # stay in the checkout too; no perf-data file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    cmd = [sys.executable, os.path.join(HERE, "bench.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--work", work, "--out", base]
    log_path = os.path.join(base, f"{os.path.basename(work)}.log")
    # own process group, so the JVM and Python workers it starts are
    # stopped with it
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = ""
            print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    with open(log_path) as f:
        notes = [ln for ln in f if ln.startswith("check: ")]
    sys.stderr.writelines(notes)
    os.remove(log_path)
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
