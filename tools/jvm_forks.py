"""Count the child processes a JVM starts while Python code runs.

    python tools/jvm_forks.py

The command runs the benchmark's full-size ``sensor_replay`` drain (seed
1: decode, a watermarked per-room minute rollup, the ``es_bulk_wire``
sink, with a checkpoint) once to warm up, then ``DRAINS`` (8) more times
under a Java Flight Recorder recording of ``jdk.ProcessStart`` events in
the driver JVM, and prints the process starts by command, in total and per drain.
The last line of stdout is the same as JSON.

``process_starts(pid, fn)`` is the reusable part: it records while
``fn()`` runs and returns ``fn``'s result and the command line of every
process the JVM with ``pid`` started meanwhile. It needs ``jcmd`` and
``jfr`` from the JDK (``available()``).
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRAINS, SIZE, SEED = 8, "full", 1

#: a recording of process starts only, without stack traces
_SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


def available() -> bool:
    return shutil.which("jcmd") is not None and shutil.which("jfr") is not None


def _jcmd(pid: int, *args: str) -> None:
    subprocess.run(["jcmd", str(pid), *args], check=True, capture_output=True)


def process_starts(pid: int, fn):
    """(fn(), [command line of each process the JVM `pid` started])."""
    with tempfile.TemporaryDirectory(prefix="jvm_forks_") as d:
        settings, out = os.path.join(d, "starts.jfc"), os.path.join(d, "starts.jfr")
        with open(settings, "w") as f:
            f.write(_SETTINGS)
        name = f"forks-{uuid.uuid4().hex[:8]}"
        _jcmd(pid, "JFR.start", f"name={name}", f"settings={settings}")
        try:
            result = fn()
            _jcmd(pid, "JFR.dump", f"name={name}", f"filename={out}")
        finally:
            _jcmd(pid, "JFR.stop", f"name={name}")
        printed = subprocess.run(
            ["jfr", "print", "--json", "--events", "jdk.ProcessStart", out],
            check=True, capture_output=True, text=True,
        ).stdout
    events = json.loads(printed)["recording"]["events"]
    return result, [e["values"]["command"] for e in events]


def by_program(commands) -> dict[str, int]:
    """Process starts per program name (``chmod``, ``readlink``, ...)."""
    return dict(collections.Counter(
        os.path.basename(c.split()[0]) if c.split() else "" for c in commands))


def driver_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def main() -> int:
    if not available():
        print("jvm_forks: jcmd and jfr are needed", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import workloads

    work = tempfile.mkdtemp(prefix="jvm_forks_work_")
    try:
        ctx = workloads.Context(work, SEED, 0.0, SIZE)
        ctx.start_session()
        state = workloads.replay_prepare(ctx)
        workloads.replay_warm(ctx, state)
        per_trigger = ctx.size["replay"]["per_trigger"]

        def drains():
            for _ in range(DRAINS):
                workloads.drain(ctx, state[1], per_trigger)

        _, commands = process_starts(driver_pid(ctx.spark), drains)
        ctx.spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    counts = by_program(commands)
    for prog, n in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{prog:>12}  {n:6d}  {n / DRAINS:8.1f} per drain")
    print(json.dumps({"drains": DRAINS, "starts": len(commands),
                      "per_drain": len(commands) / DRAINS, "by_program": counts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
