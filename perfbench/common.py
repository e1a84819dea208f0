"""Shared helpers of the benchmark: paths, pinned session settings,
statistics, process-tree memory sampling and result printing."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: generated inputs, keyed by seed and size; reused across runs
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
#: per-run outputs (sinks, stream checkpoints, traces)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DATA_DIR = os.path.join(BENCH_DIR, "data")

#: System-under-test configuration, set through the environment
#: variables ``session.get_spark`` reads: 3 task slots leave one of the
#: 4 cores to the load generator and this harness; 4g of driver heap
#: fits a 15 GiB machine where the 16g default does not.
PINNED_SETTINGS = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "4g"}

WORKLOADS = ("logs_archive", "logs_tail", "corpus_curate")


def pin_settings() -> dict:
    for k, v in PINNED_SETTINGS.items():
        os.environ.setdefault(k, v)
    return {k: os.environ[k] for k in PINNED_SETTINGS}


def start_session(app_name: str):
    """A session with both logfile sources registered (the batch source
    is registered by ``get_spark`` itself)."""
    from hadoop_logfile_inputformat_spark.session import get_spark
    from hadoop_logfile_inputformat_spark.streaming import (
        register_logfile_stream_source,
    )

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    register_logfile_stream_source(spark)
    return spark


def fresh_dir(path: str) -> str:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = max(0, math.ceil(q / 100.0 * len(xs)) - 1)
    return xs[k]


def median(values) -> float:
    return statistics.median(values)


def dir_bytes_and_files(path: str) -> tuple:
    """Bytes and count of data files under ``path`` (Spark's ``_SUCCESS``
    markers and ``.crc`` side files are skipped)."""
    total = files = 0
    for base, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


class TreeRssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Python workers, the load generator).

    Polls ``/proc`` and keeps the largest total seen in one sample.
    Python workers are forked from one daemon and share its pages, so
    each process counts its proportional share (``Pss``); the JVM, the
    one large process, counts its ``VmRSS``, which is much cheaper to
    read and equal to its ``Pss`` up to shared libraries.  Linux only."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak_kb = max(self.peak_kb, sum(map(_resident_kb, _tree(os.getpid()))))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def end_processes(timeout: float = 60.0) -> None:
    """End every process this run started and wait until each is gone.

    ``spark.stop()`` leaves the JVM running: it exits only when its
    stdin closes, which happens when this process exits, so it would
    outlive the run by a second or more.  Here any active context is
    stopped, the JVM's stdin is closed and the JVM waited for; then the
    multiprocessing resource tracker is stopped, and every other
    descendant seen at the start (Python workers, a load generator) is
    waited for, terminated after ``timeout`` seconds and killed if it
    still stays."""
    import signal
    import subprocess
    import time

    started = {pid: _start_time(pid) for pid in _tree(os.getpid()) if pid != os.getpid()}
    context = sys.modules.get("pyspark.core.context")
    if context is not None:
        sc_cls = context.SparkContext
        try:
            if sc_cls._active_spark_context is not None:
                sc_cls._active_spark_context.stop()
        finally:
            proc = getattr(sc_cls._gateway, "proc", None)
            sc_cls._gateway = sc_cls._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None:
        tracker._resource_tracker._stop()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _alive(started):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + (timeout if sig is None else 10.0)
        while _alive(started) and time.monotonic() < deadline:
            for pid in _alive(started):
                try:  # reap our own children; others are reparented
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.05)
        if not _alive(started):
            return
    raise RuntimeError(f"processes {sorted(_alive(started))} did not end")


def _start_time(pid: int):
    """``(start ticks, state)`` of ``pid``, or ``None`` if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[19]), fields[0]


def _alive(started: dict) -> list:
    """The processes of ``started`` that still run (same pid and start
    time, not a zombie)."""
    out = []
    for pid, st in started.items():
        now = _start_time(pid)
        if st is not None and now is not None and now[0] == st[0] and now[1] != "Z":
            out.append(pid)
    return out


def _tree(root: int) -> list:
    """``root`` and all its descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process has exited
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _resident_kb(pid: int) -> int:
    """``VmRSS`` of the JVM, ``Pss`` of any other process (0 if gone)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            java = f.read().strip() == "java"
        path, key = (f"/proc/{pid}/status", "VmRSS:") if java else (
            f"/proc/{pid}/smaps_rollup", "Pss:")
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def say(line: str) -> None:
    """A human-readable report line (stdout; the JSON result is last)."""
    print(line, flush=True)


def emit_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The last stdout line: the machine-readable JSON result."""
    sys.stdout.write(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        )
        + "\n"
    )
    sys.stdout.flush()
