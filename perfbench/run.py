"""Benchmark entry point.

    python3 perfbench/run.py --workload logs_archive --seed 1 --seconds 20 --trace 0

Runs one workload against the package's public functions for
``--seconds`` seconds, checks every operation's output, prints a
human-readable report and, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of the named workload.
``--trace 1`` is the separate traced run: it traces a short pass of
all three workloads in one session (so every layer is measured
whichever workload is named) and reports the per-layer metrics; the
spans go to ``.perfbench_out/trace-<workload>-<seed>.json``, which
``perfbench/report.py`` prints.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def process_age() -> float:
    """Seconds since this process started (kernel clock ticks)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: interpreter start-up (tick resolution) plus a fine clock from here on
_AGE0, _T0 = process_age(), time.perf_counter()


def since_process_start() -> float:
    return _AGE0 + time.perf_counter() - _T0


HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the package under test

import bench_spec  # noqa: E402
from common import (  # noqa: E402
    OUT_DIR,
    WORKLOADS,
    TreeRssSampler,
    emit_result,
    end_processes,
    median,
    pin_settings,
    say,
)


def make(workload: str, seed: int):
    if workload == "logs_archive":
        from archive import LogsArchive

        return LogsArchive(seed)
    if workload == "logs_tail":
        from tail import LogsTail

        return LogsTail(seed)
    from corpus import CorpusCurate

    return CorpusCurate(seed)


def closed_loop(wl, tr, seconds: float) -> tuple:
    """Jobs back to back until ``seconds`` have passed (at least one).
    Returns ``(job walls, ops attempted, ops failed)``."""
    walls, attempted, failed = [], 0, 0
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < seconds:
        wall, problems = wl.job(tr, len(walls))
        walls.append(wall)
        attempted += wl.OPS_PER_JOB
        failed += len({op for op, _ in problems})
        for op, msg in problems:
            print(f"perfbench: {op}: {msg}", file=sys.stderr)
    return walls, attempted, failed


def untraced(args, settings: dict) -> int:
    from common import percentile, start_session
    from spans import Tracer

    tr = Tracer(enabled=False)
    with TreeRssSampler() as rss:
        wl = make(args.workload, args.seed)
        spark = start_session(f"perfbench-{args.workload}")
        try:
            wl.setup(spark, tr)
            setup_s = since_process_start() - wl.input_s
            if args.workload == "logs_tail":
                res = wl.run(args.seconds, traced=False)
                walls = res["batch_seconds"]
                attempted, failed = res["generated"], res["failed"]
                for msg in res["problems"]:
                    print(f"perfbench: tail: {msg}", file=sys.stderr)
                mb_per_s = res["committed_mb"] / sum(walls)
                fresh = res["freshness"]
            else:
                walls, attempted, failed = closed_loop(wl, tr, args.seconds)
                mb_per_s = wl.mb * len(walls) / sum(walls)
                fresh = None
        finally:
            spark.stop()
    n = len(walls)
    unit = {"logs_archive": "uncompressed log MB per job second",
            "logs_tail": "committed record MB per second of micro-batch trigger time",
            "corpus_curate": "input table MB per job second"}[args.workload]
    say(f"workload {args.workload} seed {args.seed} settings {settings}")
    say(f"  setup_s          {setup_s:.4f} s  (n=1, inputs generated in {wl.input_s:.2f} s, excluded)")
    say(f"  job_p50_s        {median(walls):.4f} s  (n={n} {'micro-batches' if fresh is not None else 'jobs'}, "
        f"min {min(walls):.4f}, max {max(walls):.4f}; in run order {' '.join(f'{w:.2f}' for w in walls[:12])})")
    say(f"  throughput_mb_s  {mb_per_s:.4f} MB/s  ({unit}, n={n})")
    if fresh is not None:
        say(f"  freshness_p50_s  {percentile(fresh, 50):.4f} s  (n={len(fresh)} records)")
        say(f"  freshness_p99_s  {percentile(fresh, 99):.4f} s  (n={len(fresh)} records)")
    else:
        say("  freshness_p50_s  n/a (closed-loop batch workload)")
        say("  freshness_p99_s  n/a (closed-loop batch workload)")
    say(f"  peak_rss_mb      {rss.peak_mb:.1f} MB  (process tree)")
    say(f"  error_rate       {failed / attempted:.4f}  ({failed} of {attempted} operations)")
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "job_p50_s": {"value": median(walls), "unit": "s"},
        "throughput_mb_s": {"value": mb_per_s, "unit": "MB/s"},
        "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
    }
    if set(metrics) != bench_spec.metric_names("end_to_end"):
        print("perfbench: metrics differ from BENCHMARK.json end_to_end", file=sys.stderr)
        return 3
    emit_result(failed == 0, attempted, failed, metrics)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    settings = pin_settings()
    try:
        import hadoop_logfile_inputformat_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}", file=sys.stderr)
        return 2
    # Spark's and Python's scratch files stay inside the checkout
    scratch = os.path.join(OUT_DIR, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = scratch
    try:
        if args.trace:
            from traced import traced

            return traced(args, settings)
        return untraced(args, settings)
    finally:
        # nothing this run started may outlive it
        end_processes()

if __name__ == "__main__":
    sys.exit(main())
