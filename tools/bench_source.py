"""Logfile-source scan throughput benchmark (single-core and Spark).

Generates a deterministic corpus (narrow ~73 B/record and wide
~625 B/record variants), then measures:

1. raw single-core scanner throughput (both scanners, no Spark), and
2. end-to-end Spark `spark.read.format("logfile")` wall time.

Usage: ``python tools/bench_source.py [--mb 100] [--spark]``
Prints one JSON line per measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_logfile_inputformat_spark.sources.logfile import (  # noqa: E402
    iter_record_lists_chunked,
    iter_records,
)

PAT = r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} \| \w+ \| \S+ \| .*"


def _gen(path: str, target_mb: float, wide: bool) -> None:
    if os.path.exists(path) and os.path.getsize(path) >= target_mb * 1e6 * 0.9:
        return
    rng = random.Random(1)
    ctx = " ".join(f"key{i}=value{i}" for i in range(40)) if wide else ""
    with open(path, "w") as fh:
        ts = 0
        while fh.tell() < target_mb * 1e6:
            ts += 1
            lvl = rng.choice(["INFO"] * 500 + ["WARN"] * 500 + ["ERROR"])
            fh.write(
                f"2024-01-01 00:{(ts // 60000) % 60:02d}:{(ts // 1000) % 60:02d},"
                f"{ts % 1000:03d} | {lvl} | com.example.Foo | msg {ctx}{ts}\n"
            )
            if lvl == "ERROR":
                fh.write(
                    "java.lang.NullPointerException: boom\n"
                    "\tat com.example.Foo.bar(Foo.java:42)\n"
                    "\tat com.example.Baz.qux(Baz.java:7)\n"
                )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mb", type=float, default=100.0)
    ap.add_argument("--spark", action="store_true", help="also run the Spark read")
    ap.add_argument("--dir", default="/tmp/logrecords_srcbench")
    args = ap.parse_args()
    os.makedirs(args.dir, exist_ok=True)

    for label, wide in (("narrow", False), ("wide", True)):
        f = os.path.join(args.dir, f"{label}.log")
        _gen(f, args.mb, wide)
        size = os.path.getsize(f)
        for scanner, run in (
            # the vectorized scanner yields per-chunk LISTS (its whole
            # point is no per-record Python step), so count via len()
            ("vectorized", lambda fh: (
                offs for offs, _recs in iter_record_lists_chunked(
                    fh, start=0, end=size, pattern=PAT))),
            ("line", lambda fh: iter_records(
                fh, start=0, end=size, regex=re.compile(PAT))),
        ):
            t0 = time.monotonic()
            n = 0
            with open(f, "rb", buffering=1 << 20) as fh:
                for item in run(fh):
                    n += len(item) if scanner == "vectorized" else 1
            dt = time.monotonic() - t0
            print(json.dumps({
                "metric": f"source_scan_{label}_{scanner}",
                "value": round(size / 1e6 / dt, 1), "unit": "MB/s/core",
                "records": n, "bytes_per_record": round(size / n, 1),
            }))

    if args.spark:
        from hadoop_logfile_inputformat_spark.session import get_spark

        spark = get_spark(app_name="bench-source")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).count()
        for label in ("narrow", "wide"):
            f = os.path.join(args.dir, f"{label}.log")
            size = os.path.getsize(f)
            df = (
                spark.read.format("logfile")
                .option("pattern", PAT)
                .option("maxPartitionBytes", str(8 * 1024 * 1024))
                .load(f)
            )
            t0 = time.monotonic()
            n = df.count()
            dt = time.monotonic() - t0
            print(json.dumps({
                "metric": f"source_spark_{label}",
                "value": round(size / 1e6 / dt, 1), "unit": "MB/s",
                "records": n, "wall_s": round(dt, 2),
            }))
        spark.stop()


if __name__ == "__main__":
    main()
