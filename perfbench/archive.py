"""``logs_archive``: the reference's own batch workload.

Closed loop, one client.  One job is the paper's two drivers back to
back over a seeded archive of daily logfiles:

1. count by level and logger over ``parse_log_records`` (Test.java's
   golden counts), plus the multi-line record count;
2. a deterministic sample, rendered by ``format_record_lines`` and
   written as text (Sample.java).

Both outputs are checked on every job against the generator replay.
"""

from __future__ import annotations

import os
import time
import traceback

from pyspark.sql import functions as F

import inputs
from common import OUT_DIR, dir_bytes_and_files, median
from spans import ENGINE, JOB

WORKLOAD = "logs_archive"
#: After a single warm-up job, the first timed job was the slowest of
#: its run in 8 of 10 runs, by 0.4-0.8 s of about 5 s.
WARMUP_JOBS = 2


class LogsArchive:
    OPS_PER_JOB = 2  # count, sample

    def __init__(self, seed: int):
        t = time.perf_counter()
        self.files_dir, self.golden = inputs.archive(seed)
        self.layouts = self.golden["layouts"]
        self.input_s = time.perf_counter() - t
        self.glob = os.path.join(self.files_dir, "*")
        self.options = inputs.pattern_options(self.layouts)
        self.sample_dir = os.path.join(OUT_DIR, "archive_sample")
        self.mb = self.golden["uncompressed_bytes"] / 1e6

    def setup(self, spark, tr) -> None:
        """Inputs verified present, then the untimed warm-up jobs."""
        self.spark = spark
        inputs.verify_archive(self.files_dir, self.golden)
        for i in range(WARMUP_JOBS):
            problems = self.job(tr, f"warmup-{i}")[1]
            if problems:
                raise RuntimeError(f"warm-up job failed its checks: {problems}")

    def load(self, tr):
        with tr.span("logfile.load", "sources.logfile"):
            return self.spark.read.format("logfile").options(**self.options).load(self.glob)

    def job(self, tr, job_id) -> tuple:
        """Run one job; returns ``(wall seconds, problems)``, a problem
        being ``(op, message)`` for an op that raised or whose output
        is wrong."""
        from hadoop_logfile_inputformat_spark.functions.logparse import (
            format_record_lines,
            parse_log_records,
        )

        problems: list = []
        rows = None
        t0 = time.perf_counter()
        with tr.span(f"{WORKLOAD}.job", JOB, job=job_id):
            df = self.load(tr)
            try:
                with tr.span("parse_log_records", "functions.logparse"):
                    counts = (
                        parse_log_records(df)
                        .groupBy("level", "logger")
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.sum((F.instr("record", "\n") > 0).cast("long")).alias("n_multi"),
                        )
                    )
                with tr.span("count.exec", ENGINE, engine=True):
                    rows = counts.collect()
            except Exception as exc:  # one failed op; the loop goes on
                traceback.print_exc()
                problems.append(("count", f"raised {exc!r}"))
            try:
                with tr.span("format_record_lines", "functions.logparse"):
                    gate = F.crc32(F.col("record").cast("binary")) % inputs.SAMPLE_MOD == 0
                    sample = format_record_lines(df.filter(gate))
                with tr.span("sample.write", ENGINE, engine=True):
                    sample.write.mode("overwrite").text(self.sample_dir)
                sample_ok = True
            except Exception as exc:
                traceback.print_exc()
                problems.append(("sample", f"raised {exc!r}"))
                sample_ok = False
        wall = time.perf_counter() - t0
        if rows is not None:
            problems += [("count", m) for m in inputs.check_counts(
                [(r.level, r.logger, r.n, r.n_multi) for r in rows], self.golden
            )]
        if sample_ok:
            problems += [("sample", m) for m in inputs.check_sample(
                self.sample_dir, self.files_dir, self.golden
            )]
        return wall, problems

    def sink_stats(self) -> tuple:
        return dir_bytes_and_files(self.sample_dir)

    # -- traced-only probes ------------------------------------------------
    def probes(self, tr, reps: int) -> tuple:
        """Layer probes: a scan-only Spark pass against the parse pass
        (both carry the same ``observe_scan`` counters, so their
        difference is the parse work), exact scan counters, and
        single-process scanner throughput.  Returns (metrics, problems)."""
        from hadoop_logfile_inputformat_spark.functions.logparse import parse_log_records
        from hadoop_logfile_inputformat_spark.sources.logfile import observe_scan

        multi = F.sum((F.instr("record", "\n") > 0).cast("long")).alias("n_multi")
        want = (self.golden["records"], self.golden["record_bytes"], self.golden["multiline"])
        scan_s, parse_s, problems = [], [], []
        for i in range(reps):
            df = self.load(tr)
            for kind, times in (("scan", scan_s), ("parse", parse_s)):
                observed, obs = observe_scan(df)
                if kind == "scan":
                    q = observed.agg(multi)
                else:
                    q = parse_log_records(observed).groupBy("level", "logger").agg(multi)
                layer = "sources.logfile" if kind == "scan" else "functions.logparse"
                with tr.span(f"{kind}_pass", layer, job=f"probe-{kind}-{i}", engine=True):
                    t = time.perf_counter()
                    rows = q.collect()
                    times.append(time.perf_counter() - t)
                m = obs.get
                got = (m["n_records"], m["record_bytes"], sum(r.n_multi for r in rows))
                if got != want:
                    problems.append(f"{kind} pass counters {got} != {want}")
        out = {
            "sources.logfile.partitions": df.rdd.getNumPartitions(),
            "sources.logfile.records": got[0],
            "sources.logfile.record_bytes": got[1],
            "sources.logfile.multiline_records": got[2],
            "sources.logfile.scan_pass_s": median(scan_s),
            "functions.logparse.parse_pass_s": median(parse_s) - median(scan_s),
        }
        out.update(self._single_process_scan(tr))
        return out, problems

    def _single_process_scan(self, tr) -> dict:
        """MB/s of ``scan_partition_arrow`` alone (no Spark), over the
        plain and the gzipped files separately."""
        from hadoop_logfile_inputformat_spark.sources.logfile import (
            PatternResolver,
            plan_partitions,
            scan_partition_arrow,
        )

        resolver = PatternResolver.from_options(self.options)
        files = sorted(os.path.join(self.files_dir, n) for n in self.layouts)
        plain_bytes = sum(os.path.getsize(f) for f in files if not f.endswith(".gz"))
        gz_bytes = self.golden["uncompressed_bytes"] - plain_bytes
        out = {}
        for key, gz, nbytes in (("scan_mb_s", False, plain_bytes), ("gz_scan_mb_s", True, gz_bytes)):
            parts = plan_partitions([f for f in files if f.endswith(".gz") == gz], resolver)
            with tr.span(f"scan_partition_arrow.{'gz' if gz else 'plain'}",
                         "sources.logfile", job=f"probe-{key}"):
                t = time.perf_counter()
                for p in parts:
                    for _ in scan_partition_arrow(p.path, p.start, p.end, p.pattern):
                        pass
                dt = time.perf_counter() - t
            out[f"sources.logfile.{key}"] = nbytes / 1e6 / dt
        return out
