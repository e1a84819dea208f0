"""``logs_tail``: the rotating-log tail the reference was built for.

Open loop.  A load generator in a process of its own appends stamped
records to a few live files at one fixed rate, well below saturation,
and reports how late it ran.  A ``logfile-stream`` query (the default
partitioned reader) runs on a fixed processing-time trigger; the
benchmark's ``foreachBatch`` parses each batch with
``parse_log_records``, appends per-level counts to its sink and stamps
the commit time.  Freshness is commit time minus the generator's
creation stamp, for every record; at the end every generated record
must have been committed exactly once.
"""

from __future__ import annotations

import ast
import json
import multiprocessing
import os
import random
import statistics
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

import inputs
from common import OUT_DIR, fresh_dir, median, percentile
from spans import ENGINE, JOB

WORKLOAD = "logs_tail"
N_FILES = 3
RATE = 300.0  # records per second, over all files
TRIGGER = "1 second"
WARMUP_RECORDS = 100  # per file and warm-up round
#: Warm-up rounds, 1 s apart, after the first batch.  The first 6-7
#: micro-batches of a session took 0.55-0.70 s against 0.45-0.50 s for
#: later ones.
WARMUP_ROUNDS = 6
DRAIN_TIMEOUT_S = 30.0

_LOGGERS = [f"com.example.tail.{c}" for c in "ABCDE"]


def format_record(seq: int, due: float, rng: random.Random) -> str:
    """One layout-A record carrying its sequence number and its creation
    stamp (the time it was due); ERROR records carry a stack trace."""
    from hadoop_logfile_inputformat_spark.testing import loggen

    level = loggen.LEVELS[rng.randrange(1001) // 500]
    ts = datetime.fromtimestamp(due, timezone.utc)
    head = (
        f"{ts:%Y-%m-%d %H:%M:%S},{ts.microsecond // 1000:03d} | {level} | "
        f"{_LOGGERS[rng.randrange(len(_LOGGERS))]} | seq={seq} due={due:.6f}"
    )
    if level == "ERROR":
        head += "\n" + loggen._STACK_TRACE
    return head + "\n"


def run_generator(paths, rate, seconds, seed, t0, result_path) -> None:
    """Write ``rate * seconds`` records round-robin over ``paths``; record
    ``i`` is due at ``t0 + i / rate`` whatever happened before it."""
    rng = random.Random(seed)
    files = [open(p, "ab", buffering=0) for p in paths]
    late = []
    n = int(rate * seconds)
    nbytes = 0
    try:
        for i in range(n):
            due = t0 + i / rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            data = format_record(i, due, rng).encode("utf-8")
            files[i % len(files)].write(data)
            late.append(max(0.0, time.time() - due))
            nbytes += len(data)
    finally:
        for f in files:
            f.close()
    with open(result_path, "w") as f:
        json.dump({"n": n, "bytes": nbytes, "late_max_s": max(late),
                   "late_p99_s": percentile(late, 99)}, f)


class LogsTail:
    def __init__(self, seed: int):
        self.seed = seed
        self.input_s = 0.0
        self.dir = os.path.join(OUT_DIR, "tail")
        self.live = os.path.join(self.dir, "live")
        self.paths = [os.path.join(self.live, f"app-{i}.log") for i in range(N_FILES)]
        self.commits: list = []  # (seq, due, commit time)
        self.level_counts: list = []  # the sink: (batch id, {level: n})
        self.measured_batches: set = set()  # ids of batches with generated records

    def _on_batch(self, batch_df, batch_id) -> None:
        from hadoop_logfile_inputformat_spark.functions.logparse import parse_log_records

        tr = self.tr
        with tr.span("foreachBatch", JOB, job=f"batch-{batch_id}"):
            with tr.span("parse_log_records", "functions.logparse"):
                parsed = parse_log_records(batch_df).select(
                    "level",
                    F.regexp_extract("message", r"seq=(-?\d+)", 1).cast("long").alias("seq"),
                    F.regexp_extract("message", r"due=([0-9.]+)", 1).cast("double").alias("due"),
                )
            with tr.span("batch.exec", ENGINE):
                rows = parsed.collect()
            counts: dict = {}
            for r in rows:
                counts[r.level] = counts.get(r.level, 0) + 1
            self.level_counts.append((batch_id, counts))
            commit = time.time()
            self.commits.extend((r.seq, r.due, commit) for r in rows)
        if any(r.seq >= 0 for r in rows):
            self.measured_batches.add(batch_id)

    def setup(self, spark, tr) -> None:
        """Live files created, the query started, and the warm-up
        rounds of records committed."""
        from hadoop_logfile_inputformat_spark.testing import loggen

        self.spark, self.tr = spark, tr
        fresh_dir(self.dir)
        os.makedirs(self.live)
        rng = random.Random(self.seed)
        seq = self._append_warmup(-1, rng)
        with tr.span("query.start", "streaming.logfile_stream"):
            self.query = (
                spark.readStream.format("logfile-stream")
                .option("pattern", loggen.FORMAT_A)
                .option("tailStableBatches", "1")
                .load(os.path.join(self.live, "*.log"))
                .writeStream.foreachBatch(self._on_batch)
                .trigger(processingTime=TRIGGER)
                .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
                .start()
            )
        # the first batch is slow; the rounds after it each make a batch
        per_round = N_FILES * WARMUP_RECORDS
        self._wait(lambda: self._committed(warm=True) >= per_round, DRAIN_TIMEOUT_S)
        for _ in range(WARMUP_ROUNDS):
            seq = self._append_warmup(seq, rng)
            time.sleep(1.0)
        n_warm = per_round * (1 + WARMUP_ROUNDS)
        self._wait(lambda: self._committed(warm=True) >= n_warm, DRAIN_TIMEOUT_S)
        problems = inputs.check_exactly_once(
            [-1 - s for s, _, _ in self.commits if s < 0], n_warm
        )[1]
        if problems:
            raise RuntimeError(f"warm-up records: {problems}")

    def _append_warmup(self, seq: int, rng: random.Random) -> int:
        """Append one round of warm-up records, numbered down from
        ``seq``; returns the next number."""
        now = time.time()
        for p in self.paths:
            with open(p, "ab") as f:
                for _ in range(WARMUP_RECORDS):
                    f.write(format_record(seq, now, rng).encode("utf-8"))
                    seq -= 1
        return seq

    def _committed(self, warm: bool = False) -> int:
        return sum(1 for s, _, _ in list(self.commits) if (s < 0) == warm)

    def _wait(self, done, timeout: float, on_poll=None) -> bool:
        deadline = time.monotonic() + timeout
        while not done():
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                return False
            if on_poll:
                on_poll()
            time.sleep(0.1)
        return True

    def _trigger_ms(self, progress=None) -> dict:
        """Batch id -> ``triggerExecution`` ms, from the query's progress
        reports: the whole micro-batch, from the offset scan and planning
        through ``addBatch`` (which runs the ``foreachBatch`` handler) to
        the write-ahead-log commit."""
        if progress is None:
            progress = self.query.recentProgress
        return {p["batchId"]: p["durationMs"]["triggerExecution"] for p in progress
                if "triggerExecution" in p.get("durationMs", {})}

    def _lag_bytes(self) -> None:
        """File size minus committed offset, summed over the live files."""
        prog = self.query.lastProgress
        if not prog:
            return
        # the source's offset arrives as the repr of its Python dict
        end = ast.literal_eval(prog["sources"][0]["endOffset"] or "{}")
        committed = end.get("files", {})
        self.lag_samples.append(
            sum(max(0, os.path.getsize(p) - committed.get(p, 0)) for p in self.paths)
        )

    def run(self, seconds: float, traced: bool) -> dict:
        """Generate for ``seconds``, drain, stop; returns the result."""
        self.lag_samples: list = []
        result_path = os.path.join(self.dir, "generator.json")
        t0 = time.time() + 0.2
        ctx = multiprocessing.get_context("spawn")
        gen = ctx.Process(
            target=run_generator,
            args=(self.paths, RATE, seconds, self.seed, t0, result_path),
        )
        gen.start()
        try:
            on_poll = self._lag_bytes if traced else None
            self._wait(lambda: not gen.is_alive(), seconds + DRAIN_TIMEOUT_S, on_poll)
            gen.join(timeout=DRAIN_TIMEOUT_S)
        finally:
            if gen.is_alive():
                gen.terminate()
                gen.join()
        if gen.exitcode != 0:
            raise RuntimeError(f"load generator exited with {gen.exitcode}")
        with open(result_path) as f:
            generated = json.load(f)
        n = generated["n"]
        self._wait(lambda: self._committed() >= n, DRAIN_TIMEOUT_S)
        # a batch's progress is reported after it has committed
        self._wait(lambda: self.measured_batches <= set(self._trigger_ms()), DRAIN_TIMEOUT_S)
        progress = self.query.recentProgress
        trigger_ms = self._trigger_ms(progress)
        self.query.stop()
        missing = self.measured_batches - set(trigger_ms)
        if missing:
            raise RuntimeError(f"no progress reported for batches {sorted(missing)}")
        records = [(s, due, c) for s, due, c in self.commits if s >= 0]
        failed, problems = inputs.check_exactly_once([s for s, _, _ in records], n)
        return {
            "generated": n,
            "failed": failed,
            "problems": problems,
            "freshness": [c - due for _, due, c in records],
            "batch_seconds": [trigger_ms[b] / 1e3 for b in sorted(self.measured_batches)],
            "committed_mb": generated["bytes"] * max(0, n - failed) / n / 1e6,
            "generator": generated,
            "progress": progress,
        }


def stream_metrics(result: dict, lag_samples: list) -> dict:
    """Per-batch engine times, averaged over batches that carried data.
    Spark reports whole milliseconds, so a p50 of a 1 ms step would read
    the same on every run; the mean keeps the measured digits."""
    batches = [p for p in result["progress"] if p.get("numInputRows", 0) > 0]
    out = {}
    for key, name in (
        ("triggerExecution", "trigger_ms"),
        ("latestOffset", "latest_offset_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("addBatch", "add_batch_ms"),
        ("walCommit", "wal_commit_ms"),
    ):
        vals = [p["durationMs"][key] for p in batches if key in p.get("durationMs", {})]
        out[f"streaming.logfile_stream.{name}"] = statistics.fmean(vals) if vals else 0.0
    out["streaming.logfile_stream.rows_per_batch"] = median(
        [p["numInputRows"] for p in batches]
    ) if batches else 0.0
    out["streaming.logfile_stream.lag_bytes"] = median(lag_samples) if lag_samples else 0.0
    out["harness.generator_late_s"] = result["generator"]["late_max_s"]
    return out
