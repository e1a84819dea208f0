"""The traced run (``--trace 1``): per-layer metrics of all three
workloads, from one session.

For each workload, after its untraced warm-up:

- closed-loop workloads alternate untraced and traced jobs; the
  difference of the two medians is the tracing overhead, and the
  traced jobs give each layer's self time per job plus the
  ``unattributed`` part of job wall time that no layer span covers;
- layer probes then run each layer on its own (scan-only pass vs
  parse pass, single-process scanner, one build + action per operator)
  so its driver build, Catalyst phases, codegen and stages separate.

End-to-end metrics never come from this run.
"""

from __future__ import annotations

import os
import sys

import bench_spec
import report
from archive import LogsArchive
from common import OUT_DIR, emit_result, median, say, start_session
from corpus import CorpusCurate
from spans import JOB, Tracer, self_times
from tail import LogsTail, stream_metrics

#: generator window of the traced tail pass
TAIL_SECONDS = 5.0


def _job_breakdown(tr, workload: str, jobs: set) -> dict:
    """Mean self time per job of each layer inside ``jobs``, and of
    the job span itself (``unattributed``)."""
    own = self_times(tr.spans)
    per_layer: dict = {}
    for r in tr.spans:
        if r["job"] in jobs:
            key = "unattributed" if r["layer"] == JOB else r["layer"]
            per_layer[key] = per_layer.get(key, 0.0) + own[r["id"]]
    n = max(1, len(jobs))
    out = {}
    for layer, total in per_layer.items():
        name = "unattributed_s" if layer == "unattributed" else f"{layer}.self_s"
        out[f"trace.{workload}.{name}"] = total / n
    return out


def _paired_jobs(wl, tr, workload: str) -> tuple:
    """One untraced job, then one traced job (one pair keeps the traced
    run inside its time limit); returns (metrics, ops, failed)."""
    walls = {}
    attempted = failed = 0
    job_id = f"traced-{workload}"
    for tracer in (Tracer(enabled=False), tr):
        walls[tracer.enabled], problems = wl.job(tracer, job_id)
        attempted += wl.OPS_PER_JOB
        failed += len({op for op, _ in problems})
        for op, msg in problems:
            print(f"perfbench: {op}: {msg}", file=sys.stderr)
    out = _job_breakdown(tr, workload, {job_id})
    out[f"trace.{workload}.overhead_s"] = walls[True] - walls[False]
    return out, attempted, failed


def _sink_metrics(tr, prefix: str, sink_stats, spans: dict) -> dict:
    """Median traced-job duration of each named sink span, and what the
    sink holds."""
    out = {}
    for span_name, metric in spans.items():
        d = [r["end"] - r["start"] for r in tr.spans
             if r["name"] == span_name and str(r["job"]).startswith("traced-")]
        out[f"operators.sinks.{prefix}{metric}"] = median(d)
    nbytes, nfiles = sink_stats()
    out[f"operators.sinks.{prefix}bytes_written"] = nbytes
    out[f"operators.sinks.{prefix}files_written"] = nfiles
    return out


def traced(args, settings: dict) -> int:
    tr = Tracer(enabled=True)
    off = Tracer(enabled=False)
    metrics: dict = {}
    attempted = failed = 0
    archive, tail, corpus = LogsArchive(args.seed), LogsTail(args.seed), CorpusCurate(args.seed)
    with tr.span("session.start", "session", job="setup") as s:
        spark = start_session(f"perfbench-trace-{args.workload}")
    metrics["session.start_s"] = s["end"] - s["start"]
    tr.attach(spark)
    try:
        # logs_archive
        archive.setup(spark, off)
        m, a, f = _paired_jobs(archive, tr, "logs_archive")
        metrics.update(m)
        attempted, failed = attempted + a, failed + f
        metrics["sources.logfile.load_s"] = median(
            [r["end"] - r["start"] for r in tr.spans if r["name"] == "logfile.load"]
        )
        m, problems = archive.probes(tr, reps=2)
        metrics.update(m)
        attempted, failed = attempted + 1, failed + bool(problems)
        for msg in problems:
            print(f"perfbench: probe: {msg}", file=sys.stderr)
        metrics.update(_sink_metrics(tr, "sample_", archive.sink_stats,
                                     {"sample.write": "write_s"}))

        # logs_tail: the open loop, traced throughout
        tail.setup(spark, tr)
        res = tail.run(min(args.seconds, TAIL_SECONDS), traced=True)
        attempted, failed = attempted + res["generated"], failed + res["failed"]
        for msg in res["problems"]:
            print(f"perfbench: tail: {msg}", file=sys.stderr)
        metrics.update(_job_breakdown(
            tr, "logs_tail", {f"batch-{b}" for b in tail.measured_batches}))
        metrics.update(stream_metrics(res, tail.lag_samples))

        # corpus_curate
        corpus.setup(spark, off)
        m, a, f = _paired_jobs(corpus, tr, "corpus_curate")
        metrics.update(m)
        attempted, failed = attempted + a, failed + f
        metrics.update(corpus.probes(tr))
        metrics.update(_sink_metrics(tr, "", corpus.sink_stats, {
            "write_corpus": "write_corpus_s", "verify_manifest": "verify_manifest_s",
        }))
        tr.collect_stage_metrics()
        metrics.update(corpus.probe_metrics())
    finally:
        tr.detach()
        spark.stop()

    path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
    tr.dump(path, {"metrics": metrics, "settings": settings, "seed": args.seed,
                   "workload": args.workload})
    report.print_report(path)
    want = bench_spec.metric_names("per_layer")
    if set(metrics) != want:
        print(f"perfbench: traced metrics differ from BENCHMARK.json per_layer: "
              f"missing {sorted(want - set(metrics))}, "
              f"extra {sorted(set(metrics) - want)}", file=sys.stderr)
        return 3
    say(f"trace written to {os.path.relpath(path)}")
    units = bench_spec.metric_units("per_layer")
    emit_result(failed == 0, attempted, failed,
                {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())})
    return 0
