"""``corpus_curate``: the LLM-pipeline half of the package.

Closed loop, one client, over the fixed sf0.1 ``documents`` and
``embeddings`` tables in ``perfbench/data``.  One job calls every
operator fresh:

1. ``pipeline.training_corpus``;
2. ``sinks.write_corpus`` to an overwrite sink;
3. ``sinks.verify_manifest``;
4. ``similarity.ann_ivf_topk``.

Small data; the time goes to the driver, Catalyst and codegen, and the
logfile source does no work here.  Outputs are checked on every job:
the written corpus and the ANN result against digests pinned for these
tables, and every manifest row must be ``ok``.
"""

from __future__ import annotations

import hashlib
import os
import time
import traceback

from pyspark.sql import functions as F

import inputs
from common import OUT_DIR, dir_bytes_and_files
from spans import ENGINE, JOB

WORKLOAD = "corpus_curate"

#: training_corpus columns, in the order the digest reads them
CORPUS_COLUMNS = ("doc_id", "chunk_id", "token_start", "n_tokens", "bin_id", "straddles")

#: Outputs on the sf0.1 tables: row count and digest of each.
PINNED = {
    "training_corpus": (18817, "-1015514505264309319928"),
    "ann_ivf_topk": (200, "b6359426b67c39d050bc0bc76f0e338a7bf0d2fc6c932dd095f2909ee26a905d"),
}


def corpus_digest(spark, path: str) -> tuple:
    """(rows, digest) of a written corpus: the exact sum of per-row
    xxhash64 values, so file layout and row order do not matter."""
    row = (
        spark.read.parquet(path)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*CORPUS_COLUMNS).cast("decimal(38,0)")).alias("h"),
        )
        .collect()[0]
    )
    return row.n, str(row.h)


def ann_digest(rows) -> tuple:
    """(rows, sha256) of top-k rows, similarity printed to 9 digits."""
    lines = sorted(
        f"{r.query_id},{r.neighbor_id},{r.sim:.9g},{r.rank}" for r in rows
    )
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


class CorpusCurate:
    OPS_PER_JOB = 4  # training_corpus, write_corpus, verify_manifest, ann_ivf_topk

    def __init__(self, seed: int):
        # the tables are fixed: the seed selects only generated log inputs
        del seed
        self.input_s = 0.0
        self.sink = os.path.join(OUT_DIR, "corpus_sink")

    def setup(self, spark, tr) -> None:
        """Inputs verified present, then one full warm-up job."""
        self.spark = spark
        self.sf_dir = inputs.verify_corpus_tables()
        self.mb = sum(
            os.path.getsize(os.path.join(self.sf_dir, n)) for n in inputs.CORPUS_TABLES
        ) / 1e6
        problems = self.job(tr, "warmup")[1]
        if problems:
            raise RuntimeError(f"warm-up job failed its checks: {problems}")

    def job(self, tr, job_id) -> tuple:
        """Run one job; returns ``(wall seconds, problems)``."""
        from hadoop_logfile_inputformat_spark.operators import pipeline, similarity, sinks

        spark, sf = self.spark, self.sf_dir
        problems: list = []
        written = verified = ann_rows = None
        t0 = time.perf_counter()
        with tr.span(f"{WORKLOAD}.job", JOB, job=job_id):
            ops = iter(("training_corpus", "write_corpus", "verify_manifest"))
            try:
                op = next(ops)
                with tr.span("training_corpus", "operators.pipeline"):
                    corpus = pipeline.training_corpus(spark, sf)
                op = next(ops)
                with tr.span("write_corpus", ENGINE, engine=True):
                    # training_corpus is the train split by construction
                    sinks.write_corpus(corpus.withColumn("split", F.lit("train")), self.sink)
                written = True
                op = next(ops)
                with tr.span("verify_manifest", "operators.sinks"):
                    check = sinks.verify_manifest(spark, self.sink)
                    with tr.span("verify_manifest.collect", ENGINE, engine=True):
                        verified = check.collect()
            except Exception as exc:  # failed ops; the loop goes on
                traceback.print_exc()
                # the op that raised, and the ones that could not run
                for failed in (op, *ops):
                    problems.append((failed, f"raised {exc!r}"))
            try:
                with tr.span("ann_ivf_topk", "operators.similarity"):
                    ann = similarity.ann_ivf_topk(spark, sf)
                with tr.span("ann_ivf_topk.exec", ENGINE, engine=True):
                    ann_rows = ann.collect()
            except Exception as exc:
                traceback.print_exc()
                problems.append(("ann_ivf_topk", f"raised {exc!r}"))
        wall = time.perf_counter() - t0
        if written:
            got = corpus_digest(spark, self.sink)
            if got != PINNED["training_corpus"]:
                problems.append(("training_corpus", f"{got} != {PINNED['training_corpus']}"))
        if verified is not None and not (verified and all(r.ok for r in verified)):
            problems.append(("verify_manifest", f"manifest not ok: {verified}"))
        if ann_rows is not None:
            got = ann_digest(ann_rows)
            if got != PINNED["ann_ivf_topk"]:
                problems.append(("ann_ivf_topk", f"{got} != {PINNED['ann_ivf_topk']}"))
        return wall, problems

    def sink_stats(self) -> tuple:
        return dir_bytes_and_files(self.sink)

    # -- traced-only probes ------------------------------------------------
    def probes(self, tr) -> dict:
        """Build and run each operator layer on its own, so its driver
        build, Catalyst phases, codegen and stages are separable."""
        from hadoop_logfile_inputformat_spark.operators import (
            dedup,
            pipeline,
            similarity,
            tables,
            text,
        )

        spark, sf = self.spark, self.sf_dir
        out: dict = {}
        with tr.span("tables.load", "operators.tables", job="probe-tables") as s:
            tables.load(spark, sf, "documents")  # memo hit: the jobs loaded it
        out["operators.tables.load_s"] = s["end"] - s["start"]
        self.probe_spans = {}
        for layer, build in (
            ("operators.pipeline", lambda: pipeline.training_corpus(spark, sf)),
            ("operators.dedup", lambda: dedup.curate_documents(spark, sf)),
            ("operators.text", lambda: text.chunk_documents(spark, sf)),
            ("operators.similarity", lambda: similarity.ann_ivf_topk(spark, sf)),
        ):
            job = f"probe-{layer}"
            with tr.span(f"{layer}.build", layer, job=job) as b:
                df = build()
            with tr.span(f"{layer}.exec", layer, job=job, engine=True) as e:
                df.collect()
            e["catalyst_ms"] = tr.catalyst_ms(df)
            self.probe_spans[layer] = (b, e)
        return out

    def probe_metrics(self) -> dict:
        """Per-operator metrics, once the tracer has the stage numbers."""
        out: dict = {}
        for layer, (b, e) in self.probe_spans.items():
            cat = e["catalyst_ms"]
            out.update({
                f"{layer}.build_s": b["end"] - b["start"],
                f"{layer}.exec_s": e["end"] - e["start"],
                f"{layer}.catalyst.analysis_ms": cat["analysis"],
                f"{layer}.catalyst.optimization_ms": cat["optimization"],
                f"{layer}.catalyst.planning_ms": cat["planning"],
                f"{layer}.codegen.compiles": e["codegen_compiles"],
                f"{layer}.codegen.compile_ms": e["codegen_compile_ms"],
                f"{layer}.py4j.calls": b["py4j_calls"] + e["py4j_calls"],
                f"{layer}.spark.jobs": e["jobs"],
                f"{layer}.spark.tasks": e["tasks"],
                f"{layer}.spark.executor_run_ms": e["executor_run_ms"],
                f"{layer}.spark.shuffle_read_bytes": e["shuffle_read_bytes"],
                f"{layer}.spark.shuffle_write_bytes": e["shuffle_write_bytes"],
            })
        return out

