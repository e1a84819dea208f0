"""Incremental embedding-index lifecycle: append / drift / compaction.

The IVF and IVFPQ indexes mirror the text-LSH incremental pattern
(build once → O(delta) appends through the bucket specs → compaction →
drift-triggered retrain).  The load-bearing property pinned here is
append == rebuild: a delta appended to a standing index must probe
BIT-EQUAL to a full rebuild over the union with the same frozen
centroids/codebooks — that, plus the inline oracle twin equality, is
what transfers the registry's DuckDB value-hash onto the table path.
"""

import pyspark.sql.functions as F
import pytest

from hadoop_logfile_inputformat_spark.operators import similarity as S
from hadoop_logfile_inputformat_spark.operators.maintenance import (
    compact_ivf_index,
    compact_ivfpq_index,
)

SF = "/root/testdata/sf0.001"


def _split(spark):
    v = S._vectors(spark, SF)
    is_delta = F.col("vec_id") % S.INCR_SPLIT_MOD == S.INCR_DELTA_REM
    return (
        v.filter(~is_delta).select("vec_id", "embedding"),
        v.filter(is_delta).select("vec_id", "embedding"),
        v.select("vec_id", "embedding"),
        v.filter(F.col("vec_id") % S.INCR_QUERY_MODULUS == S.INCR_DELTA_REM)
        .select(F.col("vec_id").alias("query_id"), "embedding"),
    )


def _drop(spark, name, suffixes):
    for s in suffixes:
        spark.sql(f"DROP TABLE IF EXISTS {name}{s}")


IVF_SUFFIXES = ("_lists", "_centroids", "_batches", "_stats")
IVFPQ_SUFFIXES = (
    "_codes", "_quantized", "_centroids", "_codebooks", "_batches",
    "_stats", "_qstats",
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_append_equals_rebuild_and_inline_twin(spark):
    """build(seed) + append(delta) must probe bit-equal to (a) a full
    rebuild over the union with the SAME frozen centroids and (b) the
    inline registry twin ann_ivf_incremental — the equality that makes
    the member's DuckDB value-hash gate the table path."""
    seed, delta, union, queries = _split(spark)
    try:
        S.build_ivf_index(spark, seed, "tia_ivf_a")
        assert S.append_to_ivf_index(spark, delta, "tia_ivf_a", batch_id=1)
        appended = _rows(S.ann_ivf_probe(spark, queries, "tia_ivf_a"))
        # rebuild over the union with the seed's frozen centroids
        cents = spark.table("tia_ivf_a_centroids").select(
            "centroid_id", "c_emb"
        )
        S.build_ivf_index(spark, union, "tia_ivf_b", centroids=cents)
        rebuilt = _rows(S.ann_ivf_probe(spark, queries, "tia_ivf_b"))
        assert appended == rebuilt and len(appended) > 0
        inline = _rows(S.ann_ivf_incremental(spark, SF))
        assert appended == inline
    finally:
        _drop(spark, "tia_ivf_a", IVF_SUFFIXES)
        _drop(spark, "tia_ivf_b", IVF_SUFFIXES)


def test_ivf_append_lifecycle_operator_matches_inline(spark):
    """The bench-facing lifecycle operator (ephemeral tables) equals
    the inline twin, records its phase walls, and leaves no tables."""
    before = {t.name for t in spark.catalog.listTables()}
    out = _rows(S.ann_ivf_append_lifecycle(spark, SF))
    assert out == _rows(S.ann_ivf_incremental(spark, SF))
    assert {t.name for t in spark.catalog.listTables()} == before
    phases = S.LIFECYCLE_PHASES["ann_ivf_append"]
    assert set(phases) == {"b", "a", "p"} and all(
        v >= 0 for v in phases.values()
    )


def test_ivfpq_append_equals_rebuild(spark):
    """IVFADC: per-vector quantization scale + pure-argmin encoding
    against frozen codebooks make an appended vector's codes
    bit-identical to a rebuild's — probe equality is exact."""
    seed, delta, union, queries = _split(spark)
    qseed = S.quantize_frame(seed)
    cents = S.kmeans_centroids(
        qseed.select("vec_id", F.col("q").alias("embedding")),
        k=8, iters=2, metric="cosine",
    )
    cb = S.pq_codebooks_kmeans(qseed, n_entries=8, iters=2)
    try:
        S.build_ivfpq_index(
            spark, seed, "tia_pq_a", centroids=cents, codebooks=cb
        )
        assert S.append_to_ivfpq_index(spark, delta, "tia_pq_a", batch_id=3)
        appended = _rows(S.ann_ivfpq_probe(spark, queries, "tia_pq_a"))
        S.build_ivfpq_index(
            spark, union, "tia_pq_b", centroids=cents, codebooks=cb
        )
        rebuilt = _rows(S.ann_ivfpq_probe(spark, queries, "tia_pq_b"))
        assert appended == rebuilt and len(appended) > 0
    finally:
        _drop(spark, "tia_pq_a", IVFPQ_SUFFIXES)
        _drop(spark, "tia_pq_b", IVFPQ_SUFFIXES)


def test_append_replay_guard_is_idempotent(spark):
    """A replayed batch_id must be a no-op (False, no duplicate rows) —
    the foreachBatch at-least-once contract; an UNGUARDED append (no
    batch_id) records a NULL-id drift row and always applies."""
    seed, delta, _, _ = _split(spark)
    try:
        S.build_ivf_index(spark, seed, "tia_guard")
        n0 = spark.table("tia_guard_lists").count()
        assert S.append_to_ivf_index(spark, delta, "tia_guard", batch_id=5)
        n1 = spark.table("tia_guard_lists").count()
        assert n1 > n0
        assert not S.append_to_ivf_index(spark, delta, "tia_guard", batch_id=5)
        assert spark.table("tia_guard_lists").count() == n1
        # unguarded append: applies again, ledger row with NULL id
        assert S.append_to_ivf_index(spark, delta, "tia_guard")
        ledger = spark.table("tia_guard_stats").collect()
        assert any(r["batch_id"] is None for r in ledger)
        assert any(r["batch_id"] == -1 for r in ledger)  # seed row
        assert any(r["batch_id"] == 5 for r in ledger)
    finally:
        _drop(spark, "tia_guard", IVF_SUFFIXES)


def test_rebuild_resets_replay_log(spark):
    """Rebuilding an index must reset the _batches log — a stale
    applied-id would silently skip the first append after a rebuild."""
    seed, delta, _, _ = _split(spark)
    try:
        S.build_ivf_index(spark, seed, "tia_reset")
        S.append_to_ivf_index(spark, delta, "tia_reset", batch_id=1)
        S.build_ivf_index(spark, seed, "tia_reset")
        assert spark.table("tia_reset_batches").count() == 0
        assert S.append_to_ivf_index(spark, delta, "tia_reset", batch_id=1)
    finally:
        _drop(spark, "tia_reset", IVF_SUFFIXES)


def test_drift_ledger_flags_distribution_shift(spark):
    """A delta drawn from the seed's own clusters must not trigger a
    retrain; a delta from a NEW direction the frozen centroids never
    saw must.  Synthetic clustered vectors (the fixture embeddings are
    near-random — mean assignment sim ~0.25 either way — so they can't
    express a clean shift)."""
    import random

    rnd = random.Random(7)
    dim = 8

    def _cluster(base_axis, ids):
        rows = []
        for i in ids:
            v = [rnd.gauss(0, 0.05) for _ in range(dim)]
            v[base_axis] += 1.0
            rows.append((i, v))
        return rows

    seed_rows = _cluster(0, range(0, 60)) + _cluster(1, range(60, 120))
    same_rows = _cluster(0, range(1000, 1040))
    shifted_rows = _cluster(5, range(2000, 2040))  # unseen direction
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    try:
        S.build_ivf_index(
            spark, spark.createDataFrame(seed_rows, schema), "tia_drift"
        )
        S.append_to_ivf_index(
            spark, spark.createDataFrame(same_rows, schema), "tia_drift",
            batch_id=1,
        )
        d = S.ivf_index_drift(spark, "tia_drift")
        assert d["n_seed"] == 120 and d["n_appended"] == 40
        assert not d["retrain_recommended"], d
        S.append_to_ivf_index(
            spark, spark.createDataFrame(shifted_rows, schema), "tia_drift",
            batch_id=2,
        )
        d2 = S.ivf_index_drift(spark, "tia_drift")
        assert d2["drift"] > d["drift"]
        assert d2["retrain_recommended"], d2
    finally:
        _drop(spark, "tia_drift", IVF_SUFFIXES)


def test_compaction_preserves_results_and_shrinks_files(spark, tmp_path):
    """After several appends, compact_ivf_index must cut the lists
    table's file count back to ~n_buckets while leaving probe results
    bit-identical (bucket spec survives the rewrite)."""
    import os

    seed, delta, _, queries = _split(spark)
    try:
        S.build_ivf_index(spark, seed, "tia_cmp", n_buckets=4)
        deltas = delta.collect()
        third = len(deltas) // 3
        for i in range(3):
            chunk = spark.createDataFrame(
                deltas[i * third : (i + 1) * third],
                spark.table("tia_cmp_lists").select("vec_id", "embedding").schema,
            )
            S.append_to_ivf_index(spark, chunk, "tia_cmp", batch_id=i)
        before = _rows(S.ann_ivf_probe(spark, queries, "tia_cmp"))
        loc = (
            spark.sql("DESCRIBE FORMATTED tia_cmp_lists")
            .filter(F.col("col_name") == "Location")
            .collect()[0]["data_type"]
        ).replace("file:", "")
        n_files_before = sum(
            1 for f in os.listdir(loc) if f.endswith(".parquet")
        )
        compact_ivf_index(spark, "tia_cmp")
        loc2 = (
            spark.sql("DESCRIBE FORMATTED tia_cmp_lists")
            .filter(F.col("col_name") == "Location")
            .collect()[0]["data_type"]
        ).replace("file:", "")
        n_files_after = sum(
            1 for f in os.listdir(loc2) if f.endswith(".parquet")
        )
        assert n_files_after < n_files_before
        assert n_files_after <= 4
        assert _rows(S.ann_ivf_probe(spark, queries, "tia_cmp")) == before
    finally:
        _drop(spark, "tia_cmp", IVF_SUFFIXES)


def test_ivfpq_compaction_preserves_results(spark):
    seed, delta, _, queries = _split(spark)
    qseed = S.quantize_frame(seed)
    cents = S.kmeans_centroids(
        qseed.select("vec_id", F.col("q").alias("embedding")),
        k=4, iters=2, metric="cosine",
    )
    cb = S.pq_codebooks_kmeans(qseed, n_entries=4, iters=2)
    try:
        S.build_ivfpq_index(
            spark, seed, "tia_pqc", centroids=cents, codebooks=cb, n_buckets=4
        )
        S.append_to_ivfpq_index(spark, delta, "tia_pqc", batch_id=1)
        before = _rows(S.ann_ivfpq_probe(spark, queries, "tia_pqc"))
        compact_ivfpq_index(spark, "tia_pqc")
        assert _rows(S.ann_ivfpq_probe(spark, queries, "tia_pqc")) == before
    finally:
        _drop(spark, "tia_pqc", IVFPQ_SUFFIXES)


def test_append_probe_plan_has_no_index_side_shuffle(spark):
    """The post-append probe must still read the lists through their
    bucketing (appends go through insertInto, which applies the
    catalog bucket spec) — asserted under the forced sort-merge shape
    exactly like the seed-index plan test, so the no-index-side-
    Exchange property provably survives appends."""
    seed, delta, _, queries = _split(spark)
    try:
        S.build_ivf_index(spark, seed, "tia_plan")
        S.append_to_ivf_index(spark, delta, "tia_plan", batch_id=1)
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                S.ann_ivf_probe(spark, queries, "tia_plan")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            scans = [
                line for line in plan.splitlines()
                if "FileScan" in line and "tia_plan_lists" in line
            ]
            assert scans, plan
            for line in scans:
                assert "Bucketed: true" in line, line
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    finally:
        _drop(spark, "tia_plan", IVF_SUFFIXES)


def test_ephemeral_materialize_table_is_durable_and_equal(spark):
    """materialize='table': the ephemeral lifecycle lands its result in
    a durable <name>_result managed table (the fault-tolerant cluster
    variant — localCheckpoint blocks die with their executor), equal to
    the checkpoint variant, with the index tables still dropped and
    only the result table left for the caller to own."""
    before = {t.name for t in spark.catalog.listTables()}
    ck = _rows(S.ann_ivf_append_lifecycle(spark, SF))
    out = S.ann_ivf_append_lifecycle(spark, SF, materialize="table")
    tbl = [
        t.name
        for t in spark.catalog.listTables()
        if t.name not in before
    ]
    try:
        assert len(tbl) == 1 and tbl[0].endswith("_result"), tbl
        assert _rows(out) == ck
        # durable: re-read through the catalog, not the returned frame
        assert _rows(spark.table(tbl[0])) == ck
    finally:
        for t in tbl:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="materialize"):
        S.ann_ivf_append_lifecycle(spark, SF, materialize="nope")


def test_retrain_resets_drift_and_covers_shifted_data(spark):
    """The act-on-drift verb: after shifted appends cross the drift
    gate, retrain_ivf_index re-learns centroids over everything the
    index holds (no access to the original corpus), resets both
    ledgers, clears the recommendation, and the previously-shifted
    vectors now quantize well (their direction got centroids)."""
    import random

    rnd = random.Random(13)
    dim = 8

    def _cluster(axis, ids):
        out = []
        for i in ids:
            v = [rnd.gauss(0, 0.05) for _ in range(dim)]
            v[axis] += 1.0
            out.append((i, v))
        return out

    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    try:
        S.build_ivf_index(
            spark,
            spark.createDataFrame(
                _cluster(0, range(0, 60)) + _cluster(1, range(60, 120)),
                schema,
            ),
            "tia_rt",
        )
        S.append_to_ivf_index(
            spark,
            spark.createDataFrame(_cluster(5, range(2000, 2060)), schema),
            "tia_rt",
            batch_id=1,
        )
        before = S.ivf_index_drift(spark, "tia_rt")
        assert before["retrain_recommended"], before
        after = S.retrain_ivf_index(spark, "tia_rt")
        # ledgers reset: all 180 held vectors are seed data now
        assert after["n_seed"] == 180 and after["n_appended"] == 0
        assert not after["retrain_recommended"]
        assert spark.table("tia_rt_batches").count() == 0
        assert not spark.catalog.tableExists("tia_rt_retrain_tmp")
        # the shifted direction got centroids: its vectors now sit close
        # to their assignment (seed mean includes them and stays high)
        assert after["seed_mean_sim"] > 0.95, after
        # index remains fully usable: probes + further appends work
        q = spark.createDataFrame(_cluster(5, [9000]), schema).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        hits = S.ann_ivf_probe(spark, q, "tia_rt", k=3).collect()
        assert len(hits) == 3
        assert all(2000 <= r["neighbor_id"] < 2060 for r in hits), hits
        assert S.append_to_ivf_index(
            spark,
            spark.createDataFrame(_cluster(0, [9500]), schema),
            "tia_rt",
            batch_id=1,  # log was reset: old ids are appendable again
        )
    finally:
        _drop(spark, "tia_rt", IVF_SUFFIXES)


def test_ivfpq_retrain_resets_ledgers_and_stays_usable(spark):
    """IVFADC act-on-drift: retrain_ivfpq_index re-learns centroids AND
    residual codebooks from the index's own _quantized table (no
    corpus access), resets both ledgers, and — because quantize_frame
    is idempotent on already-quantized vectors — holds the exact same
    vectors afterwards (bit-equal _quantized)."""
    seed, delta, union, queries = _split(spark)
    try:
        S.build_ivfpq_index(
            spark, seed, "tia_pqrt", n_centroids=8, n_entries=8, iters=2
        )
        S.append_to_ivfpq_index(spark, delta, "tia_pqrt", batch_id=1)
        held_before = _rows(spark.table("tia_pqrt_quantized"))
        after = S.retrain_ivfpq_index(
            spark, "tia_pqrt", iters=2, n_centroids=8, n_entries=8
        )
        assert after["n_seed"] == len(held_before)
        assert after["n_appended"] == 0
        assert not after["retrain_recommended"]
        assert spark.table("tia_pqrt_batches").count() == 0
        assert not spark.catalog.tableExists("tia_pqrt_retrain_tmp")
        # idempotent re-quantization: the held corpus is unchanged
        assert _rows(spark.table("tia_pqrt_quantized")) == held_before
        # index fully usable: probes return k rows, replay log re-armed
        hits = S.ann_ivfpq_probe(spark, queries, "tia_pqrt")
        assert hits.groupBy("query_id").count().count() > 0
        assert S.append_to_ivfpq_index(spark, delta, "tia_pqrt", batch_id=1)
    finally:
        _drop(spark, "tia_pqrt", IVFPQ_SUFFIXES)


PQ_SUFFIXES = ("_codes", "_quantized", "_codebooks", "_batches",
               "_stats", "_qstats")


def test_pq_append_equals_rebuild_with_replay_and_ledger(spark):
    """Flat-PQ append (completing the family): append == rebuild over
    the union with the same frozen codebooks, replay-guarded, and the
    drift ledger carries ADC self-similarity rows for seed + batch."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        compact_pq_index,
    )

    seed, delta, union, queries = _split(spark)
    try:
        S.build_pq_index(spark, seed, "tia_fpq_a")
        # frozen codebooks come from the SEED build; rebuild reuses them
        cb = spark.table("tia_fpq_a_codebooks")
        assert S.append_to_pq_index(spark, delta, "tia_fpq_a", batch_id=2)
        assert not S.append_to_pq_index(spark, delta, "tia_fpq_a", batch_id=2)
        appended = _rows(S.ann_pq_probe(spark, queries, "tia_fpq_a"))
        S.build_pq_index(spark, union, "tia_fpq_b", codebooks=cb)
        rebuilt = _rows(S.ann_pq_probe(spark, queries, "tia_fpq_b"))
        assert appended == rebuilt and len(appended) > 0
        # ledger: seed row + batch row, self-sim in a sane range
        ledger = {r["batch_id"]: r for r in
                  spark.table("tia_fpq_a_stats").collect()}
        assert set(ledger) == {-1, 2}
        for r in ledger.values():
            assert 0.0 < r["mean_sim"] <= 1.0 + 1e-9, r
        d = S.ivf_index_drift(spark, "tia_fpq_a")
        assert d["n_appended"] == 125 and d["drift"] is not None
        # compaction preserves probe results
        compact_pq_index(spark, "tia_fpq_a")
        assert _rows(S.ann_pq_probe(spark, queries, "tia_fpq_a")) == appended
    finally:
        _drop(spark, "tia_fpq_a", PQ_SUFFIXES)
        _drop(spark, "tia_fpq_b", PQ_SUFFIXES)


def test_pq_retrain_learns_codebooks_and_resets(spark):
    """Flat-PQ act-on-drift: a seed built on the modulus codebook
    retrains into LEARNED k-means codebooks over everything held,
    with the same ledger-reset / bit-equal-corpus contract as the
    IVF/IVFPQ retrains and the requested entry budget visible in
    the rebuilt _codebooks table."""
    seed, delta, _, queries = _split(spark)
    try:
        S.build_pq_index(spark, seed, "tia_fprt")
        S.append_to_pq_index(spark, delta, "tia_fprt", batch_id=1)
        held_before = _rows(spark.table("tia_fprt_quantized"))
        after = S.retrain_pq_index(spark, "tia_fprt", iters=2, n_entries=8)
        assert after["n_seed"] == len(held_before)
        assert after["n_appended"] == 0
        assert not after["retrain_recommended"]
        assert spark.table("tia_fprt_batches").count() == 0
        assert not spark.catalog.tableExists("tia_fprt_retrain_tmp")
        assert _rows(spark.table("tia_fprt_quantized")) == held_before
        # learned codebooks at the requested budget replaced the
        # modulus seed codebooks (float means, 8 entries per subspace)
        cb = spark.table("tia_fprt_codebooks")
        assert cb.count() == S.PQ_M * 8
        hits = S.ann_pq_probe(spark, queries, "tia_fprt")
        assert hits.groupBy("query_id").count().count() > 0
        assert S.append_to_pq_index(spark, delta, "tia_fprt", batch_id=1)
    finally:
        _drop(spark, "tia_fprt", PQ_SUFFIXES)


def test_delete_from_ivf_index_equals_never_held(spark):
    """delete_from_index == never-held: probing an index that held the
    union and then deleted the delta must be BIT-equal to probing an
    index built from the seed only under the same frozen centroids —
    the tombstone anti-join excludes candidates BEFORE ranking.  Also
    pins re-delete idempotence (returns 0) and compaction folding:
    physical rows reclaimed, tombstone table dropped, probe unchanged."""
    seed, delta, union, queries = _split(spark)
    tomb = ("_tombstones",)
    try:
        S.build_ivf_index(spark, union, "tdl_a")
        cents = spark.table("tdl_a_centroids").select("centroid_id", "c_emb")
        n_delta = delta.count()
        assert S.delete_from_index(spark, "tdl_a", ids=delta) == n_delta
        assert S.delete_from_index(spark, "tdl_a", ids=delta) == 0
        after = _rows(S.ann_ivf_probe(spark, queries, "tdl_a"))
        S.build_ivf_index(spark, seed, "tdl_b", centroids=cents)
        never_held = _rows(S.ann_ivf_probe(spark, queries, "tdl_b"))
        assert after == never_held and after
        pre = spark.table("tdl_a_lists").count()
        compact_ivf_index(spark, "tdl_a")
        assert not spark.catalog.tableExists("tdl_a_tombstones")
        assert spark.table("tdl_a_lists").count() == pre - n_delta
        assert _rows(S.ann_ivf_probe(spark, queries, "tdl_a")) == after
        # a rebuild under the same name starts a fresh generation: a
        # new delete set is empty (no stale tombstones resurrected)
        S.delete_from_index(spark, "tdl_a", ids=delta.limit(1))
        S.build_ivf_index(spark, union, "tdl_a")
        assert not spark.catalog.tableExists("tdl_a_tombstones")
    finally:
        _drop(spark, "tdl_a", IVF_SUFFIXES + tomb)
        _drop(spark, "tdl_b", IVF_SUFFIXES + tomb)


def test_delete_table_path_matches_inline_twin(spark):
    """The oracle gate's equality: build the IVF index over the FULL
    corpus, delete_from_index the victims (vec_id % 4 == 3), probe the
    standing queries (vec_id % 50 == 0) — bit-equal to the inline
    registry twin ann_ivf_deleted, so the `ivfdel` member's DuckDB
    value-hash gates the tombstone exclusion semantics of the table
    path too."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    v = load(spark, SF, "embeddings").select("vec_id", "embedding")
    victims = v.filter(
        F.col("vec_id") % S.INCR_SPLIT_MOD == S.INCR_DELTA_REM
    )
    queries = v.filter(F.col("vec_id") % S.QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    tomb = ("_tombstones",)
    try:
        S.build_ivf_index(spark, v, "tdl_tw")
        assert S.delete_from_index(spark, "tdl_tw", ids=victims) > 0
        table_path = _rows(S.ann_ivf_probe(spark, queries, "tdl_tw"))
        inline = _rows(S.ann_ivf_deleted(spark, SF))
        assert table_path == inline and table_path
    finally:
        _drop(spark, "tdl_tw", IVF_SUFFIXES + tomb)


def test_append_of_pending_tombstoned_id_fails_fast(spark):
    """Re-appending a vec_id whose tombstone is still pending must
    raise (the row would be silently hidden by its own tombstone until
    the next compaction fold) — while an append of genuinely-new ids
    with unrelated deletes pending still succeeds."""
    seed, delta, union, queries = _split(spark)
    victims = seed.limit(3)
    tomb = ("_tombstones",)
    try:
        S.build_ivf_index(spark, seed, "tdl_g")
        assert S.delete_from_index(spark, "tdl_g", ids=victims) == 3
        with pytest.raises(ValueError, match="PENDING tombstones"):
            S.append_to_ivf_index(spark, victims, "tdl_g", batch_id=1)
        # unaffected ids append fine with deletes pending
        assert S.append_to_ivf_index(spark, delta, "tdl_g", batch_id=1)
    finally:
        _drop(spark, "tdl_g", IVF_SUFFIXES + tomb)


def test_tombstone_exclusion_is_broadcast_anti_join(spark):
    """Scale shape of the delete path: the probe's tombstone exclusion
    must be a BROADCAST anti-join (the set is bounded by compaction
    cadence), never a corpus-side shuffle — asserted with
    auto-broadcast disabled so the explicit hint, not the size
    estimate, is what carries the property."""
    seed, delta, union, queries = _split(spark)
    tomb = ("_tombstones",)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        S.build_ivf_index(spark, union, "tdl_pl")
        S.delete_from_index(spark, "tdl_pl", ids=delta.limit(5))
        plan = (
            S.ann_ivf_probe(spark, queries, "tdl_pl")
            ._jdf.queryExecution().executedPlan().toString()
        )
        anti = [
            ln for ln in plan.splitlines()
            if "LeftAnti" in ln or "left_anti" in ln
        ]
        assert anti, plan
        assert all("Broadcast" in ln for ln in anti), "\n".join(anti)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        _drop(spark, "tdl_pl", IVF_SUFFIXES + tomb)


def test_delete_filter_pq_family_and_retrain_folds(spark):
    """The predicate form (delete_filter over carry metadata) on the
    PQ tiers: deleting ``label = 7`` must probe BIT-equal to a twin
    index probed under ``member_filter="label != 7"`` (both are
    pre-ranking exclusions of the same candidate set).  Compaction
    reclaims the codes/quantized rows; a retrain's corpus snapshot
    subtracts the tombstones, so the rebuilt generation never holds
    the deleted vectors and starts with an empty delete set."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        compact_pq_index,
    )
    from hadoop_logfile_inputformat_spark.operators.tables import load

    v = load(spark, SF, "embeddings").select("vec_id", "embedding", "label")
    queries = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n7 = v.filter("label = 7").count()
    tomb = ("_tombstones",)
    try:
        S.build_pq_index(spark, v, "tdl_pq", carry=("label",))
        S.build_pq_index(spark, v, "tdl_pq2", carry=("label",))
        assert S.delete_from_index(
            spark, "tdl_pq", delete_filter="label = 7"
        ) == n7
        after = _rows(S.ann_pq_probe(spark, queries, "tdl_pq"))
        twin = _rows(S.ann_pq_probe(
            spark, queries, "tdl_pq2", member_filter="label != 7"
        ))
        assert after == twin and after
        # compaction fold: codes (M rows per vector) and quantized
        # (one) both shrink; probe identical; tombstones gone
        compact_pq_index(spark, "tdl_pq")
        assert not spark.catalog.tableExists("tdl_pq_tombstones")
        assert spark.table("tdl_pq_quantized").filter("label = 7").count() == 0
        assert spark.table("tdl_pq_codes").filter("label = 7").count() == 0
        assert _rows(S.ann_pq_probe(spark, queries, "tdl_pq")) == after
        # retrain path folds too: delete on the twin, retrain, and the
        # new generation holds only live vectors with no tombstones
        assert S.delete_from_index(
            spark, "tdl_pq2", delete_filter="label = 7"
        ) == n7
        S.retrain_pq_index(spark, "tdl_pq2", iters=1, n_entries=4)
        assert not spark.catalog.tableExists("tdl_pq2_tombstones")
        assert spark.table("tdl_pq2_quantized").filter("label = 7").count() == 0
        hits = S.ann_pq_probe(spark, queries, "tdl_pq2")
        bad = hits.join(
            v.filter("label = 7").select(
                F.col("vec_id").alias("neighbor_id")
            ),
            "neighbor_id",
        ).count()
        assert bad == 0 and hits.count() > 0
    finally:
        _drop(spark, "tdl_pq", PQ_SUFFIXES + tomb)
        _drop(spark, "tdl_pq2", PQ_SUFFIXES + tomb)


def test_delete_ivfpq_probe_and_compaction_fold(spark):
    """IVFPQ is the remaining delete combination: tombstones must
    exclude victims from the ADC candidate codes BEFORE the shortlist
    (pinned bit-equal to the member_filter complement, as on flat PQ),
    and compact_ivfpq_index folds BOTH corpus tables — the
    centroid_id-bucketed codes (M rows per vector) and the
    vec_id-bucketed re-rank vectors — then drops the set."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        compact_ivfpq_index,
    )
    from hadoop_logfile_inputformat_spark.operators.tables import load

    v = load(spark, SF, "embeddings").select("vec_id", "embedding", "label")
    queries = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n5 = v.filter("label = 5").count()
    tomb = ("_tombstones",)
    try:
        S.build_ivfpq_index(spark, v, "tdl_iq", carry=("label",))
        S.build_ivfpq_index(spark, v, "tdl_iq2", carry=("label",))
        assert S.delete_from_index(
            spark, "tdl_iq", delete_filter="label = 5"
        ) == n5
        after = _rows(S.ann_ivfpq_probe(spark, queries, "tdl_iq"))
        twin = _rows(S.ann_ivfpq_probe(
            spark, queries, "tdl_iq2", member_filter="label != 5"
        ))
        assert after == twin and after
        pre_c = spark.table("tdl_iq_codes").count()
        pre_q = spark.table("tdl_iq_quantized").count()
        compact_ivfpq_index(spark, "tdl_iq")
        assert not spark.catalog.tableExists("tdl_iq_tombstones")
        assert spark.table("tdl_iq_codes").count() < pre_c
        assert spark.table("tdl_iq_codes").filter("label = 5").count() == 0
        assert spark.table("tdl_iq_quantized").count() == pre_q - n5
        assert _rows(S.ann_ivfpq_probe(spark, queries, "tdl_iq")) == after
    finally:
        _drop(spark, "tdl_iq", IVFPQ_SUFFIXES + tomb)
        _drop(spark, "tdl_iq2", IVFPQ_SUFFIXES + tomb)


def test_post_retrain_append_assigns_to_current_centroids(spark):
    """A retrain rewrites the centroids table; the next append must
    assign against the NEW centroids — every appended row's centroid
    id belongs to the current centroid set, never a stale one."""
    v = S._vectors(spark, SF).select("vec_id", "embedding")
    is_delta = F.col("vec_id") % S.INCR_SPLIT_MOD == S.INCR_DELTA_REM
    seed, delta = v.filter(~is_delta), v.filter(is_delta)
    name = "tia_cache"
    try:
        S.build_ivf_index(spark, seed, name)
        assert S.append_to_ivf_index(spark, delta, name, batch_id=1)
        S.retrain_ivf_index(spark, name, iters=2, n_centroids=4)
        # post-retrain append uses the new centroids: every appended
        # row's assignment lies in the CURRENT centroid set
        assert S.append_to_ivf_index(spark, delta, name, batch_id=2)
        cur_cents = {
            r["centroid_id"]
            for r in spark.table(f"{name}_centroids").collect()
        }
        appended = spark.table(f"{name}_lists").join(
            delta.select("vec_id"), "vec_id", "left_semi"
        )
        got = appended.select("vec_id", "centroid_id").collect()
        assert got and {r["centroid_id"] for r in got} <= cur_cents
        # and each is the argmin against the current centroids
        fresh = {
            r["vec_id"]: r["centroid_id"]
            for r in S._assign_via_broadcast(
                delta.select(
                    "vec_id", "embedding", S._norm("embedding").alias("nrm")
                ),
                spark.table(f"{name}_centroids"),
            ).collect()
        }
        assert all(fresh[r["vec_id"]] == r["centroid_id"] for r in got)
    finally:
        for s in ("_lists", "_centroids", "_batches", "_stats",
                  "_tombstones", "_deferred"):
            spark.sql(f"DROP TABLE IF EXISTS tia_cache{s}")


def test_assignment_fails_loudly_on_empty_centroid_set(spark):
    """An empty centroid frame is an error, never a corpus of NULL
    centroid ids written into an index."""
    v = S._vectors(spark, SF).select("vec_id", "embedding", "nrm")
    cent = v.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    with pytest.raises(Exception, match="centroid frame is empty"):
        S._assign_via_broadcast(v, cent).collect()


def test_adc_search_fails_loudly_on_incomplete_codebook(spark):
    """A codebook missing one subspace must fail the encode: entries
    are selected by their own ``m``, so a gap can never shift every
    later subspace onto the wrong entries."""
    v = S.quantized_vectors(spark, SF)
    cb = S._pq_modulus_codebooks(v, S.PQ_CODEBOOK_MODULUS).filter(
        F.col("m") != 3
    )
    queries = v.filter(F.col("vec_id") % S.QUERY_MODULUS == 0)
    with pytest.raises(Exception, match="no entries for subspace m=3"):
        S._pq_adc_search(v, cb, queries).collect()


def test_scoped_persist_skips_a_frame_uncached_by_its_table_drop(spark):
    """A DROP TABLE uncaches every cached frame that reads the table,
    and such a frame's plan still lists the dropped files.  An append
    against a rebuilt index must plan afresh, not reuse that frame
    (it failed with FILE_NOT_EXIST once the assignment read the
    centroids table)."""
    from hadoop_logfile_inputformat_spark.operators.tables import (
        scoped_persist,
    )

    name, key = "tia_scoped", ("tia_scoped",)

    def rebuild():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.range(10).write.format("parquet").saveAsTable(name)

    try:
        rebuild()
        first = scoped_persist(spark.table(name), key)
        assert first.agg(F.sum("id")).first()[0] == 45
        rebuild()
        again = scoped_persist(spark.table(name), key)
        assert again.agg(F.sum("id")).first()[0] == 45
    finally:
        scoped_persist(spark.range(0), key).unpersist()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_delta_missing_probe_ignores_null_ids(spark):
    """The intent protocol's resume probe (r15 ADVICE): a NULL id can
    never match the semi-join, so counting it on the delta side would
    read "missing" forever and a landed crashed insert would be
    re-appended on every replay, duplicating rows.  NULL ids must not
    gate resume in either direction."""
    name = "tia_nullprobe"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        spark.createDataFrame(
            [(1,), (2,), (3,)], "vec_id long"
        ).write.saveAsTable(name)
        landed = spark.createDataFrame(
            [(1,), (2,), (None,)], "vec_id long"
        )
        # every NON-NULL delta id is present -> the batch landed
        assert S._delta_missing_from(spark, name, landed) is False
        # a genuinely absent non-null id still reads missing, with or
        # without NULL passengers
        missing = spark.createDataFrame(
            [(2,), (9,), (None,)], "vec_id long"
        )
        assert S._delta_missing_from(spark, name, missing) is True
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
