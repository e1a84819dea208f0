"""Physical-plan quality gates.

Correctness tests prove the right ANSWER; these prove the right PLAN —
the properties that decide whether a query survives a 100x scale-up:
filters reaching the parquet scan, column pruning, broadcast instead of
shuffle joins for dims, semi/anti join strategies, and no row-at-a-time
Python in any hot path.  A regression here is invisible at sf0.01 and
fatal at 100 TB, which is exactly why it is asserted in CI.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from hadoop_logfile_inputformat_spark.plans.registry import MEMBER_QUERIES, QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = (QUERIES.get(name) or MEMBER_QUERIES[name])(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], "shipdate filter must reach the parquet scan"
    schema_line = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in schema_line, "unused columns must be pruned from the scan"
    assert "l_partkey" not in schema_line


def test_dim_joins_broadcast_not_shuffle(spark):
    for name in ("q3_shipping_priority", "part_brand_revenue", "q9_profit_by_nation_year"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dim join must broadcast"


def test_range_join_is_broadcast_nested_loop(spark):
    plan = plan_of(spark, "price_band_counts")
    assert "BroadcastNestedLoopJoin" in plan


def test_semi_and_anti_join_strategies(spark):
    assert "LeftSemi" in plan_of(spark, "q4_order_priority")
    assert "LeftAnti" in plan_of(spark, "customers_without_orders")


def test_asof_join_single_user_shuffle(spark):
    """The as-of join must stay one window pass: exactly one exchange on
    user_id above the union, not a join of shuffled streams."""
    plan = plan_of(spark, "asof_purchase_last_click")
    assert "Join" not in plan, "as-of must not degrade to a physical join"
    assert plan.count("Exchange") <= 2


@pytest.mark.parametrize(
    "name",
    [
        n
        for n in QUERIES
        if n
        not in (
            "media_features",
            "logfile_count_by_level",
            "logfile_gzip_equivalence",
            "logfile_stack_hotspots",  # UDTF is deliberately row-path
            "logfile_sample",  # reads through the Python data source
        )
    ],
)
def test_no_row_at_a_time_python_in_hot_paths(spark, name):
    """BatchEvalPython = pickled row-at-a-time UDF — forbidden everywhere.
    (media_features legitimately uses Arrow mapInPandas; the logfile
    queries read through the Python data source itself.)"""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


def test_log_parse_is_one_split_projection(spark):
    """``parse_log_records`` splits each record once in a JVM
    projection: no per-layout ``regexp_extract`` (the two-regex form
    cost 4 full-record DOTALL matches per record even after pruning)
    and no Python evaluation of any kind."""
    from hadoop_logfile_inputformat_spark.functions.logparse import parse_log_records
    from hadoop_logfile_inputformat_spark.operators.logparity import _read_fixture

    df = parse_log_records(_read_fixture(spark, "log")).groupBy("level", "logger").count()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "split(record" in plan, plan
    for banned in ("regexp_extract", "BatchEvalPython", "ArrowEvalPython"):
        assert banned not in plan, f"log parse plan contains {banned}"


@pytest.mark.parametrize(
    "name",
    [
        n
        for n in QUERIES
        if n
        not in (
            "logfile_count_by_level",  # Python-data-source reads: plan
            "logfile_gzip_equivalence",  # text is source-internal, no joins
            "logfile_stack_hotspots",
            "logfile_sample",
            "media_features",
        )
    ],
)
def test_no_unbroadcast_cartesian_product(spark, name):
    """CartesianProduct = an UNBROADCAST cross join — |A|x|B| rows
    through a shuffle-less nested loop, the plan shape that dies first
    at scale.  Deliberate cross joins (ANN scoring, interval joins)
    must appear as BroadcastNestedLoopJoin with the small side
    broadcast; this sweep pins that none of them degrade."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, (
        f"{name} plans an unbroadcast cartesian product"
    )


def test_scan_level_aggregate_has_partial_phase(spark):
    """Partial (map-side) aggregation must precede the exchange, so the
    shuffle moves |groups| rows, not |input| rows."""
    plan = plan_of(spark, "q1_pricing_summary")
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert first_agg != -1 and first_exchange != -1
    # the PARTIAL aggregate must appear above (before) the exchange in
    # the formatted plan, and there must be two aggregate phases
    assert first_agg < first_exchange, "no map-side partial aggregation"
    assert plan.count("HashAggregate") >= 2, "missing partial+final phases"


def test_cobucketed_join_is_exchange_free(spark, tmp_path):
    """Writing both facts bucketed by the join key must make the join
    plan exchange-free (the one-time-layout-for-no-shuffle trade)."""
    from hadoop_logfile_inputformat_spark.operators.bucketing import (
        cobucketed_join,
        write_bucketed,
    )
    from hadoop_logfile_inputformat_spark.operators.tables import load

    o = load(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    l = load(spark, SF, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(o, "t_orders_b", "o_orderkey", n_buckets=8)
    write_bucketed(l, "t_lineitem_b", "o_orderkey", n_buckets=8)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (tiny test tables would broadcast,
        # which hides the property under test)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = cobucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "co-bucketed join must not shuffle"
        assert j.count() == l.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_tpch_rest_dims_broadcast(spark):
    """The remaining TPC-H shapes must broadcast their dim sides: a
    shuffle join against nation/region/filtered-part is the classic
    plan regression that only shows up at scale."""
    for name in (
        "q2_min_cost_supplier",
        "q8_market_share",
        "q10_returned_items",
        "q16_supplier_part_counts",
    ):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dim join must broadcast"


def test_q2_prefilters_fact_before_aggregate(spark):
    """Q2's per-(part,supplier) MIN must run on the semi-filtered fact,
    not on all of lineitem — the filters are broadcast semi joins
    below the first aggregate."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    first_agg = plan.find("HashAggregate")
    semi = plan.find("LeftSemi")
    assert semi != -1, "part/supplier filters must be semi joins"
    # formatted plans list operators leaves-last; the semi joins feeding
    # the aggregate appear after it in the text but must exist alongside
    # two aggregate phases (partial+final on the filtered input)
    assert first_agg != -1 and plan.count("HashAggregate") >= 2


def test_q15_and_q11_scalar_subquery_broadcasts(spark):
    """The MAX/SUM scalar threshold must arrive via a broadcast
    (1-row side), never a shuffled join."""
    for name in ("q15_top_supplier", "q11_important_parts"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            f"{name}: scalar threshold must broadcast"
        )


@pytest.mark.parametrize(
    "name",
    # training_corpus shares pack_chunks' cumsum plan with
    # pack_sequences and is omitted: building its DataFrame runs the
    # connected-components fixpoint loop, which dominates suite time.
    ["acctbal_deciles", "customer_rfm", "order_value_distribution",
     "pack_sequences", "substring_dedup", "paragraph_dedup",
     "shard_corpus", "top_terms_per_source"],
)
def test_ranking_queries_have_no_global_sort_partition(spark, name):
    """The ranking/NTILE queries must not funnel data-sized input into a
    single partition (the Window.orderBy-without-partitionBy trap).
    Distributed-rank formulation (operators/ranks.py): any remaining
    Exchange SinglePartition may only merge a PARTIAL aggregate — a
    bounded, ≤#partitions-row stream — never raw rows."""
    df = (QUERIES.get(name) or MEMBER_QUERIES[name])(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "HashAggregate" in child and "partial_" in child, (
            f"{name}: SinglePartition exchange over non-aggregated input:\n"
            f"{line}\n{child}"
        )
    # and no global-order window anywhere (WindowExec would warn).  A
    # windowspecdefinition whose FIRST argument is a sort order (ASC/
    # DESC) has no partition columns — that's the global funnel; a
    # bare column first (e.g. __rank_pid, text_hash) is partitioned.
    import re

    for i, line in enumerate(lines):
        if "Window " in line and "windowspecdefinition" in line:
            assert not re.search(
                r"windowspecdefinition\([^,()]* (ASC|DESC)", line
            ), f"{name}: un-partitioned window:\n{line}"


def test_lloyd_training_iteration_has_no_corpus_exchange(spark):
    """The Lloyd's-iteration plans (kmeans_centroids and
    pq_codebooks_kmeans) must be pure projections over the corpus: the
    centroid/codebook literal rides inside the expression, so the only
    hash exchange per iteration is the map-side-partial component-mean
    aggregate — never a join, never a regroup of the corpus by vec_id.
    Before this shape, every training iteration shipped the full
    corpus (embedding payloads included) through an Exchange on
    vec_id; at 3-5 iterations x two training loops that dominated the
    IVFPQ lifecycle cost."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    v = S._vectors(spark, SF).select("vec_id", "embedding")
    cents = [[0.0] * 64, [1.0] * 64]
    for frame in (
        S._lloyd_iteration_means(v, cents, "l2"),
        S._lloyd_iteration_means(v, cents, "cosine"),
        S._pq_lloyd_iteration_means(
            S._pq_parts(S.quantize_frame(v)),
            [[[0.0] * S.PQ_SUBDIM, [1.0] * S.PQ_SUBDIM]] * S.PQ_M,
        ),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, "training iteration must not join"
        hash_ex = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        assert len(hash_ex) == 1, (
            f"exactly one (group-key) exchange expected:\n{plan}"
        )
        assert "vec_id" not in hash_ex[0], (
            f"corpus regrouped by vec_id:\n{hash_ex[0]}"
        )
        # and the exchange's input must already be a partial aggregate
        assert "partial_avg" in plan, "means must partial-aggregate map-side"
        # the argmin must be computed once per VECTOR, not once per
        # exploded component: its Project must sit below the Generate
        lines = plan.splitlines()
        gen = next(i for i, l in enumerate(lines) if "Generate" in l)
        argmin = next(i for i, l in enumerate(lines) if "array_min" in l)
        assert argmin > gen, (
            "argmin recomputed per exploded component (Project above "
            "Generate) — dim x redundant work"
        )


def _assert_broadcast_argmin_shape(plan: str, exploded: bool) -> None:
    """The corpus side of the one broadcast-row argmin kernel
    (:func:`_assign_via_broadcast`, :func:`_pq_encode_bcast`): the only
    join is one ``BroadcastNestedLoopJoin BuildRight`` against the
    centroids'/codebook's single row, its streamed (corpus) child holds
    no Exchange — only the centroid-/codebook-sized broadcast subtree
    may shuffle — the argmin evaluates in exactly ONE operator (no
    inferred filter or join condition re-evaluating it), and an
    encode's Generate sits ABOVE that projection, so the M-way argmin
    runs once per vector, not once per exploded element."""
    lines = plan.splitlines()
    joins = [i for i, l in enumerate(lines) if "Join" in l]
    assert len(joins) == 1, plan
    j = joins[0]
    assert "BroadcastNestedLoopJoin BuildRight" in lines[j], plan
    # the join's child markers sit under its name's first column: the
    # streamed child's subtree keeps a ':' there, the build side
    # starts at the '+-' marker
    col = lines[j].index("BroadcastNestedLoopJoin")
    streamed = []
    for line in lines[j + 1:]:
        if line[col:col + 1] != ":":
            break
        streamed.append(line)
    assert streamed, plan
    assert not any("Exchange" in l for l in streamed), plan
    argmin = [i for i, l in enumerate(lines) if "array_min" in l]
    assert len(argmin) == 1, plan
    assert argmin[0] < j, plan
    if exploded:
        # (a modulus codebook's own explode lives in the build side)
        gen = [i for i, l in enumerate(lines[:j]) if "Generate" in l]
        assert len(gen) == 1 and gen[0] < argmin[0], plan
        assert "array_min" not in lines[gen[0]], plan


def test_fused_pq_encode_is_a_pure_projection(spark):
    """_pq_encode_bcast (every PQ build's, append's and ADC search's
    encode) computes every vector's M codes in one projection over the
    corpus against the codebook's one broadcast row: no corpus-side
    Exchange, one join (the one-row broadcast), the argmin in exactly
    one operator — an inner posexplode lets Spark infer
    ``size(_enc) > 0`` and re-inline the whole M-argmin into that
    filter — and the Generate above it (collapsing them would
    recompute the M-argmin per generated element — the Lloyd's-training
    trap)."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    # plain scan (tables.load adds its own round-robin repartition,
    # which would read as a false encode exchange here)
    v = S.quantize_frame(
        spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    )
    cb = S._pq_modulus_codebooks(v, 100)
    plan = (
        S._pq_encode_bcast(v, cb, carry=("nrm",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    _assert_broadcast_argmin_shape(plan, exploded=True)


def test_centroid_assignment_is_a_pure_projection(spark):
    """_assign_via_broadcast (builds, appends, the inline probe twins)
    must be a projection over the corpus against the centroids' one
    broadcast row — no corpus-side Exchange (the join form regrouped
    the whole corpus, embeddings included, through groupBy(vec_id)) —
    and the k x dim argmin struct must evaluate ONCE per row (its
    alias stays its own projection; a collapse would inline it into
    both the centroid_id and c_sim outputs)."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    v = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .withColumn("nrm", F.expr(
            "sqrt(aggregate(zip_with(embedding, embedding, (x, y) ->"
            " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
        ))
    )
    cent = v.limit(4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    for metric in ("cosine", "l2"):
        plan = (
            S._assign_via_broadcast(v, cent, metric=metric)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        _assert_broadcast_argmin_shape(plan, exploded=False)


def test_opq_rotation_is_a_pure_pinned_projection(spark):
    """The OPQ rotate (r12) must add NO join and NO exchange to the
    encode chain — the d x d matrix rides as a SQL literal projection
    — and the rotated frame the builders feed to _pq_encode_bcast is
    PINNED (InMemoryRelation), so the d² matmul evaluates once per
    row instead of re-inlining into every per-entry encode lambda
    (the upstream-HOF landmine, measured 25x re-evaluation when it
    bit the quantize pass)."""
    from hadoop_logfile_inputformat_spark.operators import similarity as S

    v = S.quantize_frame(
        spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    )
    R = S.learn_opq_rotation(v)
    rotated = v.withColumn("q", F.expr(S._rotate_expr("q", R)))
    plan = rotated._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    # the builders' pinned form: encode over the PERSISTED rotation
    pinned = rotated.persist()
    try:
        cb = S._pq_modulus_codebooks(pinned, 100)
        enc_plan = (
            S._pq_encode_bcast(pinned, cb)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InMemoryTableScan" in enc_plan, enc_plan
        # the rotation is materialized behind the persist, not
        # re-inlined into the per-entry lambdas: one argmin operator,
        # and the corpus side reads the cached rows without a shuffle
        _assert_broadcast_argmin_shape(enc_plan, exploded=True)
    finally:
        pinned.unpersist(blocking=False)
