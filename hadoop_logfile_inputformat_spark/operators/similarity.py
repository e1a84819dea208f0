"""Similarity search over the ``embeddings`` table (array<float> × 64).

Brute-force cosine top-k is the correctness baseline; IVF probing is
the scale path.  Both are DuckDB-oracled — centroids are a
deterministic modulus subset and Spark's sequential-fold ``aggregate``
dot product is bit-identical to ``list_dot_product``, so even the
approximate pipeline is value-hash-checked.  All vector math is Catalyst
higher-order functions over the array column — JVM-side, no Python in
the row loop.  At 100 TB the brute-force variant is what you run *per
probe-cluster*, not globally; ``ann_ivf_topk`` shows that composition.
"""

from __future__ import annotations

import os
import time
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_logfile_inputformat_spark.operators.tables import (
    _table_sizes,
    cached_count,
    clear_orphaned_table,
    load,
    local_df,
    register_aux_cache,
    scoped_persist,
)

QUERY_MODULUS = 50  # vec_id % 50 == 0 → deterministic query subset
TOP_K = 5
FILTER_LABEL = 7  # the filtered-search demo predicate (embeddings.label)
IVF_CENTROID_MODULUS = 25  # 1/25 of vectors act as IVF centroids
IVF_NPROBE = 3
#: Cap on the deterministic centroid/codebook cardinality: a FIXED
#: modulus makes |centroids| ∝ N, so the |corpus| x |centroids|
#: assignment (and PQ's |corpus| x |codebook| encoding) is N²/modulus —
#: quadratic.  The x100 scale soak measured it: 200k vectors meant an
#: 8000-entry PQ codebook and ~1.3e10 encode-scored rows (never
#: finished).  Above TARGET the modulus scales with N instead, holding
#: the broadcast set at ~TARGET entries; every gated fixture scale
#: (sf0.001/0.01/0.1 = 200/500/2000 vectors) resolves to the plain
#: modulus, so oracle parity is untouched.
IVF_CENTROID_TARGET = 80

#: PQ per-subspace ENTRY budget cap (r13) — deliberately HIGHER than
#: the coarse-routing target above.  The two budgets price different
#: things: centroids only ROUTE (the nprobe curve shows recall@5 0.94
#: at nprobe=8 with ~80 lists on clustered data), while codebook
#: entries must DESCRIBE the (residual) structure — and the measured
#: recall-vs-budget curve on the clustered x10/x100 corpora
#: (SCALING.md, tools/soak.py --budget-curve) shows the legacy shared
#: 80-entry cap delivering recall@5 ≈ 0.03-0.07 on exactly the
#: geometry real encoder embeddings exhibit, with entry budget the
#: dominant lever (4x entries ≈ 3x recall; rotation adds most when the
#: budget is tight).  320 sits at the measured knee: past it the
#: encode cost (∝ entries) keeps growing linearly while recall gains
#: flatten.  Every gated fixture scale still resolves to the plain
#: modulus (max(25, n//320) == 25 up to n = 8000 > sf0.1's 2000
#: vectors), so oracle parity and bench comparability are untouched;
#: only >8k-vector corpora get the bigger (better-fitting) default.
PQ_ENTRY_TARGET = 320


def _effective_modulus(
    n_vecs: int,
    modulus: int = IVF_CENTROID_MODULUS,
    target: int = IVF_CENTROID_TARGET,
) -> int:
    """max(modulus, n // target): the adaptive stand-in selector (see
    IVF_CENTROID_TARGET / PQ_ENTRY_TARGET — centroid sites use the
    routing target, PQ-entry sites pass target=PQ_ENTRY_TARGET).
    Pure; unit-tested."""
    return max(modulus, n_vecs // target)


#: Wall-clock phase timings of the most recent lifecycle invocation,
#: keyed by operator name → {"t": train, "b": build, "p": probe}
#: seconds.  bench.py reads this after timing each lifecycle key so
#: the artifact trends SERVING cost separately from training cost (the
#: quantity a user actually tunes — probe latency at a given recall —
#: was invisible inside the single lifecycle total).  Phases cover
#: what the call itself materializes: ann_pq_topk_kmeans's search is
#: lazy (the caller's collect pays it), so it records only "t" and
#: serve = total − t; the ephemeral IVF/IVFPQ lifecycles materialize
#: the probe via eager localCheckpoint, so "p" is the measured probe.
LIFECYCLE_PHASES: dict = {}

#: Hard cap on the driver-collected query side of the Arrow top-k.
#: 100k × 64 float64 ≈ 50 MB — comfortably in driver memory; anything
#: larger means the caller passed a modulus that makes "queries" the
#: corpus, which this kernel is not shaped for (use ann_ivf_topk).
MAX_ARROW_QUERIES = 100_000


def _norm(col: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({col}, CAST(0.0 AS DOUBLE),"
            f" (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _round4_portable(c: Column) -> Column:
    """Four-decimal rounding both engines compute BIT-identically:
    ``floor(x*10000 + 0.5) / 10000`` in pure IEEE double arithmetic
    (round half toward +inf).  ``round(double, 4)`` is the latent
    gate-flake the CLAUDE.md hard rule bans — Spark rounds the
    shortest decimal repr (BigDecimal HALF_UP) while DuckDB rounds the
    binary value (half away from zero), so a representational .xxxx5
    tie can split them.  This form involves no engine decimal
    semantics at all: given pre-round doubles that are already
    bit-identical cross-engine (pinned fold order), multiply/add/floor/
    divide are each exact-or-identically-rounded IEEE ops → identical
    output bits.  The doubles twin of ``text._ratio4``; the go-forward
    form for new gated members (the frozen pre-r12 cosine members keep
    ``round`` as documented precedent).  Oracle twin:
    ``floor(x * 10000 + 0.5) / 10000``."""
    return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def _vectors(
    spark: SparkSession, sf_dir: str, fanout: bool = True
) -> DataFrame:
    """``fanout=False`` (r17): the tiny broadcast sides of the ANN
    probes (centroid subsets, query subsets) don't need the
    COMPUTE_HEAVY corpus fan-out — inheriting it put a round-robin
    Exchange inside every broadcast-build subtree, re-paid per
    invocation (guide §2.4: remove shuffles outright).  The MAIN
    corpus branch keeps the fan-out."""
    e = load(spark, sf_dir, "embeddings", fanout=fanout)
    return e.select("vec_id", "embedding", _norm("embedding").alias("nrm"))


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding QA profile: the data-quality gate an ANN /
    semantic-dedup pipeline runs BEFORE indexing 100 TB of vectors —
    a broken encoder batch shows up here as a dimension drift, a
    zero/degenerate-norm count, or a NaN count, each of which would
    silently poison every cosine downstream.

    One row per ``label``: vector count, min/max dimensionality,
    min/max L2 norm, and a degenerate count (non-finite or ~zero norm).
    Every statistic is either an integer or a min/max of
    engine-identical doubles (the sequential-fold norm), so the whole
    frame value-hashes cross-engine — deliberately NO mean/sum of
    doubles, whose accumulation order Spark does not fix.

    Scale shape: per-row projections + one low-cardinality groupBy
    with map-side partials — cost is one corpus scan, shuffle is
    |labels| rows.
    """
    e = load(spark, sf_dir, "embeddings")
    nrm = _norm("embedding")
    # NULL vectors and NULL components ARE the broken-encoder output
    # this gate exists to catch — they must count as degenerate, not
    # vanish into NULL-skipping aggregates (exists() over a NULL array
    # is NULL, sum() skips NULL: without the explicit IS NULL arms a
    # batch of NULL embeddings sails through with n_degenerate=0).
    bad = F.expr(
        "CASE WHEN embedding IS NULL THEN 1"
        " WHEN exists(embedding, x -> x IS NULL) THEN 1"
        " WHEN exists(embedding, x -> isnan(CAST(x AS DOUBLE))"
        "      or abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
        " THEN 1 ELSE 0 END"
    )
    zero = F.when(F.col("nrm") < 1e-6, 1).otherwise(0)
    # Degenerate vectors are COUNTED (n_degenerate) but their norm must
    # not enter min/max: the engines disagree on what that norm even is
    # (Spark's sequential fold propagates a NULL component to a NULL
    # norm and sorts NaN as largest; DuckDB's list_sum skips NULL
    # elements and yields a finite value) — nulling nrm behind the same
    # is_bad predicate on BOTH engines keeps the frame hashable no
    # matter what broken batch shows up.
    rows = e.select(
        "label",
        F.size("embedding").alias("dim"),
        nrm.alias("nrm"),
        bad.alias("is_bad"),
    ).withColumn(
        "nrm",
        F.when(F.col("is_bad") == 1, F.lit(None).cast("double")).otherwise(
            F.col("nrm")
        ),
    )
    return rows.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        F.sum(F.greatest("is_bad", zero)).cast("long").alias("n_degenerate"),
    )


def cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
) -> DataFrame:
    """Brute-force cosine top-k for a deterministic query subset.

    The (small) query side is broadcast, so the 'cross' join is a
    broadcast nested loop over the corpus — no shuffle of the corpus at
    all; ranking shuffles only |queries| × |corpus| similarity rows
    pre-filtered to each query's partition.  Similarity is rounded and
    ties broken by neighbor id, making ranks engine-deterministic.
    """
    v = _vectors(spark, sf_dir)
    # query subset from the un-fanned scan (r17, see _vectors): the
    # broadcast-build subtree needs no COMPUTE_HEAVY repartition
    q = _vectors(spark, sf_dir, fanout=False).filter(
        F.col("vec_id") % query_modulus == 0
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    sim = F.round(_dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm")), 4)
    pairs = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def l2_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
) -> DataFrame:
    """Brute-force L2 top-k — the :func:`cosine_topk` shape under the
    squared-Euclidean serving metric (`sim` = NEGATED squared distance
    so rank 1 is nearest under the package's one higher-is-better
    convention; same broadcast-queries / corpus-never-shuffled plan).
    The oracle binding (`l2` member of ann_variants_pack) value-hashes
    it against DuckDB, which also gates the metric arithmetic the
    L2-serving IVF index (:func:`build_ivf_index` ``metric="l2"``)
    assigns and ranks with."""
    v = _vectors(spark, sf_dir)
    q = _vectors(spark, sf_dir, fanout=False).filter(
        F.col("vec_id") % query_modulus == 0
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    sim = _round4_portable(-_l2sq("q_emb", "embedding"))
    pairs = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ip_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
) -> DataFrame:
    """Brute-force inner-product (MIPS) top-k — :func:`cosine_topk`
    without the norm division (recommendation-style scoring where
    vector magnitude carries signal).  `ip` member of
    ann_variants_pack; the oracle value-hash gates the raw-dot ranking
    the ``metric="ip"`` IVF probes use."""
    v = _vectors(spark, sf_dir)
    q = _vectors(spark, sf_dir, fanout=False).filter(
        F.col("vec_id") % query_modulus == 0
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    sim = _round4_portable(_dot("q_emb", "embedding"))
    pairs = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
    nprobe: int = IVF_NPROBE,
    centroid_modulus: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: deterministic centroid subset,
    inverted lists, nprobe-cluster search.

    Build: every vector is assigned to its nearest centroid (centroids
    broadcast).  Search: each query probes its ``nprobe`` nearest
    centroids and ranks only vectors in those clusters.  At scale the
    corpus is thus partitioned by ``centroid_id`` and each query
    touches nprobe/|centroids| of it instead of all of it.

    The centroid subset comes from the ADAPTIVE modulus
    (:func:`_effective_modulus`): a fixed modulus would grow
    |centroids| ∝ N and make the assignment pass quadratic; gated
    fixture scales resolve to the plain ``IVF_CENTROID_MODULUS``, so
    the oracle replay is unchanged.  An EXPLICIT ``centroid_modulus``
    bypasses the adaptive pick entirely — the pin the oracle binding
    (:func:`ann_ivf_topk_portable`) needs so Spark can never diverge
    from a fixed-modulus SQL replay, whatever the corpus size.
    """
    v = _vectors(spark, sf_dir)
    if centroid_modulus is not None:
        eff_mod = centroid_modulus
    else:
        eff_mod = _effective_modulus(cached_count(spark, sf_dir, "embeddings"))
    # centroid/query subsets come from the UN-FANNED scan: they feed
    # broadcast builds, where the corpus fan-out exchange is pure
    # re-paid overhead (see _vectors)
    v_thin = _vectors(spark, sf_dir, fanout=False)
    cent = v_thin.filter(F.col("vec_id") % eff_mod == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    # Nearest-centroid assignment as a shuffle-free argmin projection
    # against the centroids' one broadcast row — the same kernel the
    # index builders, appends and the incremental twins use.  The
    # former broadcast-cross-join + max_by regroup re-grouped the WHOLE
    # corpus — embedding payloads included — through a data-sized
    # Exchange per invocation; values are identical (same per-pair
    # double arithmetic, same (score, lowest-id) tie-break).
    assigned = _assign_via_broadcast(v, cent)
    # the query subset never reads the assignment columns, so derive
    # it straight from the thin scan (bit-identical rows; saves the
    # column-pruner the work and keeps the broadcast subtree flat)
    queries = v_thin.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), F.asc("centroid_id")
    )
    probes = (
        F.broadcast(queries)
        .join(F.broadcast(cent), how="cross")
        .select(
            "query_id", "q_emb", "q_nrm", "centroid_id",
            (_dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias("c_sim"),
        )
        .withColumn("p", F.row_number().over(probe_w))
        .filter(F.col("p") <= nprobe)
        .drop("p", "c_sim")
    )
    sim = F.round(_dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm")), 4)
    hits = (
        F.broadcast(probes)
        .join(assigned, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ann_ivf_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry/oracle binding of :func:`ann_ivf_topk` with the
    centroid modulus PINNED to ``IVF_CENTROID_MODULUS`` — the DuckDB
    oracle hardcodes that geometry, so the binding must never follow
    the adaptive :func:`_effective_modulus` (which switches above
    ~``modulus * IVF_CENTROID_TARGET`` vectors and would silently
    diverge from the SQL replay on a larger gated corpus).  Every
    shipped fixture resolves identically either way; the pin makes
    that an invariant instead of a coincidence."""
    return ann_ivf_topk(spark, sf_dir, centroid_modulus=IVF_CENTROID_MODULUS)


def _sql_centroid_array(cents) -> str:
    """Render a list-of-lists of floats as ONE Spark SQL
    ``array<array<double>>`` literal.  A literal (not a joined frame,
    not thousands of py4j ``lit()`` calls) is what makes Lloyd's
    assignment a pure projection: the centroids ride inside the
    expression tree to every task, so the corpus is never joined,
    regrouped, or exchanged during training.  ``repr(float)`` is the
    shortest round-tripping decimal, so the parsed double is
    bit-identical to the driver-side value."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            for c in cents
        )
        + ")"
    )


def _argmin_centroid_expr(cents_sql: str, vec_col: str, metric: str) -> str:
    """SQL for the inline nearest-centroid id of ``vec_col`` against a
    centroid-array literal (see :func:`_sql_centroid_array`):
    ``array_min`` over ``struct(score, index)`` — identical semantics
    to the former broadcast-join ``min_by``/``max_by`` (l2: min
    distance, cosine: max similarity; ties to the lowest centroid id)
    but with NO corpus-side join or Exchange."""
    if metric == "l2":
        score = (
            f"aggregate(zip_with({vec_col}, c, (x, y) ->"
            " (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " CAST(0.0 AS DOUBLE), (a, d) -> a + d)"
        )
    else:
        # negated cosine so array_min picks the MAX similarity; double
        # negation is exact (sign flip), so ordering matches the old
        # max_by(.., struct(sim, -cid)) bit for bit
        score = (
            f"-(aggregate(zip_with({vec_col}, c, (x, y) ->"
            " CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (a, d) -> a + d)"
            " / (sqrt(aggregate(c, CAST(0.0 AS DOUBLE),"
            " (a, y) -> a + y * y)) + 1e-12))"
        )
    return (
        f"array_min(transform({cents_sql}, (c, i) ->"
        f" struct({score} AS d, i AS cid))).cid"
    )


def _lloyd_iteration_means(v: DataFrame, cents, metric: str) -> DataFrame:
    """One Lloyd's iteration as a DataFrame: assign every vector of
    ``v`` (``(vec_id, embedding)``) to its nearest centroid INLINE
    (argmin projection over the centroid literal — no join, no
    ``groupBy(vec_id)`` regroup, so the corpus is never exchanged) and
    return the ``(centroid_id, pos, m)`` component means.  The single
    shuffle in the plan is the map-side-partial mean aggregate, whose
    exchange carries k x dim partial rows per task — plan-asserted in
    tests/test_plan_quality.py."""
    assign = F.expr(
        _argmin_centroid_expr(_sql_centroid_array(cents), "embedding", metric)
    )
    # assignment in its OWN projection below the explode: selecting the
    # argmin alongside posexplode would place the Project above the
    # Generate and recompute the k-way argmin once per exploded
    # component (dim x redundant work — measured 2-3x on the lifecycle
    # keys) instead of once per vector
    assigned = v.select(assign.alias("centroid_id"), "embedding")
    return (
        assigned.select(
            "centroid_id", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("centroid_id", "pos")
        .agg(F.avg("val").alias("m"))
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 5,
    metric: str = "l2",
) -> DataFrame:
    """Distributed Lloyd's k-means over an ``(vec_id, embedding)``
    DataFrame — the learned-centroid feed for :func:`build_ivf_index`
    (its deterministic-modulus default stands in when no training pass
    is wanted).  Returns ``(centroid_id, c_emb)``.

    ``metric="l2"`` is classic Lloyd's; ``metric="cosine"`` is
    SPHERICAL k-means (assignment by max cosine, update = component
    mean, whose direction is the spherical centroid — no explicit
    normalization needed because every downstream consumer divides by
    the centroid norm).  Use the cosine mode when the index it feeds
    ranks by cosine (:func:`build_ivf_index` + :func:`ann_ivf_probe`):
    training in L2 and probing in cosine mismatches the quantizer and
    measurably costs recall.

    Deterministic end to end: init = the k vectors with the lowest
    ``xxhash64(vec_id)`` (ties to the lowest id) — a deterministic
    pseudo-random SPREAD.  Initializing from the k lowest raw ids
    would inherit whatever correlation ids have with content (the
    fixture's id→label blocking left whole label regions uncovered and
    cost ~0.5 IVF recall; a production corpus with time-ordered ids
    has the same failure mode).  Assignment ties break to the lowest
    centroid_id, and an emptied cluster keeps its previous centroid.

    Scale shape per iteration: the centroids ride as an
    ``array<array<double>>`` LITERAL inside one projection
    (:func:`_lloyd_iteration_means`) — assignment is an inline
    ``array_min(transform(...))`` argmin, so the corpus is never
    joined, regrouped, or exchanged; the plan's only shuffle is the
    (centroid_id, position) mean aggregate whose exchange carries
    k x dim map-side partials per task, and whose k x dim result —
    never the corpus — is what the driver collects.
    """
    if metric not in ("l2", "cosine"):
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    spark = vectors.sparkSession
    v = vectors.select("vec_id", "embedding")
    dim = len(v.select("embedding").head()[0])
    # orderBy + limit plans as TakeOrderedAndProject (distributed
    # top-k, no single-partition global sort)
    init = (
        v.orderBy(F.xxhash64("vec_id").asc(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in init]
    if len(cents) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(cents)}")
    for _ in range(iters):
        means = _lloyd_iteration_means(v, cents, metric).collect()
        new = {}
        for r in means:
            new.setdefault(r["centroid_id"], [0.0] * dim)[r["pos"]] = r["m"]
        cents = [new.get(i, cents[i]) for i in range(k)]
    return local_df(
        spark, list(enumerate(cents)), "centroid_id int, c_emb array<double>"
    )


def _l2sq(a: str, b: str) -> Column:
    """Squared L2 distance between two array columns — the same
    element order and CAST discipline as :func:`_dot`, so an inline
    twin reproduces it bit-exactly."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        f" (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _metric_score(metric: str, vec: str, nrm: str, q_vec: str, q_nrm: str) -> Column:
    """HIGHER-IS-BETTER score of ``q`` against ``vec`` under the three
    serving metrics: cosine (dot over norms), ``ip`` (raw inner
    product), ``l2`` (NEGATED squared distance — negation keeps one
    ordering convention everywhere: ``max_by`` assignment, descending
    rank windows, and a drift ledger where a falling mean always means
    worse quantization)."""
    if metric == "cosine":
        return _dot(q_vec, vec) / (F.col(q_nrm) * F.col(nrm))
    if metric == "ip":
        return _dot(q_vec, vec)
    if metric == "l2":
        return -_l2sq(q_vec, vec)
    raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")


#: Frozen-content memo of a persisted index's small driver-side reads
#: (stored rotation, live quantized count), keyed on the table's file
#: signature (:func:`_table_files_key`) so any rewrite misses.
_ASSIGN_RENDER_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_ASSIGN_RENDER_CACHE_MAX = 32

#: Once-per-index-generation tier warnings already emitted (r15 ADVICE:
#: a dedicated store, NOT _ASSIGN_RENDER_CACHE — eviction pressure from
#: rotation/count keys there could re-fire a "once" warning).  Bounded
#: only as a leak guard; eviction at worst re-arms a warning, never
#: changes results.
_TIER_WARNED: set = set()
_TIER_WARNED_MAX = 1024


def _table_files_key(spark: SparkSession, table: str) -> tuple | None:
    """A catalog table's content fingerprint: DESCRIBE its location,
    list the files (path, length, mtime).  Shared by every
    frozen-content memoization key (rotation read, live count) so
    the probe logic can't drift between them; None when anything about
    the probe fails (→ no caching)."""
    try:
        detail = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        loc = next(
            (r.data_type for r in detail if r.col_name == "Location"), None
        )
        if not loc:
            return None
        return _files_signature(spark, loc)
    except Exception:
        return None


def _files_signature(spark: SparkSession, path: str) -> tuple | None:
    """Recursive (path, length, mtime) listing of ``path`` — the
    content fingerprint behind the frozen-table memoization keys.
    Parquet rewrites always produce new part filenames, so any rewrite
    changes the signature even within mtime granularity."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        sig = []
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next()
            sig.append(
                (
                    f.getPath().toString(),
                    f.getLen(),
                    f.getModificationTime(),
                )
            )
        return tuple(sorted(sig))
    except Exception:
        return None


def _assign_via_broadcast(
    v: DataFrame,
    cent: DataFrame,
    vec_col: str = "embedding",
    carry: tuple = (),
    metric: str = "cosine",
) -> DataFrame:
    """(vec_id, <vec_col>, nrm, *carry, centroid_id, c_sim): the one
    nearest-centroid kernel — every IVF/IVFPQ build, append and inline
    probe twin assigns ``v`` (``(vec_id, <vec_col>, nrm, *carry)``)
    through it against ``cent`` (``(centroid_id, c_emb, c_nrm)``).
    ``c_sim`` is the winning score under ``metric`` (:func:`_metric_score`
    — cosine by default, higher-is-better for all three), the
    quantization-quality signal the ``_stats`` drift ledger aggregates;
    ties break to the lowest centroid_id.  ``carry`` names metadata
    columns of ``v`` that ride through unchanged (the filtered-search
    payload an index stores next to each vector), so a delta assigns
    bit-identically to how the seed corpus did.

    The centroids reach every task as ONE broadcast row of sorted
    structs, and the argmin is an inline ``array_min`` projection over
    it: the corpus is never joined to a centroid-sized side, regrouped,
    or exchanged (broadcast nested-loop against a one-row build side).
    The codegen source is small and constant whatever k x dim is — a
    rendered centroid literal embeds every double into the expression
    tree and re-paid Janino codegen on each fresh plan.  The per-pair
    arithmetic is the column form's (zip_with CAST products summed in
    element order; cosine divides by nrm * c_nrm), so values match
    :func:`_metric_score` bit for bit.  Zero-norm vectors score NULL
    under cosine and their assignment is unspecified — gate them out
    with :func:`embedding_stats` before indexing.

    An empty ``cent`` fails the job (``raise_error`` on the build side)
    instead of assigning NULL centroid ids.
    """
    dot = (
        f"aggregate(zip_with({vec_col}, e.emb, (x, y) ->"
        f" CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    if metric == "cosine":
        score = f"{dot} / (nrm * e.cnrm)"
    elif metric == "ip":
        score = dot
    elif metric == "l2":
        score = (
            f"-aggregate(zip_with({vec_col}, e.emb, (x, y) ->"
            f" (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    else:
        raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")
    cents = cent.agg(
        F.expr(
            "array_sort(collect_list(struct(centroid_id AS cid,"
            " c_emb AS emb, c_nrm AS cnrm))) AS __cents"
        )
    ).select(
        F.expr(
            "if(size(__cents) > 0, __cents,"
            " raise_error('centroid frame is empty')) AS __cents"
        )
    )
    # min (negated score, cid) == max score with ties to the LOWEST
    # centroid_id.  `_best` gets its own projection: the struct feeds
    # two outputs, and CollapseProject leaves non-cheap aliases
    # uncollapsed, so the k x dim argmin evaluates once per row
    # (plan-asserted)
    best = F.expr(
        f"array_min(transform(__cents, e ->"
        f" struct(-({score}) AS negs, e.cid AS cid)))"
    )
    return (
        v.join(F.broadcast(cents), how="cross")
        .select("vec_id", vec_col, "nrm", *carry, best.alias("_best"))
        .select(
            "vec_id",
            vec_col,
            "nrm",
            *carry,
            F.col("_best.cid").alias("centroid_id"),
            (-F.col("_best.negs")).alias("c_sim"),
        )
    )


def _write_index_aux(
    spark: SparkSession,
    name: str,
    path: str | None,
    n_vecs: int,
    mean_sim: float | None,
) -> None:
    """Write the append-lifecycle bookkeeping pair next to an embedding
    index (same protocol as ``dedup.build_minhash_index``'s triple):

    - ``<name>_batches`` — applied-batch replay log, reset EMPTY on
      every (re)build so stale ids never silently skip appends;
    - ``<name>_stats`` — the drift ledger: one row per build/append
      with the batch's vector count and mean assignment cosine
      (batch_id −1 = the seed build).  :func:`ivf_index_drift` compares
      seed vs appended quality to decide when a retrain pays.

    Pending ``<name>_tombstones`` (see :func:`delete_from_index`) are
    dropped too: a rebuild defines a new index generation, and the
    retrains subtract tombstones from their corpus snapshot BEFORE
    rebuilding — so the logical deletes became physical, and keeping
    the set would wrongly hide any same-id vector a caller seeds the
    new generation with.
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        drop_tombstones,
    )

    drop_tombstones(spark, name)
    # the out-of-order takedown set is generation-scoped too: a delete
    # issued against the old generation does not reach into the new one
    drop_tombstones(spark, name, suffix="_deferred")
    logw = spark.createDataFrame([], "batch_id BIGINT").write.mode(
        "overwrite"
    ).format("parquet")
    if path is not None:
        logw = logw.option("path", f"{path}/{name}_batches")
    else:
        clear_orphaned_table(spark, f"{name}_batches")
    logw.saveAsTable(f"{name}_batches")
    sw = local_df(
        spark,
        [(-1, n_vecs, mean_sim)],
        "batch_id BIGINT, n_vecs BIGINT, mean_sim DOUBLE",
    ).write.mode("overwrite").format("parquet")
    if path is not None:
        sw = sw.option("path", f"{path}/{name}_stats")
    else:
        clear_orphaned_table(spark, f"{name}_stats")
    sw.saveAsTable(f"{name}_stats")
    # a rebuild defines a new generation for the quantization ledger
    # too: drop any stale _qstats so an IVF rebuild over a former
    # PQ-family name can't serve the old family's budget verdict.  The
    # PQ-family builders write a fresh one right after this call.
    spark.sql(f"DROP TABLE IF EXISTS {name}_qstats")


#: Budget-verdict floor for the PQ families' seed self-similarity
#: (``<name>_qstats``): below this, `maintenance.index_info` flags the
#: index ``budget_limited`` — the codes cannot describe the corpus'
#: (residual) structure and recall is capped by the entry budget, not
#: by drift or nprobe.  Calibrated against the measured recall-vs-
#: budget curves on the clustered x10/x100 corpora (tools/soak.py
#: --budget-curve; tables in SCALING.md): self-sim tracks recall@5
#: monotonically within a geometry, the legacy 80-entry default sits
#: at ~0.72 with recall@5 ≈ 0.03 (flagged), and the r13 default
#: (PQ_ENTRY_TARGET) sits at ~0.82 with ~3x that recall at the same
#: rerank — above the line, rotation's relative gain shrinks and
#: rerank depth becomes the cheaper remedy.  Self-sim is measured
#: scale-INVARIANT (x10 vs x100 within ±0.01 at every budget), which
#: is what makes one floor serviceable; 0.78 leaves margin so the
#: default configuration (0.81-0.82 measured) never flaps across
#: geometry wobble.  Tiny (fixture-scale) corpora quantize coarsely
#: by construction and will often flag; the verdict's advice —
#: rebuild with more entries — is still the correct remedy there.
PQ_BUDGET_SELF_SIM_FLOOR = 0.78

#: Per-KIND budget floors (r14, the r13 ADVICE): the 0.78 floor above
#: is calibrated on IVFPQ *residual* self-sim; flat PQ's ``kind="adc"``
#: statistic is the FULL-VECTOR reconstruction cosine, a differently-
#: distributed (much higher-running) number — applying the residual
#: floor to it would never flag.  Calibrated from the flat-tier
#: budget sweep (tools/soak.py --budget-curve --budget-tier pq on the
#: clustered x10 corpus; table in SCALING.md): ADC self-sim tracks
#: recall@5 monotonically — 80 entries reads 0.9393 (recall 0.116 at
#: rerank=20, budget-capped), 160 → 0.9479 (0.243), the 320-entry
#: default → 0.9564 (0.356), 640 → 0.9644 (0.453).  0.95 puts the
#: legacy default under the floor by ~0.011 and the current default
#: above it by ~0.006 — margins are tighter than the residual floor's
#: in absolute terms because the full-vector statistic compresses
#: near 1; in recall terms the gap spans a 3x difference.  The x100
#: spot-check (mult 1 and 4, same sweep) confirms scale-invariance
#: within ±0.01, same as the residual statistic.
PQ_BUDGET_SELF_SIM_FLOOR_BY_KIND = {
    "residual": PQ_BUDGET_SELF_SIM_FLOOR,
    "adc": 0.95,
}


def pq_budget_floor(kind: str) -> float:
    """The ``budget_limited`` self-sim floor for a ``_qstats`` kind —
    per-kind because residual and full-vector cosines are different
    statistics (see :data:`PQ_BUDGET_SELF_SIM_FLOOR_BY_KIND`).
    Unknown kinds fall back to the residual floor."""
    return PQ_BUDGET_SELF_SIM_FLOOR_BY_KIND.get(
        kind, PQ_BUDGET_SELF_SIM_FLOOR
    )


#: Tier-verdict floors (r15, the r14 verdict's last programmatic-
#: guidance gap): the composed-remedy grid (SCALING.md, r14) proved
#: that on CLUSTERED geometry at >=x100 scale NO IVFPQ composition of
#: budget x rerank x nprobe escapes recall@5 ~ 0.27 while the flat
#: tier reads 0.44-0.58 at the same probe walls — the mechanism being
#: that a high nearest-centroid cosine makes the coarse term a
#: per-list constant, so ranking rides entirely on small-norm
#: residuals where quantization noise is relatively larger.  That
#: mechanism's signature is visible in two numbers every IVFPQ build
#: already persists: the mean ROUTING cosine (geometry: measured 0.932
#: clustered vs 0.396 uniform on the x1 fixture, intra-cluster cosine
#: ~0.7-0.9 by the fixture's own construction; r16: recorded
#: metric-independently as ``_qstats.routing_cos``) and the live
#: corpus size.  The scale boundary is a MEASURED BRACKET (r16,
#: replacing the r15 log-interpolation at 100_000): the maximal
#: 640-entry x rerank-200 composition reads 0.704 at 20k/x10
#: (ESCAPES — budget x depth still buys usable recall, tier choice
#: not forced), 0.388 at 60k/x30 (capped under the 0.4 usable bar
#: while flat-PQ reads 0.668 at the same depth, 0.495 at the law
#: depth 78), 0.269 at 200k/x100 (nprobe 27 included).  0.75 splits
#: the geometry gap with wide margin on both sides; 40_000 sits
#: log-scale between the measured clearing (20k) and binding (60k)
#: cells, conservative toward the binding side.
TIER_ROUTING_CONCENTRATION_FLOOR = 0.75
TIER_SCALE_FLOOR = 40_000


def tier_limited(
    kind: str,
    routing_mean_sim: float | None,
    live_n: int | None,
) -> bool:
    """True when the ADC tier's measured recall ceiling binds — the
    one verdict ``budget_limited`` (codes) and ``rerank_hint``
    (shortlist) cannot express, because at clustered geometry and
    >=x100 scale NO spend on either lever (nor nprobe) escapes it;
    only TIER CHOICE does (SCALING.md composed-remedy grid, r14).

    Pure and monotone by construction (pinned in tests/test_qstats.py):
    never fires for the flat kinds (``adc`` IS the escape tier), and
    fires iff routing concentration and live corpus size both clear
    their measured floors.  ``None`` for either statistic (no drift
    ledger / unknown corpus) stays silent — a missing measurement is
    not evidence of the ceiling."""
    return (
        kind == "residual"
        and routing_mean_sim is not None
        and live_n is not None
        and routing_mean_sim >= TIER_ROUTING_CONCENTRATION_FLOOR
        and live_n >= TIER_SCALE_FLOOR
    )


def _write_index_qstats(
    spark: SparkSession,
    name: str,
    path: str | None,
    n_vecs: int,
    self_sim: float | None,
    n_entries: int,
    rotated: bool,
    kind: str,
    routing_cos: float | None = None,
) -> None:
    """Write the PQ families' one-row ``<name>_qstats`` quantization
    ledger (r13): the seed build's mean ADC self-similarity in the
    space the codes live in (``kind="adc"`` = full-vector for flat PQ,
    ``"residual"`` = post-routing for IVFPQ), the per-subspace entry
    budget, and whether a rotation was applied.  This is the one
    number that tells an operator their recall ceiling is the CODE
    BUDGET (rebuild bigger / rotate) rather than drift (retrain) or
    routing (raise nprobe) — surfaced as ``index_info()["quantization"]
    ["budget_limited"]`` against :data:`PQ_BUDGET_SELF_SIM_FLOOR`.

    Seed-only by design: the codebooks are frozen between retrains, so
    codebook FITNESS doesn't move on appends — appended-data fit is the
    ``_stats`` drift ledger's job.  Rewritten by every (re)build;
    model-sized (one row).

    ``routing_cos`` (r16): the seed's mean nearest-centroid COSINE —
    the tier verdict's geometry statistic, recorded here under EVERY
    serving metric (an l2/ip ``_stats`` ledger is data-scaled, so the
    verdict previously had to stay silent off-cosine).  None for the
    flat family (no routing tier) and for pre-r16 rows (readers treat
    an absent column the same)."""
    qs = local_df(
        spark,
        [(
            int(n_vecs),
            float(self_sim) if self_sim is not None else None,
            int(n_entries),
            int(PQ_M),
            bool(rotated),
            kind,
            float(routing_cos) if routing_cos is not None else None,
        )],
        "n_vecs BIGINT, self_sim DOUBLE, n_entries INT, m INT,"
        " rotated BOOLEAN, kind STRING, routing_cos DOUBLE",
    ).coalesce(1).write.mode("overwrite").format("parquet")
    if path is not None:
        qs = qs.option("path", f"{path}/{name}_qstats")
    else:
        clear_orphaned_table(spark, f"{name}_qstats")
    qs.saveAsTable(f"{name}_qstats")


def _bucket_aligned(spark: SparkSession, df: DataFrame, table: str, *keys):
    """Repartition a DELTA onto ``table``'s exact bucket hash before an
    ``insertInto``, so the append writes ONE file per non-empty bucket
    instead of one per (shuffle partition x touched bucket).  Measured
    in the mixed-lifecycle soak: a 320-row append was writing ~260
    files (32 partitions each holding rows of ~8 buckets); aligned, it
    writes ≤ n_buckets.  Correct alignment needs the SAME partition
    count as the bucket count — `HashPartitioning(n_buckets, keys)` is
    exactly the bucketing function, so partition i holds precisely
    bucket i.  Cost: one delta-sized shuffle (micro-batch scale by the
    append contract), bought back many times over in probe listing /
    compaction pressure."""
    detail = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    raw = next((r.data_type for r in detail if r.col_name == "Num Buckets"), None)
    if raw is None:
        return df
    return df.repartition(int(raw), *[F.col(k) for k in keys])


def _refresh_index_relations(spark: SparkSession, name: str, *suffixes) -> None:
    """Invalidate this session's cached relations for an index's tables
    before reading them.  Spark's relation cache is PER SESSION, and a
    standing index is mutated from several: an ingest stream's cloned
    session compacts (files move), a driver session retrains (files
    move AND the centroid schema can change — learned means are
    doubles where modulus centroids were corpus floats).  Without the
    refresh, the next cross-session read fails with FILE_NOT_EXIST or
    PARQUET_COLUMN_DATA_TYPE_MISMATCH — both surfaced by the
    mixed-lifecycle soak (tools/soak.py --mixed-stream).  Cost per
    call: a catalog invalidation + one directory re-listing on next
    read, noise next to the query itself."""
    for suf in suffixes:
        t = f"{name}{suf}"
        if spark.catalog.tableExists(t):
            spark.catalog.refreshTable(t)


def _batch_applied(spark: SparkSession, name: str, batch_id: int) -> bool:
    log = f"{name}_batches"
    return (
        spark.catalog.tableExists(log)
        and spark.table(log).filter(F.col("batch_id") == batch_id).count() > 0
    )


def _reject_tombstoned_delta(
    spark: SparkSession, name: str, delta: DataFrame
) -> None:
    """Fail fast on the one append the lifecycle contract excludes:
    a vec_id that was :func:`delete_from_index`-tombstoned and is now
    being re-appended.  Probes anti-join the PENDING tombstone set by
    vec_id, so the re-appended row would be silently invisible until
    the next compaction folds the set — a hidden-write trap worth a
    hard error over.  (Re-appending after the fold is equally outside
    the contract — appends assume globally-new ids — but is no longer
    detectable here; the guard closes the silent window.)  Cost: only
    when deletes are pending, one broadcast semi-join count against a
    delta-sized frame."""
    tombs = _tombstone_ids(spark, name)
    if tombs is None:
        return
    n = delta.select("vec_id").join(
        F.broadcast(tombs), "vec_id", "left_semi"
    ).count()
    if n:
        raise ValueError(
            f"append to index '{name}' contains {n} vec_id(s) with "
            "PENDING tombstones: probes would silently hide these rows "
            "until the next compaction. Appends assume globally-new "
            "ids; rebuild the index (fresh generation) to reuse ids."
        )


def _append_index_bookkeeping(
    spark: SparkSession,
    name: str,
    assigned: DataFrame,
    batch_id: int | None,
    recovering: bool = False,
) -> None:
    """Append the delta's drift-ledger row (+ replay-log row when
    ``batch_id`` given).  ``assigned`` carries ``c_sim``; the stats agg
    is one map-side-partial pass over the (cached, delta-sized)
    assignment frame — two scalar rows, never the delta itself, reach
    the tables.  ``recovering`` (r14, the intent protocol): a replay of
    a crashed attempt skips the stats row if the prior attempt already
    landed it (the replay-log row can never pre-exist here — its
    absence is what admitted the replay)."""
    if recovering and batch_id is not None and (
        spark.table(f"{name}_stats")
        .filter(F.col("batch_id") == batch_id)
        .limit(1)
        .count()
    ):
        pass
    else:
        stats = assigned.agg(
            F.count("*").alias("n"), F.avg("c_sim").alias("s")
        ).collect()[0]
        # unguarded (batch-API) appends record a NULL batch_id — still
        # an "appended" row to the drift ledger, distinct from the −1
        # seed
        local_df(
            spark,
            [(batch_id, stats["n"], stats["s"])],
            "batch_id BIGINT, n_vecs BIGINT, mean_sim DOUBLE",
        ).write.mode("append").insertInto(f"{name}_stats")
    if batch_id is not None:
        local_df(spark, [(batch_id,)], "batch_id BIGINT").write.mode(
            "append"
        ).insertInto(f"{name}_batches")


def _intent_path(spark: SparkSession, name: str, batch_id: int):
    """(fs, jvm-Path) of the hidden per-batch append-intent marker —
    an underscore-prefixed empty file inside the ``<name>_batches``
    table directory (parquet readers ignore ``_``/``.`` names, and the
    replay log is part of every index family's triple, external builds
    included, so the marker lives and dies with the index)."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        _hadoop_fs,
        _table_location,
    )

    if not spark.catalog.tableExists(f"{name}_batches"):
        # no replay log, no replay story: the guard degrades to the
        # plain pre-r14 behavior (same tolerance as _batch_applied)
        return None, None
    loc = _table_location(spark, f"{name}_batches")
    if loc is None:
        return None, None
    p = f"{loc}/_append_intent_{batch_id}"
    fs, jvm = _hadoop_fs(spark, p)
    return fs, jvm.org.apache.hadoop.fs.Path(p)


def _begin_guarded_append(
    spark: SparkSession, name: str, batch_id: int | None
) -> bool:
    """Open the per-batch append INTENT (r14): called after the
    ``_batches`` replay guard admits the batch and before the first
    data mutation.  Creates the hidden marker and returns False on a
    first delivery; returns True — recovery mode — when the marker
    already exists, i.e. a prior attempt crashed somewhere between its
    first data mutation and its replay-log row.

    This closes the window the plain guard left open (caught by the
    r14 crash sweep): the data inserts and the log row are separate
    non-atomic mutations, so a kill between them made the replay
    re-append rows that had already landed — duplicate list members,
    double-counted membership.  In recovery mode the append verbs
    re-check each corpus table for the delta (each ``insertInto`` is
    all-or-nothing under Spark's job-commit protocol — partial files
    never commit, the same granularity assumption as the rest of the
    crash sweep) and skip the ones that already hold it, making replay
    exactly-once per table.  Hot-path cost: one marker create here and
    one delete in :func:`_finish_guarded_append` — two filesystem ops
    per guarded append, zero extra jobs."""
    if batch_id is None:
        return False
    fs, p = _intent_path(spark, name, batch_id)
    if fs is None:
        return False
    if fs.exists(p):
        return True
    fs.create(p, True).close()
    return False


def _finish_guarded_append(
    spark: SparkSession, name: str, batch_id: int | None
) -> None:
    """Retire the append intent once the replay-log row has landed —
    from here a replay is rejected by the ``_batches`` guard itself,
    and any marker left by a crash after the log row is debris (cleared
    by the guard's no-op path)."""
    if batch_id is None:
        return
    fs, p = _intent_path(spark, name, batch_id)
    if fs is not None and fs.exists(p):
        fs.delete(p, False)


def _delta_missing_from(
    spark: SparkSession, table: str, ids: DataFrame, id_col: str = "vec_id"
) -> bool:
    """True when ANY of the delta's ids is absent from ``table`` — the
    per-table resume probe of the intent protocol (recovery path only,
    never the hot path): broadcast semi-join, distinct-count vs the
    delta's own distinct count.  ``id_col`` is ``vec_id`` for the
    vector families, ``doc_id`` for the text indexes (the streaming
    pipelines share the protocol).

    ALL-present, not ANY-present (r14 ADVICE): each guarded insert is
    all-or-nothing under Spark's job-commit protocol, so a landed
    crashed insert means every delta id is in the table.  An
    ANY-present probe would mistake a delta that merely OVERLAPS
    pre-batch live ids (re-ingest without tombstone) for "landed" and
    silently drop the genuinely-new rows — the hot path makes no
    membership assumption, and recovery must not either.  The one
    remaining divergence is benign and deliberate: a delta consisting
    ENTIRELY of already-live ids is skipped on replay (first delivery
    would have appended duplicate rows for rows the table already
    serves).

    NULL ids are excluded from the comparison (r15 ADVICE): a NULL can
    never match the semi-join, so counting it on the delta side would
    make the probe read "missing" FOREVER — every replay of a landed
    crashed insert would re-append the batch, duplicating rows.  A
    NULL id row is not addressable by any id-keyed verb (tombstones,
    probes, compaction) regardless, so it cannot gate resume."""
    spark.catalog.refreshTable(table)
    delta = ids.select(id_col).where(F.col(id_col).isNotNull()).distinct()
    present = (
        spark.table(table)
        .join(F.broadcast(delta), id_col, "left_semi")
        .select(id_col)
        .distinct()
        .count()
    )
    return present < delta.count()


def build_ivf_index(
    spark: SparkSession,
    vectors: DataFrame,
    name: str,
    centroid_modulus: int | None = None,
    n_buckets: int = 32,
    path: str | None = None,
    centroids: DataFrame | None = None,
    carry: tuple = (),
    metric: str = "cosine",
) -> None:
    """Materialize the IVF search structure of ``vectors`` (any
    ``(vec_id, embedding)`` DataFrame) as persisted tables — the vector
    counterpart of ``dedup.build_minhash_index``: at corpus scale the
    assignment pass (|corpus| x |centroids| scoring) runs ONCE here,
    not per query.  Pass ``centroids`` (``(centroid_id, c_emb)``, e.g.
    from :func:`kmeans_centroids`) to build over learned centroids
    instead of the modulus subset.

    - ``<name>_lists`` (vec_id, centroid_id, embedding, nrm), bucketed
      + sorted by centroid_id — the inverted lists; probes join on
      centroid_id and the corpus side reads through its bucketing with
      no Exchange;
    - ``<name>_centroids`` (centroid_id, c_emb, c_nrm) — tiny, one
      file, broadcast at probe time.

    ``metric`` ("cosine" default, "l2", "ip") fixes the index's
    SERVING metric: list assignment here, every
    :func:`append_to_ivf_index` delta, and every
    :func:`ann_ivf_probe` routing/ranking all score with it
    (:func:`_metric_score` — L2 stored negated so one higher-is-better
    convention serves assignment, ranking, and the drift ledger).  The
    metric rides as a column on the centroids table, so probes,
    appends, and a re-registered session resolve it without the caller
    repeating it.  Train learned centroids to match (``kmeans_centroids
    (metric="l2")`` for an L2 index; inner-product serving typically
    trains spherical/cosine).

    Centroids are the deterministic modulus subset (parity with
    :func:`ann_ivf_topk`; ``centroid_modulus=None`` selects the same
    adaptive :func:`_effective_modulus`, keeping the build pass linear
    in the corpus); swap in learned centroids by overwriting
    ``<name>_centroids`` — the probe path only needs the two tables.

    ``carry`` names metadata columns of ``vectors`` (e.g. a label /
    language / license tag) stored IN the list rows — what makes
    :func:`ann_ivf_probe`'s ``member_filter`` a pushed-down scan
    predicate instead of a join (the production filtered-search
    layout: metadata lives next to the vector, the way a vector DB
    stores filterable attributes inline).  Appends pick the carry set
    up from the table schema automatically.
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name, path)
    # persisted for the build: the nrm HOF would otherwise re-inline
    # into every per-centroid lambda of the argmin assignment
    # (see build_ivfpq_index's quantize note — measured 25x re-eval)
    v = vectors.select(
        "vec_id", "embedding", _norm("embedding").alias("nrm"), *carry
    ).persist()
    if centroids is not None:
        cent = centroids.select(
            "centroid_id", "c_emb", _norm("c_emb").alias("c_nrm")
        )
    else:
        if centroid_modulus is None:
            centroid_modulus = _effective_modulus(v.count())
        cent = v.filter(F.col("vec_id") % centroid_modulus == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    from pyspark.sql import Observation

    # seed drift-ledger stats ride the WRITE job itself (observe on the
    # assignment frame — the saveAsTable action populates the metrics),
    # so the build pays zero extra passes for the ledger baseline
    obs = Observation()
    assigned = (
        _assign_via_broadcast(v, cent, carry=carry, metric=metric)
        .observe(obs, F.count("*").alias("n"), F.avg("c_sim").alias("s"))
        .select("vec_id", "embedding", "nrm", *carry, "centroid_id")
    )
    # pre-shuffle onto the exact bucket hash: without it every write
    # task emits one file per bucket it holds rows for (32 tasks x 32
    # buckets ~ 1024 files per table) and the write commit dominates
    # the build wall; aligned, the write is one file per bucket
    writer = (
        assigned.repartition(n_buckets, F.col("centroid_id"))
        .write.bucketBy(n_buckets, "centroid_id")
        .sortBy("centroid_id")
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", f"{path}/{name}_lists")
    else:
        # a warehouse dir orphaned by a previous session (catalog entry
        # gone) would fail the overwrite with LOCATION_ALREADY_EXISTS
        clear_orphaned_table(spark, f"{name}_lists")
    writer.saveAsTable(f"{name}_lists")
    # the serving metric is an INDEX property (appends must assign,
    # and probes route/rank, the same way the build did) — stored on
    # the centroids rows so register_index carries it across sessions
    # for free; absent column (pre-metric indexes) reads as cosine
    if metric != "cosine":
        cent = cent.withColumn("metric", F.lit(metric))
    cw = cent.coalesce(1).write.mode("overwrite").format("parquet")
    if path is not None:
        cw = cw.option("path", f"{path}/{name}_centroids")
    else:
        clear_orphaned_table(spark, f"{name}_centroids")
    cw.saveAsTable(f"{name}_centroids")
    seed = obs.get
    _write_index_aux(spark, name, path, seed["n"], seed["s"])
    if path is not None:
        # EXTERNAL index: persist the bucket count so register_index
        # can resurrect the catalog entries in a fresh session
        from hadoop_logfile_inputformat_spark.operators.maintenance import (
            write_index_spec,
        )

        write_index_spec(spark, name, path, "ivf", n_buckets)
    v.unpersist(blocking=False)


def _index_metric(spark: SparkSession, name: str) -> str:
    """The serving metric an IVF index was built with — read from the
    ``metric`` column :func:`build_ivf_index` stores on the (tiny)
    centroids table; absent column (every pre-metric or cosine index)
    means cosine.  One-row read of a one-file table."""
    cent = spark.table(f"{name}_centroids")
    if "metric" in cent.columns:
        return cent.select("metric").first()["metric"]
    return "cosine"


def _pq_index_metric(spark: SparkSession, name: str) -> str:
    """The serving metric a FLAT-PQ index was built with (r16) — read
    from the ``metric`` column :func:`build_pq_index` stores on the
    (tiny) codebooks table; absent column (every pre-r16 or cosine
    index) means cosine.  The flat family has no centroids table, so
    the codebooks play :func:`_index_metric`'s role."""
    cb = spark.table(f"{name}_codebooks")
    if "metric" in cb.columns:
        return cb.select("metric").first()["metric"]
    return "cosine"


#: Serving-metric reads memoized per index GENERATION (r16): the metric
#: is immutable between rebuilds, but resolving it costs a 1-row Spark
#: job on the hot probe path — the same cost class _read_rotation_cached
#: exists for.  Keyed on the metric table's file signature, so a
#: retrain (new files) naturally invalidates.  Dedicated store, not
#: _ASSIGN_RENDER_CACHE, so probe-loop eviction there never re-reads it.
_METRIC_CACHE: "OrderedDict[tuple, str]" = OrderedDict()
_METRIC_CACHE_MAX = 64


def _serving_metric_cached(
    spark: SparkSession, name: str, flat: bool = False
) -> str:
    t = f"{name}_codebooks" if flat else f"{name}_centroids"
    sig = _table_files_key(spark, t)
    read = _pq_index_metric if flat else _index_metric
    if sig is None:
        return read(spark, name)
    key = (spark.sparkContext.applicationId, t, sig)
    if key in _METRIC_CACHE:
        return _METRIC_CACHE[key]
    m = read(spark, name)
    _METRIC_CACHE[key] = m
    while len(_METRIC_CACHE) > _METRIC_CACHE_MAX:
        _METRIC_CACHE.popitem(last=False)
    return m


def ann_ivf_probe(
    spark: SparkSession,
    queries: DataFrame,
    name: str,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    exclude_ids: DataFrame | None = None,
    member_filter=None,
    metric: str | None = None,
) -> DataFrame:
    """Search a persisted :func:`build_ivf_index`: each query ranks
    only the vectors of its ``nprobe`` nearest centroids.

    ``queries`` is any ``(query_id, embedding)`` DataFrame.  Per call
    the work is |queries| x |centroids| scoring (centroids broadcast)
    plus one centroid_id join that reads the inverted lists through
    their bucketing — no index-side shuffle, no corpus rescan.  No
    explicit broadcast hint on the probe side: AQE broadcasts it when
    small, and at scale the join degrades to sort-merge that still
    consumes the bucketing (plan-asserted in tests).

    ``exclude_ids`` (a ``(vec_id)`` DataFrame, broadcast) drops those
    index members from the candidate set BEFORE ranking — the hook
    ``streaming.embedding_index_stream_batch`` uses so a replayed
    micro-batch (whose own vectors already landed in the lists) ranks
    against exactly the pre-batch corpus and reproduces its original
    match set.

    ``member_filter`` (a SQL string or Column over the list rows,
    e.g. ``"label = 7"`` against a column the build ``carry``-stored)
    is PRE-filter semantics: candidates are restricted BEFORE ranking,
    so the top-k comes entirely from the filtered subset — a
    post-filter (rank then drop) would return < k rows whenever the
    filter is selective.  Because the metadata lives in the list rows,
    the predicate is a pushed-down parquet scan filter on the bucketed
    lists — no join, no shuffle, and scan cost SHRINKS with
    selectivity (plan-asserted in tests).  The probed-lists coverage
    caveat is the same as unfiltered IVF: recall comes from ``nprobe``
    lists, filtered or not.

    ``metric`` defaults to the INDEX's own serving metric (what the
    build assigned lists with — :func:`_index_metric`); pass
    "cosine"/"l2"/"ip" to override ranking only.  ``sim`` is always
    higher-is-better (L2 reported as the NEGATED squared distance), so
    rank 1 is the nearest neighbor under every metric.  Routing and
    ranking share the metric — probing an index whose lists were
    assigned under a different metric costs recall, not correctness
    (the recall gate in tests measures both).
    """
    _refresh_index_relations(spark, name, "_centroids", "_lists")
    cent = spark.table(f"{name}_centroids")
    if metric is None:
        metric = _serving_metric_cached(spark, name)
    q = queries.select(
        F.col("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_nrm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), F.asc("centroid_id")
    )
    probes = (
        q.join(F.broadcast(cent), how="cross")
        .select(
            "query_id", "q_emb", "q_nrm", "centroid_id",
            _metric_score(metric, "c_emb", "c_nrm", "q_emb", "q_nrm").alias(
                "c_sim"
            ),
        )
        .withColumn("p", F.row_number().over(probe_w))
        .filter(F.col("p") <= nprobe)
        .drop("p", "c_sim")
    )
    lists = spark.table(f"{name}_lists")
    if member_filter is not None:
        lists = lists.filter(member_filter)
    if exclude_ids is not None:
        lists = lists.join(
            F.broadcast(exclude_ids.select("vec_id")), "vec_id", "left_anti"
        )
    tombs = _tombstone_ids(spark, name)
    if tombs is not None:
        lists = lists.join(F.broadcast(tombs), "vec_id", "left_anti")
    score = _metric_score(metric, "embedding", "nrm", "q_emb", "q_nrm")
    # cosine keeps round(,4): frozen precedent the gated
    # ann_ivf_incremental/deleted oracles hash.  l2/ip round via the
    # portable floor-half-up so the full-coverage probe stays BIT-equal
    # to the oracled l2_topk/ip_topk members (r12, see _round4_portable)
    sim = F.round(score, 4) if metric == "cosine" else _round4_portable(score)
    hits = (
        probes.join(lists, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ann_ivf_topk_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
    nprobe: int = IVF_NPROBE,
    n_centroids: int | None = None,
    iters: int = 3,
    name: str | None = None,
    materialize: str = "localCheckpoint",
) -> DataFrame:
    """End-to-end LEARNED-centroid IVF: k-means training pass →
    persisted index build → bucketed probe — the full lifecycle a
    production vector pipeline runs (train once, probe forever),
    composed from :func:`kmeans_centroids`, :func:`build_ivf_index`
    and :func:`ann_ivf_probe`.

    ``n_centroids`` defaults to the modulus family's centroid count
    (``|corpus| / IVF_CENTROID_MODULUS``) so recall comparisons against
    :func:`ann_ivf_topk` hold the centroid budget constant; the learned
    centroids then buy equal-or-better quantization — asserted
    ``recall ≥ modulus baseline`` in tests/test_operators.py.

    Warehouse hygiene: with no ``name`` the index tables get an
    invocation-unique name and are DROPPED before returning.  The probe
    result is materialized DISTRIBUTED first (eager
    ``localCheckpoint``: each executor pins its own partitions, so the
    returned frame no longer reads the dropped tables) — never
    collected: |queries| = |corpus| / query_modulus grows linearly
    with the corpus, so a driver collect here would be an O(N) driver
    OOM at the 100 TB shape this operator documents.  Two
    concurrent sessions benching the same ``sf_dir`` therefore cannot
    clobber each other's ``_lists``/``_centroids`` mid-probe, and a
    bench loop leaves no managed tables behind.  localCheckpoint is
    NOT fault-tolerant (see :func:`_materialize_ephemeral`): on a
    real cluster with dynamic allocation pass
    ``materialize="table"`` to land the result in a durable
    ``<name>_result`` table instead.  Pass an explicit ``name`` to
    KEEP the persisted index under that name (the
    train-once-probe-forever deployment: reuse it via
    :func:`ann_ivf_probe`) — the caller then owns the tables' cleanup.

    Not oracle-expressible: Lloyd's iterations are driver-coordinated
    (k×dim means collected per pass — bounded, never the corpus), so
    this is a bench ``LIBRARY_ONLY`` entry per the repo rules, while
    the modulus family stays the registry's portable binding.
    """
    import uuid

    v = _vectors(spark, sf_dir)
    if n_centroids is None:
        n = cached_count(spark, sf_dir, "embeddings")
        n_centroids = max(2, n // _effective_modulus(n))
    t0 = time.monotonic()
    cents = kmeans_centroids(
        v.select("vec_id", "embedding"),
        k=n_centroids,
        iters=iters,
        metric="cosine",
    )
    t1 = time.monotonic()
    ephemeral = name is None
    if ephemeral:
        name = "ivf_kmeans_" + uuid.uuid4().hex[:12]
    build_ivf_index(spark, v.select("vec_id", "embedding"), name, centroids=cents)
    t2 = time.monotonic()
    queries = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_ivf_probe(spark, queries, name, k=k, nprobe=nprobe)
    if not ephemeral:
        LIFECYCLE_PHASES["ann_ivf_topk_kmeans"] = {
            "t": t1 - t0, "b": t2 - t1,  # probe is lazy when kept
        }
        return out
    # Distributed materialization: block-manager-pinned partitions on
    # the executors (NOT a driver collect — |queries| x k is O(N) in
    # the corpus), so the frame is independent of the index tables
    # before they are dropped.  materialize="table" is the
    # fault-tolerant variant for cluster use (_materialize_ephemeral).
    out = _materialize_ephemeral(
        out, spark, name, materialize, result_name="ann_ivf_topk_kmeans"
    )
    LIFECYCLE_PHASES["ann_ivf_topk_kmeans"] = {
        "t": t1 - t0, "b": t2 - t1, "p": time.monotonic() - t2,
    }
    for t in (
        f"{name}_lists",
        f"{name}_centroids",
        f"{name}_batches",
        f"{name}_stats",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out


# --- incremental embedding-index lifecycle ---------------------------
#
# The refresh shape of a 100 TB vector pipeline, mirroring the text-LSH
# incremental pattern (dedup.build_minhash_index / incremental_near_dups
# / near_dup_stream): the standing corpus is assigned + encoded ONCE
# into bucketed tables; each new embedding batch (the *delta*) assigns
# itself to the EXISTING centroids/codebooks and appends through the
# tables' bucket specs.  Per refresh the work is O(delta x centroids)
# scoring plus bucketed inserts — the standing lists are never read or
# rewritten, and no retrain runs.  Centroids/codebooks are immutable
# between rebuilds; the _stats drift ledger (ivf_index_drift) says when
# appended batches quantize badly enough that a retrain pays.

#: Deterministic corpus/delta split for the oracle-checked incremental
#: twin — same split as dedup's (INCR_SPLIT_MOD/INCR_DELTA_REM): delta =
#: vec_id % 4 == 3 (25% "new embeddings"), seed corpus = the rest.
INCR_SPLIT_MOD = 4
INCR_DELTA_REM = 3
#: Query subset of the DELTA for the incremental probe: vec_id % 20 == 3
#: (20 ≡ 0 mod 4, so every such id is a delta id) — the refresh question
#: is "what does each NEW embedding match in the post-append index".
INCR_QUERY_MODULUS = 20


def _materialize_ephemeral(
    out: DataFrame,
    spark: SparkSession,
    name: str,
    materialize: str,
    result_name: str | None = None,
) -> DataFrame:
    """Materialize an ephemeral lifecycle's probe result BEFORE its
    index tables are dropped.

    ``"localCheckpoint"`` (default): eager executor-pinned blocks —
    distributed, never a driver collect — but NOT fault-tolerant:
    lineage is truncated and the source tables are deleted right
    after, so losing ANY executor afterwards makes the returned frame
    unrecoverable (Spark cannot recompute a localCheckpoint).  Right
    for local mode and for results consumed promptly.

    ``"table"``: durable managed table ``<result_name or name>_result``
    — survives executor loss and dynamic allocation, the shape a
    long-lived cluster job should use.  Ephemeral lifecycles pass a
    STABLE per-operator ``result_name`` (e.g.
    ``ann_ivfpq_topk_result``) so each run overwrites the previous
    run's table instead of leaking one undiscoverable
    ``<uuid>_result`` per invocation; the latest result stays
    readable from the catalog until the next run (or the caller drops
    it).  Concurrent runs of the SAME ephemeral operator would race on
    that one table — use explicit ``name=`` lifecycles for that.
    """
    if materialize == "table":
        t = f"{result_name or name}_result"
        clear_orphaned_table(spark, t)
        out.write.mode("overwrite").format("parquet").saveAsTable(t)
        return spark.table(t)
    if materialize != "localCheckpoint":
        raise ValueError(
            "materialize must be 'localCheckpoint' or 'table',"
            f" got {materialize!r}"
        )
    return out.localCheckpoint(eager=True)


def append_to_ivf_index(
    spark: SparkSession,
    delta_vectors: DataFrame,
    name: str,
    batch_id: int | None = None,
) -> bool:
    """Append a DELTA of new vectors (any ``(vec_id, embedding)``
    DataFrame) to a persisted :func:`build_ivf_index`: assign each to
    the EXISTING ``<name>_centroids`` (broadcast — no retrain) and
    insert into ``<name>_lists`` THROUGH its bucket spec
    (``insertInto`` applies the catalog bucketing, so the probe's
    no-index-side-shuffle property survives appends; compaction
    (``maintenance.compact_ivf_index``) bounds the file fan-in of a
    long-running append stream exactly as the LSH triple's does).

    Per append: one |delta| x |centroids| broadcast scoring pass plus
    delta-sized writes — the standing lists are never read.  The
    batch's mean assignment cosine lands in the ``<name>_stats`` drift
    ledger; :func:`ivf_index_drift` turns that into a retrain
    recommendation.

    ``batch_id`` adds the replay guard (same protocol as the LSH
    index's ``_batches`` log): an already-applied batch id is a no-op
    returning False — the contract ``streaming.embedding_index_stream``
    relies on under foreachBatch's at-least-once replay.  The guard is
    completed by the append-INTENT marker (r14,
    :func:`_begin_guarded_append`): a replay of an attempt that
    crashed between the data insert and the log row resumes per table
    instead of double-appending.
    """
    _refresh_index_relations(
        spark, name, "_centroids", "_lists", "_batches", "_stats"
    )
    if batch_id is not None and _batch_applied(spark, name, batch_id):
        _finish_guarded_append(spark, name, batch_id)  # crash debris
        return False
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name)
    recovering = _begin_guarded_append(spark, name, batch_id)
    _reject_tombstoned_delta(spark, name, delta_vectors)
    # out-of-order takedowns (delete issued before this id was ever
    # ingested) consume here: the victim rows never land; the hit
    # retires after bookkeeping (crash-safe replay keeps the intent)
    delta_vectors, _dhit = _consume_deferred(spark, name, delta_vectors)
    cent = spark.table(f"{name}_centroids")
    lists_cols = spark.table(f"{name}_lists").columns
    # metadata the seed build stored in the list rows (build's `carry`)
    # must ride every append too — recovered from the table schema so
    # callers never have to repeat the carry set
    carry = tuple(
        c for c in lists_cols
        if c not in ("vec_id", "embedding", "nrm", "centroid_id")
    )
    # input pinned (delta-sized): the nrm HOF would re-inline into
    # every per-centroid lambda of the assignment (see the builds)
    v = scoped_persist(
        delta_vectors.select(
            "vec_id", "embedding", _norm("embedding").alias("nrm"), *carry
        ),
        ("ivf_append_in", name),
    )
    # two consumers (lists insert + stats agg): scoped per index so
    # repeated refreshes hold at most one cached delta frame; the delta
    # assigns under the INDEX's serving metric, exactly as the seed did
    assigned = scoped_persist(
        _assign_via_broadcast(
            v, cent, carry=carry, metric=_index_metric(spark, name)
        ),
        ("ivf_append", name),
    )
    if not recovering or _delta_missing_from(spark, f"{name}_lists", v):
        _bucket_aligned(
            spark, assigned.select(*lists_cols), f"{name}_lists",
            "centroid_id"
        ).write.mode("append").insertInto(f"{name}_lists")
    _append_index_bookkeeping(
        spark, name, assigned, batch_id, recovering=recovering
    )
    _finish_guarded_append(spark, name, batch_id)
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        retire_deferred,
    )

    retire_deferred(spark, name, _dhit)
    return True


def append_to_ivfpq_index(
    spark: SparkSession,
    delta_vectors: DataFrame,
    name: str,
    batch_id: int | None = None,
) -> bool:
    """Append a DELTA of new vectors to a persisted
    :func:`build_ivfpq_index`: quantize, assign to the EXISTING coarse
    centroids, residual-encode against the EXISTING codebooks, and
    insert into ``<name>_codes`` / ``<name>_quantized`` through their
    bucket specs — the IVFADC twin of :func:`append_to_ivf_index`
    (same O(delta) cost shape, same ``_stats`` drift ledger and
    ``_batches`` replay guard, same compaction story via
    ``maintenance.compact_ivfpq_index``).

    Because scalar quantization uses a PER-VECTOR scale and encoding is
    a pure argmin against the broadcast codebooks, an appended vector
    gets bit-identical codes to what a full rebuild over the union
    (with the same centroids/codebooks) would give it — asserted as
    the append == rebuild round-trip in tests/test_index_append.py.
    """
    _refresh_index_relations(
        spark, name, "_centroids", "_codebooks", "_codes", "_quantized",
        "_batches", "_stats"
    )
    if batch_id is not None and _batch_applied(spark, name, batch_id):
        _finish_guarded_append(spark, name, batch_id)  # crash debris
        return False
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name)
    recovering = _begin_guarded_append(spark, name, batch_id)
    _reject_tombstoned_delta(spark, name, delta_vectors)
    # out-of-order takedowns (delete issued before this id was ever
    # ingested) consume here: the victim rows never land; the hit
    # retires after bookkeeping (crash-safe replay keeps the intent)
    delta_vectors, _dhit = _consume_deferred(spark, name, delta_vectors)
    cent = spark.table(f"{name}_centroids")
    cb = spark.table(f"{name}_codebooks")
    # metadata the seed build carry-stored in the codes rows rides
    # every append too (schema-recovered, like append_to_ivf_index)
    carry = tuple(
        c for c in spark.table(f"{name}_codes").columns
        if c not in ("vec_id", "centroid_id", "m", "code", "nrm")
    )
    # input pinned: quantize would re-inline per centroid lambda
    qv = scoped_persist(
        quantize_frame(delta_vectors, carry=carry),
        ("ivfpq_append_in", name),
    )
    # assigns under the INDEX's serving metric (r16), exactly as the
    # seed did — the append == rebuild bit-equality depends on it
    assigned = scoped_persist(
        _assign_via_broadcast(
            qv, cent, vec_col="q", carry=carry,
            metric=_index_metric(spark, name),
        ),
        ("ivfpq_append", name),
    )
    res = assigned.join(
        F.broadcast(cent.select("centroid_id", "c_emb")), "centroid_id"
    ).select(
        "vec_id",
        "centroid_id",
        "nrm",
        *carry,
        F.expr("zip_with(q, c_emb, (x, y) -> CAST(x AS DOUBLE) - y)").alias(
            "q"
        ),
    )
    # OPQ (r12): a rotated index encodes the delta's residuals in the
    # SAME stored rotation — pinned (re-inline landmine), delta-sized
    R = _read_rotation_cached(spark, name)
    if R is not None:
        res = scoped_persist(
            res.withColumn("q", F.expr(_rotate_expr("q", R))),
            ("ivfpq_append_rot", name),
        )
    codes = _pq_encode_bcast(
        res, cb, carry=("centroid_id", "nrm", *carry)
    )
    if not recovering or _delta_missing_from(spark, f"{name}_codes", qv):
        _bucket_aligned(
            spark, codes.select(*spark.table(f"{name}_codes").columns),
            f"{name}_codes", "centroid_id"
        ).write.mode("append").insertInto(f"{name}_codes")
    if not recovering or _delta_missing_from(
        spark, f"{name}_quantized", qv
    ):
        _bucket_aligned(
            spark, qv.select(*spark.table(f"{name}_quantized").columns),
            f"{name}_quantized", "vec_id"
        ).write.mode("append").insertInto(f"{name}_quantized")
    _append_index_bookkeeping(
        spark, name, assigned, batch_id, recovering=recovering
    )
    _finish_guarded_append(spark, name, batch_id)
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        retire_deferred,
    )

    retire_deferred(spark, name, _dhit)
    return True


def _pq_self_sim(codes: DataFrame, nrm_col: str = "nrm") -> DataFrame:
    """(vec_id, c_sim): per-vector ADC SELF-similarity — the cosine of
    each vector against its own PQ reconstruction, assembled entirely
    from the encode output (``code_dot``/``code_nrm2``/carried ``nrm``
    — no re-scoring pass).  This is the flat-PQ family's
    quantization-quality signal for the ``_stats`` drift ledger, the
    analogue of the IVF families' nearest-centroid cosine: appended
    data the frozen codebooks explain badly shows up as a lower mean
    self-sim.

    ``nrm_col`` names the carried true-norm column the cosine divides
    by.  Flat PQ passes the stored full-vector norm (default); the
    IVFPQ build passes the RESIDUAL norm it carried through the encode,
    turning the same identity into cosine(r, r̂) — the fine-quantization
    quality in the space the codes actually live in (r13, the
    ``_qstats`` budget signal)."""
    per = codes.groupBy("vec_id").agg(
        F.sum("code_dot").alias("rdot"),
        F.sum("code_nrm2").alias("rnrm2"),
        F.first(nrm_col).alias("nrm"),
    )
    return per.select(
        "vec_id",
        (
            F.col("rdot") / (F.col("nrm") * F.sqrt("rnrm2") + F.lit(1e-12))
        ).alias("c_sim"),
    )


def append_to_pq_index(
    spark: SparkSession,
    delta_vectors: DataFrame,
    name: str,
    batch_id: int | None = None,
) -> bool:
    """Append a DELTA of new vectors to a persisted
    :func:`build_pq_index`: quantize and encode against the EXISTING
    (frozen) codebooks, insert into ``<name>_codes`` /
    ``<name>_quantized`` through their bucket specs — the flat-PQ
    member of the append family (:func:`append_to_ivf_index` /
    :func:`append_to_ivfpq_index`), completing it: every persisted
    embedding-index tier now has the O(delta) refresh, the ``_batches``
    replay guard, the ``_stats`` drift ledger
    (mean ADC self-similarity here — :func:`_pq_self_sim`), and a
    compaction (``maintenance.compact_pq_index``).

    Per-vector quantization scale + pure-argmin encoding make an
    appended vector's codes bit-identical to a rebuild-over-the-union
    with the same codebooks (asserted in tests/test_index_append.py).
    """
    _refresh_index_relations(
        spark, name, "_codebooks", "_codes", "_quantized", "_batches",
        "_stats"
    )
    if batch_id is not None and _batch_applied(spark, name, batch_id):
        _finish_guarded_append(spark, name, batch_id)  # crash debris
        return False
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name)
    recovering = _begin_guarded_append(spark, name, batch_id)
    _reject_tombstoned_delta(spark, name, delta_vectors)
    # out-of-order takedowns (delete issued before this id was ever
    # ingested) consume here: the victim rows never land; the hit
    # retires after bookkeeping (crash-safe replay keeps the intent)
    delta_vectors, _dhit = _consume_deferred(spark, name, delta_vectors)
    cb = spark.table(f"{name}_codebooks")
    carry = tuple(
        c for c in spark.table(f"{name}_codes").columns
        if c not in ("vec_id", "m", "code", "code_nrm2", "nrm")
    )
    # input pinned: quantize would re-inline per codebook-entry lambda
    qv = scoped_persist(
        quantize_frame(delta_vectors, carry=carry),
        ("pq_append_in", name),
    )
    # OPQ (r12): a rotated index encodes its delta in the SAME stored
    # rotation (m = -1 codebook rows) — append == rebuild parity rides
    # the stored matrix, never a re-learn
    R = _read_rotation_cached(spark, name)
    enc_in = (
        qv if R is None
        else scoped_persist(
            qv.withColumn("q", F.expr(_rotate_expr("q", R))),
            ("pq_append_rot", name),
        )
    )
    codes = scoped_persist(
        _pq_encode_bcast(enc_in, cb, carry=("nrm", *carry)),
        ("pq_append", name),
    )
    if not recovering or _delta_missing_from(spark, f"{name}_codes", qv):
        _bucket_aligned(
            spark, codes.select(*spark.table(f"{name}_codes").columns),
            f"{name}_codes", "vec_id"
        ).write.mode("append").insertInto(f"{name}_codes")
    if not recovering or _delta_missing_from(
        spark, f"{name}_quantized", qv
    ):
        _bucket_aligned(
            spark, qv.select(*spark.table(f"{name}_quantized").columns),
            f"{name}_quantized", "vec_id"
        ).write.mode("append").insertInto(f"{name}_quantized")
    _append_index_bookkeeping(
        spark, name, _pq_self_sim(codes), batch_id, recovering=recovering
    )
    _finish_guarded_append(spark, name, batch_id)
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        retire_deferred,
    )

    retire_deferred(spark, name, _dhit)
    return True


def ivf_index_drift(
    spark: SparkSession, name: str, threshold: float = 0.05
) -> dict:
    """Read an index's ``<name>_stats`` drift ledger and decide whether
    appended batches quantize badly enough that a retrain/rebuild pays:
    compares the vector-weighted mean assignment cosine of the seed
    build (batch_id −1) against all appended batches.  ``drift`` =
    seed − appended mean sim; positive means new data sits farther
    from the frozen centroids than the data they were trained on —
    the distribution-shift signal.  Works for all three index families
    (IVF/IVFPQ write nearest-centroid cosine, flat PQ writes ADC
    self-similarity — same ledger schema, same comparison).

    Driver-side cost: one scan of a ledger with one row per
    build/append — bytes, not data.  The caller acts on
    ``retrain_recommended`` (e.g. ``embedding_index_stream``'s
    ``on_retrain`` hook); acting means re-running the builder over the
    compacted corpus, which also resets the ledger.

    METRIC CALIBRATION (r12): the absolute ``threshold`` default
    assumes cosine-scale ledger values in [−1, 1].  For ``metric="l2"``
    indexes the ledger stores NEGATED squared distances and for
    ``"ip"`` raw dot products — both data-dependent in magnitude, so a
    fixed 0.05 would be always-on or never-on.  For those metrics the
    verdict thresholds RELATIVE drift, ``|seed − app| / |seed|``
    (sign-checked: only worse-than-seed flags), against the same
    ``threshold`` knob — 0.05 now reads "appended batches quantize 5%
    worse than the seed did" under every metric.  The returned
    ``drift`` / ``last_batch_drift`` stay in raw ledger units;
    ``drift_relative`` / ``metric`` are also returned so callers can
    see what was compared.
    """
    # _stats is appended by other sessions (stream appends): refresh
    # so the ledger read sees the newest rows, not a cached listing
    spark.catalog.refreshTable(f"{name}_stats")
    rows = spark.table(f"{name}_stats").collect()
    # an EMPTY append batch (streams deliver those) records n_vecs=0
    # with a NULL mean_sim — weight-0 rows contribute nothing and must
    # not poison the weighted means.  A NON-empty batch can also carry
    # a NULL mean_sim: every c_sim NULL when all embeddings are
    # zero-norm (dot/(0*c_nrm) under non-ANSI Spark) — skip those rows
    # too rather than TypeError in the weighted sum
    rows = [r for r in rows if r["n_vecs"] and r["mean_sim"] is not None]
    seed_n = sum(r["n_vecs"] for r in rows if r["batch_id"] == -1)
    seed_s = sum(
        r["mean_sim"] * r["n_vecs"] for r in rows if r["batch_id"] == -1
    )
    app_n = sum(r["n_vecs"] for r in rows if r["batch_id"] != -1)
    app_s = sum(
        r["mean_sim"] * r["n_vecs"] for r in rows if r["batch_id"] != -1
    )
    seed_mean = seed_s / seed_n if seed_n else None
    app_mean = app_s / app_n if app_n else None
    drift = (
        seed_mean - app_mean
        if seed_mean is not None and app_mean is not None
        else None
    )
    # the aggregate DILUTES when a long append history mixes mild and
    # severe batches (measured in the x10 drift→recall soak: an α=1.0
    # reflection batch landing after three milder ones moved the
    # aggregate only 0.013 while its own row sat far past threshold) —
    # so the verdict also watches the NEWEST batch alone, which is the
    # row a streaming ingest's per-batch check actually just wrote
    # unguarded batch-API appends record batch_id NULL — no order to
    # recover, so "newest" is defined only over the guarded rows
    app_rows = [
        r for r in rows
        if r["batch_id"] is not None and r["batch_id"] != -1
    ]
    last = max(app_rows, key=lambda r: r["batch_id"]) if app_rows else None
    last_drift = (
        seed_mean - last["mean_sim"]
        if seed_mean is not None and last is not None
        else None
    )
    # metric calibration: cosine ledgers are [-1,1]-scale → absolute
    # threshold; l2 (negated squared distance) / ip (raw dot) ledgers
    # are data-dependent in magnitude → threshold RELATIVE drift.
    # Flat-PQ indexes have no _centroids table; their ADC
    # self-similarity ledger is cosine-scale → absolute.
    metric = (
        _index_metric(spark, name)
        if spark.catalog.tableExists(f"{name}_centroids")
        else "cosine"
    )

    def _gauge(d):
        if d is None:
            return None
        if metric == "cosine":
            return d
        if seed_mean:  # nonzero denominator: plain relative drift
            return d / abs(seed_mean)
        # seed_mean exactly 0.0 (l2: seed vectors ON their centroids;
        # ip: dots averaging to zero): any positive raw drift is
        # infinitely worse than the seed — flag it rather than
        # silently never flagging (r12 review fix)
        return 0.0 if d <= 0 else float("inf")

    drift_rel = _gauge(drift)
    last_rel = _gauge(last_drift)
    flagged = (drift_rel is not None and drift_rel > threshold) or (
        last_rel is not None and last_rel > threshold
    )
    return {
        "n_seed": seed_n,
        "n_appended": app_n,
        "seed_mean_sim": seed_mean,
        "appended_mean_sim": app_mean,
        "drift": drift,
        "last_batch_drift": last_drift,
        "drift_relative": drift_rel,
        "last_batch_drift_relative": last_rel,
        "metric": metric,
        "retrain_recommended": flagged,
    }


def _index_build_site(spark: SparkSession, name: str, member_table: str):
    """Where a retrain must REBUILD the index so it stays what it was:
    ``{"path": root, "n_buckets": n}`` (from the ``_spec`` restart
    manifest) for an EXTERNAL ``path=`` index, ``{}`` for a managed
    one.  Without this a retrain would silently convert an external
    index to managed tables, stranding the pre-retrain generation at
    the root for a later ``register_index`` to resurrect — deleted
    vectors included."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        _external_root,
    )

    root = _external_root(spark, member_table)
    if root is None:
        return {}
    kwargs = {"path": root}
    try:
        kwargs["n_buckets"] = int(
            spark.read.parquet(f"{root}/{name}_spec").collect()[0][
                "n_buckets"
            ]
        )
    except Exception:
        pass  # pre-manifest index: keep the builder default
    return kwargs


def retrain_ivf_index(
    spark: SparkSession,
    name: str,
    iters: int = 3,
    n_centroids: int | None = None,
) -> dict:
    """Act on :func:`ivf_index_drift`'s ``retrain_recommended``:
    re-learn centroids over EVERYTHING the index currently holds (seed
    + all appended batches) and rebuild it under the same name — the
    out-of-band retrain the streaming twin's ``on_retrain`` hook
    schedules.  The inverted lists carry the full vectors, so the
    retrain needs NO access to the original corpus — the index is
    self-contained, exactly like the LSH triple.

    Crash-safe staging: the current lists snapshot to a durable
    ``<name>_retrain_tmp`` managed table FIRST (a localCheckpoint here
    would lose the corpus if the rebuild died between dropping the old
    lists and writing the new — see :func:`_materialize_ephemeral`'s
    fault notes), the rebuild trains and writes from that snapshot,
    and the snapshot drops last.  Rebuilding also resets the
    ``_batches`` replay log and the ``_stats`` ledger (every held
    vector becomes seed data — post-retrain drift starts clean, which
    is what re-arms the stream's once-per-crossing hook).

    Returns the post-retrain :func:`ivf_index_drift` dict (appended
    side empty; ``retrain_recommended`` False by construction).

    Scale shape: one lists scan into the snapshot, Lloyd's iterations
    over it (inline-argmin projections — no corpus shuffle), one
    assignment pass, two bucketed writes.  Cost ≈ the original build;
    run it at the cadence drift actually crosses the threshold, not
    per batch.
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name)
    tmp = f"{name}_retrain_tmp"
    clear_orphaned_table(spark, tmp)
    # resolve WHERE to rebuild BEFORE touching anything: an external
    # index rebuilds at its own root with its spec'd bucket count
    # (converting it to managed would strand the old generation for a
    # later register_index to resurrect)
    site = _index_build_site(spark, name, f"{name}_lists")
    # carried metadata columns (the build's `carry`) survive the
    # retrain: snapshot them next to the vectors and rebuild with the
    # same carry set, so member_filter keeps working afterwards
    # the lists may have been compacted by ANOTHER session (an ingest
    # stream's in-stream fold) since this session last read them — the
    # snapshot must not plan against a deleted file listing
    spark.catalog.refreshTable(f"{name}_lists")
    carry = tuple(
        c for c in spark.table(f"{name}_lists").columns
        if c not in ("vec_id", "embedding", "nrm", "centroid_id")
    )
    held = spark.table(f"{name}_lists").select("vec_id", "embedding", *carry)
    # pending logical deletes become physical here: the rebuild trains
    # on and re-holds only the live vectors (tombstones drop with the
    # rebuild's ledger reset)
    tombs = _tombstone_ids(spark, name)
    if tombs is not None:
        held = held.join(F.broadcast(tombs), "vec_id", "left_anti")
    held.write.mode("overwrite").format("parquet").saveAsTable(tmp)
    try:
        held = spark.table(tmp)
        if n_centroids is None:
            n = held.count()
            n_centroids = max(2, n // _effective_modulus(n))
        # retrain under the index's own serving metric (ip serves from
        # spherical/cosine-trained centroids, same as its build)
        idx_metric = _index_metric(spark, name)
        cents = kmeans_centroids(
            held.select("vec_id", "embedding"),
            k=n_centroids, iters=iters,
            metric="l2" if idx_metric == "l2" else "cosine",
        )
        # a retrain keeps the id space, so pending out-of-order
        # takedowns survive the rebuild's generation reset
        dsnap = _preserve_deferred(spark, name)
        build_ivf_index(
            spark, held, name, centroids=cents, carry=carry,
            metric=idx_metric, **site
        )
        _restore_deferred(spark, name, dsnap, f"{name}_lists")
    except BaseException:
        # crash-or-error mid-rebuild (r13): KEEP the snapshot — it is
        # the recovery corpus, and its presence is the torn-retrain
        # signal maintenance.vacuum_index reports (the rebuild writes
        # several tables; a kill between them leaves generations
        # mixed).  Re-running the retrain clears it.
        raise
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    return ivf_index_drift(spark, name)


def _quantized_snapshot(spark: SparkSession, name: str) -> tuple:
    """Durable ``<name>_retrain_tmp`` snapshot of a PQ-family index's
    ``<name>_quantized`` table — the crash-safe staging step shared by
    the PQ/IVFPQ retrains (same rationale as :func:`retrain_ivf_index`:
    a localCheckpoint would lose the held corpus if the rebuild died
    between dropping the old tables and writing the new).  Carry-stored
    metadata columns snapshot too, so ``member_filter`` keeps working
    after the retrain.  Returns ``(tmp_table_name, carry)``; the
    caller drops the snapshot after the rebuild lands."""
    tmp = f"{name}_retrain_tmp"
    clear_orphaned_table(spark, tmp)
    # cross-session staleness: see retrain_ivf_index's snapshot note
    spark.catalog.refreshTable(f"{name}_quantized")
    carry = tuple(
        c for c in spark.table(f"{name}_quantized").columns
        if c not in ("vec_id", "q", "nrm")
    )
    held = spark.table(f"{name}_quantized").select("vec_id", "q", *carry)
    # pending logical deletes become physical here (see
    # :func:`retrain_ivf_index`'s snapshot note)
    tombs = _tombstone_ids(spark, name)
    if tombs is not None:
        held = held.join(F.broadcast(tombs), "vec_id", "left_anti")
    held.write.mode("overwrite").format("parquet").saveAsTable(tmp)
    return tmp, carry


def retrain_ivfpq_index(
    spark: SparkSession,
    name: str,
    iters: int = 3,
    n_centroids: int | None = None,
    n_entries: int | None = None,
) -> dict:
    """IVFADC member of the act-on-drift family (see
    :func:`retrain_ivf_index` for the contract): re-learn BOTH tiers —
    coarse centroids and residual codebooks — over everything the
    index currently holds and rebuild it under the same name.  The
    held corpus comes from ``<name>_quantized`` (the exact re-rank
    side stores every vector), so the retrain needs no access to the
    original corpus; and because :func:`quantize_frame` is idempotent
    on already-quantized vectors (every stored vector has a ±127
    component, so the re-quantization scale is exactly 1), the rebuild
    encodes bit-identical inputs to what the index held — the only
    thing that changes is what the drift said should: the learned
    centroids/codebooks.

    Rebuilding resets the ``_batches`` replay log and the ``_stats``
    ledger (all held vectors become seed data), which re-arms the
    streaming twin's once-per-crossing ``on_retrain`` hook.  Returns
    the post-retrain :func:`ivf_index_drift` dict.

    Scale shape: one quantized-table scan into the snapshot, the
    :func:`build_ivfpq_index` training/encode passes over it (inline
    argmin — no corpus shuffle), bucketed writes.  Cost ≈ the original
    build; run at the cadence drift crosses the threshold.
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name)
    site = _index_build_site(spark, name, f"{name}_quantized")
    tmp, carry = _quantized_snapshot(spark, name)
    try:
        held = spark.table(tmp).select(
            "vec_id", F.col("q").alias("embedding"), *carry
        )
        dsnap = _preserve_deferred(spark, name)
        # OPQ (r12): a rotated index RE-LEARNS its rotation on retrain
        # (acting on drift means adapting the grid to what is held now
        # — rotation included); an unrotated index stays unrotated.
        # r13: the PERSISTED kind tag decides WHICH rotation to
        # re-learn, so an opq-np index keeps its NP refinement instead
        # of silently downgrading to parametric.
        prior_kind = _read_rotation_kind(
            spark.table(f"{name}_codebooks")
        )
        # the serving metric survives the retrain (r16): read BEFORE
        # the rebuild overwrites the centroids table that stores it
        idx_metric = _index_metric(spark, name)
        build_ivfpq_index(
            spark,
            held,
            name,
            n_centroids=n_centroids,
            n_entries=n_entries,
            iters=iters,
            carry=carry,
            rotation=prior_kind,
            metric=idx_metric,
            **site,
        )
        _restore_deferred(spark, name, dsnap, f"{name}_quantized")
    except BaseException:
        # keep the snapshot on failure — see retrain_ivf_index (r13)
        raise
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    return ivf_index_drift(spark, name)


def retrain_pq_index(
    spark: SparkSession,
    name: str,
    iters: int = 3,
    n_entries: int | None = None,
) -> dict:
    """Flat-PQ member of the act-on-drift family: re-LEARN per-subspace
    codebooks (:func:`pq_codebooks_kmeans` — acting on drift means
    training on what the index now holds, so the retrain always
    produces learned codebooks even if the seed build used the
    SQL-expressible modulus stand-in) over everything in
    ``<name>_quantized`` and rebuild under the same name.  Same
    snapshot staging, ledger-reset, and idempotent-requantization
    guarantees as :func:`retrain_ivfpq_index`; returns the
    post-retrain :func:`ivf_index_drift` dict (the PQ ledger rows are
    ADC self-similarity, compared by the same seed-vs-appended rule).
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name)
    site = _index_build_site(spark, name, f"{name}_quantized")
    tmp, carry = _quantized_snapshot(spark, name)
    try:
        held = spark.table(tmp).select(
            "vec_id", F.col("q").alias("embedding"), *carry
        )
        qv = quantize_frame(held)  # idempotent: bit-equal to stored q
        if n_entries is None:
            n = qv.count()
            n_entries = max(
                2,
                n // _effective_modulus(
                    n, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET
                ),
            )
        # OPQ (r12): a rotated index re-learns its rotation on the held
        # corpus and trains the new codebooks in the NEW rotated space.
        # r13: the persisted kind tag picks the refinement — an opq-np
        # index re-learns WITH the NP alternation (at the production
        # entry budget, the r12 budget-match rule) instead of being
        # silently downgraded to parametric.
        prior_kind = _read_rotation_kind(
            spark.table(f"{name}_codebooks")
        )
        rotation = None
        train_src = qv
        if prior_kind is not None:
            rotation = learn_opq_rotation(
                qv,
                sample_modulus=_opq_sample_modulus(qv.count()),
                refine_iters=2 if prior_kind == "opq-np" else 0,
                n_entries=n_entries if prior_kind == "opq-np" else None,
            )
            train_src = qv.withColumn(
                "q", F.expr(_rotate_expr("q", rotation))
            ).persist()
        cb = pq_codebooks_kmeans(train_src, n_entries=n_entries, iters=iters)
        dsnap = _preserve_deferred(spark, name)
        # the serving metric survives the retrain (r16): read BEFORE
        # the rebuild overwrites the codebooks table that stores it
        build_pq_index(
            spark, held, name, codebooks=cb, carry=carry,
            rotation=rotation, rotation_kind=prior_kind,
            metric=_pq_index_metric(spark, name), **site
        )
        if train_src is not qv:
            train_src.unpersist(blocking=False)
        _restore_deferred(spark, name, dsnap, f"{name}_quantized")
    except BaseException:
        # keep the snapshot on failure — see retrain_ivf_index (r13)
        raise
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    return ivf_index_drift(spark, name)


def _tombstone_ids(spark: SparkSession, name: str) -> DataFrame | None:
    """The index's logical-delete set (``<name>_tombstones``), or None
    when no deletes are pending.  Every probe anti-joins this BEFORE
    ranking (broadcast — the set is bounded by the compaction cadence,
    the same contract as the ``_batches`` replay log), so deleted
    vectors can never appear in a top-k even though their rows still
    sit in the corpus tables until the next fold."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        _pending_tombstones,
    )

    return _pending_tombstones(spark, name, "vec_id")


def _deferred_ids(spark: SparkSession, name: str) -> DataFrame | None:
    """The index's OUT-OF-ORDER takedown set (``<name>_deferred``), or
    None when empty: vec_ids a :func:`delete_from_index` requested that
    the index had never ingested (a takedown stream racing ahead of the
    ingest stream).  Tombstoning them instead would wedge every append
    containing the id (:func:`_reject_tombstoned_delta`) until a fold
    silently dropped the intent; deferring records it where the append
    verbs consume it — the matching rows are filtered OUT of the delta
    before they ever land, and the entry retires with them."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        _pending_tombstones,
    )

    return _pending_tombstones(spark, name, "vec_id", suffix="_deferred")


def _consume_deferred(
    spark: SparkSession, name: str, delta: DataFrame
) -> tuple:
    """Apply pending out-of-order takedowns to an arriving append
    delta: rows whose vec_id sits in ``<name>_deferred`` are dropped
    from the delta (the vector is erased BEFORE it ever becomes probe-
    visible — the same end state as delete-after-ingest plus fold).
    Returns ``(filtered_delta, hit)``; the caller retires the hit via
    :func:`maintenance.retire_deferred` AFTER its bookkeeping lands
    (two-phase so a crash mid-append replays with the intent intact).
    Thin vec_id binding over ``maintenance.deferred_split``."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        deferred_split,
    )

    return deferred_split(spark, name, delta, "vec_id")


def _preserve_deferred(spark: SparkSession, name: str) -> DataFrame | None:
    """Snapshot ``<name>_deferred`` before a RETRAIN's in-place rebuild
    (which resets generation state): unlike a user rebuild — a new
    generation with a fresh id space — a retrain keeps the index's id
    space, so a deferred takedown must still consume the append it is
    waiting for.  Restore with :func:`_restore_deferred` after the
    rebuild lands."""
    d = _deferred_ids(spark, name)
    return d.localCheckpoint(eager=True) if d is not None else None


def _restore_deferred(
    spark: SparkSession, name: str, snap: DataFrame | None, member_table: str
) -> None:
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        append_tombstones,
    )

    if snap is not None:
        append_tombstones(
            spark, name, snap, None, member_table, suffix="_deferred"
        )


def delete_from_index(
    spark: SparkSession,
    name: str,
    ids: DataFrame | None = None,
    delete_filter=None,
) -> int:
    """Logically delete vectors from ANY persisted embedding index
    (IVF / flat PQ / IVFPQ — the verb completing the lifecycle family:
    build → append → delete → compact → retrain).  Mirrors the
    tombstone design every LSM-shaped store uses: deletion is an O(
    |delete set|) append to a ``<name>_tombstones`` table, probes
    exclude tombstoned ids BEFORE ranking (so results equal an index
    that never held them), and the physical rows are reclaimed by the
    next ``maintenance.compact_*_index`` (which folds the tombstones
    into the bucketed rewrite it was already doing) or retrain (whose
    corpus snapshot subtracts them).  A rebuild under the same name
    clears the set — logical deletes never outlive the index
    generation they were issued against.

    ``ids`` is any ``(vec_id)`` DataFrame; ``delete_filter`` instead
    selects victims by predicate over what the index holds (carry
    metadata columns included — e.g. ``"label = 7"`` for a
    takedown-by-attribute), evaluated against ``<name>_quantized``
    (PQ family) or ``<name>_lists`` (IVF) with the predicate pushed to
    the scan.  Returns the number of NEWLY tombstoned ids (re-deletes
    are idempotent no-ops).

    Out-of-order takedowns (``ids`` naming vectors the index never
    ingested — a takedown stream racing ahead of the ingest stream)
    are NOT tombstoned: a pending tombstone for a never-seen id would
    hard-fail the very append that finally delivers it, and the next
    fold would silently retire the intent.  They are recorded in
    ``<name>_deferred`` instead, and the append verbs consume them —
    the victim rows are dropped from the arriving delta before they
    ever become probe-visible (:func:`_consume_deferred`).  Deferred
    intents survive restarts (:func:`maintenance.register_index`) and
    retrains, and reset with a rebuild's new generation like every
    other lifecycle table.  Re-appending a previously deleted vec_id
    is outside the lifecycle contract — appends assume globally new
    ids (an append of an EXISTING live id already double-counts, with
    or without deletes) — and the append verbs raise while the
    tombstone is pending (:func:`_reject_tombstoned_delta`), closing
    the window where the re-appended row would be silently hidden by
    its own tombstone.

    Scale shape: one pushed-predicate scan (delete_filter form only),
    one anti-join of the delete set against pending tombstones, one
    delta-sized write.  The standing corpus tables are never rewritten
    here — that cost stays where it belongs, in compaction.
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        append_tombstones,
    )

    if (ids is None) == (delete_filter is None):
        raise ValueError("pass exactly one of ids / delete_filter")
    member_table = (
        f"{name}_quantized"
        if spark.catalog.tableExists(f"{name}_quantized")
        else f"{name}_lists"
    )
    if delete_filter is not None:
        ids = spark.table(member_table).filter(delete_filter)
    new = ids.select("vec_id").distinct()
    pending = _tombstone_ids(spark, name)
    if pending is not None:
        new = new.join(F.broadcast(pending), "vec_id", "left_anti")
    if delete_filter is None:
        # `ids` may name vectors the index never ingested (a takedown
        # stream racing ahead of the ingest stream).  Tombstoning those
        # would wedge every later append carrying the id
        # (_reject_tombstoned_delta) until a fold silently dropped the
        # intent — so only MEMBER ids are tombstoned; never-seen ids go
        # to ``<name>_deferred``, where the append verbs consume them
        # (:func:`_consume_deferred`).  One column-pruned corpus scan
        # with the delete set broadcast resolves membership.
        new = new.localCheckpoint(eager=True)
        # the member table may have been compacted by ANOTHER session
        # (ingest stream's in-stream fold) since this session last read
        # it — refresh or the scan reads a deleted file listing
        spark.catalog.refreshTable(member_table)
        seen = (
            spark.table(member_table)
            .select("vec_id")
            .join(F.broadcast(new), "vec_id", "left_semi")
            .distinct()
            .localCheckpoint(eager=True)
        )
        unseen = new.join(F.broadcast(seen), "vec_id", "left_anti")
        dpending = _deferred_ids(spark, name)
        if dpending is not None:
            unseen = unseen.join(F.broadcast(dpending), "vec_id", "left_anti")
        append_tombstones(
            spark, name, unseen, dpending, member_table, suffix="_deferred"
        )
        new = seen
    # the shared writer pins the delta, creates the table AT THE INDEX
    # ROOT for external (path=) indexes — so pending deletes survive a
    # metastore loss and register_index re-attaches them — and appends
    # otherwise
    return append_tombstones(spark, name, new, pending, member_table)


def ann_ivf_incremental(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    centroid_modulus: int = IVF_CENTROID_MODULUS,
) -> DataFrame:
    """Registry/oracle twin of the incremental IVF lifecycle: the
    standing index's centroids come from the SEED corpus only
    (vec_id % 4 != 3, modulus subset — what :func:`build_ivf_index`
    froze), the DELTA (vec_id % 4 == 3) is assigned to those frozen
    centroids exactly as :func:`append_to_ivf_index` does, and each
    delta query (vec_id % 20 == 3) probes the POST-APPEND index.
    Same inline-vs-tables relationship as ``dedup_incremental_pairs``
    to ``incremental_near_dups``: identical math minus the catalog
    round-trip, which tests/test_index_append.py pins as bit-equal —
    so this member's DuckDB value-hash gates the table path too.

    Plan shape matches :func:`ann_ivf_topk`: broadcast centroids,
    argmin-projection assignment, broadcast probes — no corpus
    shuffle anywhere (the delta predicate changes selectivity, not the
    plan).
    """
    v = _vectors(spark, sf_dir)
    # broadcast-side subsets from the un-fanned scan (r17, see
    # _vectors); rows are bit-identical — the assignment columns were
    # never read by the query subset
    v_thin = _vectors(spark, sf_dir, fanout=False)
    is_delta = F.col("vec_id") % INCR_SPLIT_MOD == INCR_DELTA_REM
    cent = v_thin.filter(
        ~is_delta & (F.col("vec_id") % centroid_modulus == 0)
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    assigned = _assign_via_broadcast(v, cent)
    queries = v_thin.filter(
        F.col("vec_id") % INCR_QUERY_MODULUS == INCR_DELTA_REM
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), F.asc("centroid_id")
    )
    probes = (
        F.broadcast(queries)
        .join(F.broadcast(cent), how="cross")
        .select(
            "query_id", "q_emb", "q_nrm", "centroid_id",
            (_dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias("c_sim"),
        )
        .withColumn("p", F.row_number().over(probe_w))
        .filter(F.col("p") <= nprobe)
        .drop("p", "c_sim")
    )
    sim = F.round(_dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm")), 4)
    hits = (
        F.broadcast(probes)
        .join(assigned, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ann_ivf_deleted(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    centroid_modulus: int = IVF_CENTROID_MODULUS,
) -> DataFrame:
    """Registry/oracle twin of the DELETE lifecycle: the index was
    built over the FULL corpus (centroids = the plain modulus subset,
    frozen — deleting members never moves centroids), then the victims
    (vec_id % 4 == 3, the same deterministic split the incremental
    twin uses for its delta) were tombstoned via
    :func:`delete_from_index`, and the standing queries
    (vec_id % 50 == 0 — never victims, since 50 ≡ 2 mod 4) probe the
    post-delete index.  The tombstone anti-join excludes victims from
    the candidate lists BEFORE ranking, so this is exactly
    :func:`ann_ivf_topk` with the members (not the centroids, not the
    queries) filtered — which is also what makes it DuckDB-expressible.
    tests/test_index_append.py pins the table path (build over the
    union → ``delete_from_index`` → ``ann_ivf_probe``) bit-equal to
    this inline twin, so the member's value-hash gates the tombstone
    exclusion semantics end to end.

    Plan shape matches :func:`ann_ivf_topk`: broadcast centroids,
    map-side assignment, broadcast probes — the delete predicate is a
    filter on the corpus-side scan, no extra shuffle.
    """
    v = _vectors(spark, sf_dir)
    # broadcast-side subsets from the un-fanned scan (r17, see
    # _vectors); rows are bit-identical — the assignment columns were
    # never read by the query subset
    v_thin = _vectors(spark, sf_dir, fanout=False)
    cent = v_thin.filter(F.col("vec_id") % centroid_modulus == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    assigned = _assign_via_broadcast(v, cent)
    queries = v_thin.filter(F.col("vec_id") % QUERY_MODULUS == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    live = assigned.filter(
        F.col("vec_id") % INCR_SPLIT_MOD != INCR_DELTA_REM
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), F.asc("centroid_id")
    )
    probes = (
        F.broadcast(queries)
        .join(F.broadcast(cent), how="cross")
        .select(
            "query_id", "q_emb", "q_nrm", "centroid_id",
            (_dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias("c_sim"),
        )
        .withColumn("p", F.row_number().over(probe_w))
        .filter(F.col("p") <= nprobe)
        .drop("p", "c_sim")
    )
    sim = F.round(_dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm")), 4)
    hits = (
        F.broadcast(probes)
        .join(live, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ann_ivf_append_lifecycle(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    name: str | None = None,
    materialize: str = "localCheckpoint",
) -> DataFrame:
    """End-to-end TABLE-BACKED incremental lifecycle — build the IVF
    index over the seed corpus, :func:`append_to_ivf_index` the delta,
    probe the delta queries against the post-append index — the
    persisted twin of :func:`ann_ivf_incremental` (bit-equal output,
    asserted in tests) and the shape a standing 100 TB index actually
    runs on every refresh.  Bench LIBRARY_ONLY with phase sub-timings
    ({"b": seed build, "a": delta append, "p": probe}) so append cost
    trends separately from build cost.

    Ephemeral-name hygiene matches :func:`ann_ivf_topk_kmeans`:
    distributed localCheckpoint materialization, tables dropped before
    returning; pass ``name`` to keep the index.
    """
    import uuid

    v = _vectors(spark, sf_dir)
    is_delta = F.col("vec_id") % INCR_SPLIT_MOD == INCR_DELTA_REM
    ephemeral = name is None
    if ephemeral:
        name = "ivf_incr_" + uuid.uuid4().hex[:12]
    t0 = time.monotonic()
    build_ivf_index(
        spark, v.filter(~is_delta).select("vec_id", "embedding"), name
    )
    t1 = time.monotonic()
    append_to_ivf_index(
        spark, v.filter(is_delta).select("vec_id", "embedding"), name
    )
    t2 = time.monotonic()
    queries = v.filter(
        F.col("vec_id") % INCR_QUERY_MODULUS == INCR_DELTA_REM
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    out = ann_ivf_probe(spark, queries, name, k=k, nprobe=nprobe)
    if not ephemeral:
        LIFECYCLE_PHASES["ann_ivf_append"] = {"b": t1 - t0, "a": t2 - t1}
        return out
    out = _materialize_ephemeral(
        out, spark, name, materialize, result_name="ann_ivf_append"
    )
    LIFECYCLE_PHASES["ann_ivf_append"] = {
        "b": t1 - t0, "a": t2 - t1, "p": time.monotonic() - t2,
    }
    for t in (
        f"{name}_lists",
        f"{name}_centroids",
        f"{name}_batches",
        f"{name}_stats",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out


def quantized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q array<double>, nrm): int8 scalar quantization of the
    embedding column (values integer-valued, carried as doubles).

    Per-vector scale ``max|x| / 127`` maps each component to an
    integer in [-127, 127] via half-up rounding — the standard scalar
    quantization an ANN index uses to cut resident vector memory 4x
    (float32 -> int8).  At 100 TB that is the difference between an
    in-memory index tier and constant spill; the stored form would be
    ``array<tinyint>`` plus one float scale per vector.

    Cross-engine exactness: every quantized component is an integer,
    so dot products and squared norms (<= 64 * 127^2 ~= 1e6) are
    EXACT in double arithmetic regardless of summation order — DuckDB
    recomputes them bit-for-bit, which is what makes the approximate
    search value-hash-checkable (unlike float sums, which would depend
    on fold order).
    """
    return quantize_frame(load(spark, sf_dir, "embeddings"))


def quantize_frame(e: DataFrame, carry: tuple = ()) -> DataFrame:
    """Frame-level int8 scalar quantization (see
    :func:`quantized_vectors`): any ``(vec_id, embedding)`` DataFrame →
    ``(vec_id, q, nrm, *carry)``.  Per-vector scale, so quantizing a
    query frame separately yields bit-identical values to quantizing
    it as part of a corpus.  ``carry`` names metadata columns riding
    through unchanged (filters on them still push below these
    projections to the scan)."""
    staged = e.select(
        "vec_id",
        "embedding",
        *carry,
        F.expr(
            "greatest(aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))),"
            " CAST(1e-30 AS DOUBLE)) / 127.0"
        ).alias("s"),
    )
    qv = staged.select(
        "vec_id",
        *carry,
        F.expr(
            "transform(embedding, x -> floor(CAST(x AS DOUBLE) / s + 0.5))"
        ).alias("q"),
    )
    return qv.select("vec_id", "q", _norm("q").alias("nrm"), *carry)


def ann_cosine_topk_quantized(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
) -> DataFrame:
    """Cosine top-k over the int8-quantized index (symmetric search:
    queries quantized too) — the memory-bound scale path of
    :func:`cosine_topk`.

    Same broadcast-query / no-corpus-shuffle plan shape as the exact
    operator; only the vector representation changes.  Recall vs the
    exact ranking is asserted in tests (quantization perturbs cosine
    by ~1e-2 at 64 dims); results are value-hash-checked against a
    DuckDB replay of the exact same integer arithmetic.
    """
    v = quantized_vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    sim = F.round(_dot("q_emb", "q") / (F.col("q_nrm") * F.col("nrm")), 4)
    pairs = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ann_filtered_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
    label: int = FILTER_LABEL,
) -> DataFrame:
    """Filtered similarity search — the vector-DB "WHERE lang = 'en'"
    shape a curation pipeline runs constantly (dedup within a language
    slice, neighbors restricted to a licensed source, ...): cosine
    top-k over the int8-quantized corpus where the NEIGHBOR set is
    restricted to ``label = <label>`` BEFORE ranking.  Pre-filter
    semantics: every query gets ``k`` results drawn entirely from the
    filtered subset; a post-filter (rank globally, then drop) would
    starve below ``k`` whenever the filter is selective — the
    difference is the classic filtered-ANN trap.

    Plan shape matches :func:`ann_cosine_topk_quantized` (broadcast
    queries, no corpus shuffle) with one addition that is the point:
    the label predicate sits below the quantization projections, so
    Catalyst pushes it into the parquet scan (``PushedFilters``,
    plan-asserted) and corpus scan cost SHRINKS with filter
    selectivity.  Queries are the usual modulus subset, unrestricted —
    a query needn't satisfy the filter it searches under.  The
    index-backed twin is :func:`ann_ivf_probe` ``member_filter`` over
    a ``carry``-built :func:`build_ivf_index`.
    """
    v = quantize_frame(load(spark, sf_dir, "embeddings"), carry=("label",))
    q = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = v.filter(F.col("label") == label)  # pre-filter, pushed to scan
    sim = F.round(_dot("q_emb", "q") / (F.col("q_nrm") * F.col("nrm")), 4)
    pairs = (
        F.broadcast(q)
        .join(c, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc_a < doc_b).

    Exact all-pairs formulation for the oracle; the scale path is the
    same computation restricted to IVF-cluster co-membership (vectors
    this similar land in the same cluster except at boundaries).
    """
    v = _vectors(spark, sf_dir)
    a = v.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 4)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


N_HYPERPLANES = 128
LSH_BAND_BITS = 8  # 16 bands of 8 bits
LSH_N_BANDS = N_HYPERPLANES // LSH_BAND_BITS  # band count fixes recall
#: Target mean LSH bucket size for the adaptive band-width default:
#: buckets-per-band = 2^band_bits must grow WITH the corpus (buckets
#: ∝ N) to hold candidate volume ~linear; at any fixed width the
#: per-band pair count is N²/2^band_bits — quadratic.  The x100 scale
#: soak measured exactly that: 200k near-random vectors at the old
#: fixed 8 bits meant ~780-member buckets and ~10⁹ candidate pairs.
#: The candidate mass is ~bands·N·target/2, LINEAR in target: 16
#: (vs the first-cut 64) costs two extra bits (+32 planes at 16
#: bands, ~17% more signature work) and cuts verification volume 4x —
#: measured 63.6 s → (see SCALING.md) at x100.  Band count, and with
#: it the recall curve, is unchanged.
LSH_TARGET_BUCKET = 16


#: (app_id, n_planes, dim, seed) → the hyperplane DataFrame.  Reused
#: across invocations because two byte-identical ``createDataFrame``
#: calls yield LocalRelations that are NOT ``sameResult`` (measured on
#: this Spark: fresh exprIds defeat canonicalization) — a per-call
#: planes frame therefore defeated ``scoped_persist``'s warm-reuse of
#: the signature table downstream, and every warm invocation silently
#: repaid the full |corpus| × n_planes signature pass (~22 s at the
#: x100 soak scale).  The key INCLUDES the live application id: a
#: process that stops and recreates its SparkSession without calling
#: ``clear_query_caches`` must never be handed a DataFrame bound to
#: the dead session.  Cleared with the other caches.
_PLANES_CACHE: dict = register_aux_cache({})


def _hyperplanes(spark: SparkSession, n_planes: int, dim: int, seed: int) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, n_planes, dim, seed)
    if key not in _PLANES_CACHE:
        # evict dead-application entries: a long-lived process that
        # restarts its SparkSession would otherwise accumulate one
        # cache generation per application until clear_query_caches()
        for stale in [k for k in _PLANES_CACHE if k[0] != app]:
            del _PLANES_CACHE[stale]
        import numpy as np

        H = np.random.RandomState(seed).standard_normal((n_planes, dim))
        _PLANES_CACHE[key] = local_df(
            spark,
            [(i, [float(x) for x in H[i]]) for i in range(n_planes)],
            "plane_id int, plane array<double>",
        )
    return _PLANES_CACHE[key]


def _lsh_geometry(n_vecs: int) -> tuple:
    """(band_bits, n_planes) for a corpus of ``n_vecs`` vectors: band
    width grows as log2(n / LSH_TARGET_BUCKET) — never below the
    fixture geometry's 8 — while the band count stays LSH_N_BANDS, so
    mean bucket size (and with it candidate volume per vector) is held
    ~constant as the corpus grows.  Pure function; unit-tested."""
    import math

    bits = LSH_BAND_BITS
    if n_vecs > LSH_TARGET_BUCKET:
        bits = max(bits, math.ceil(math.log2(n_vecs / LSH_TARGET_BUCKET)))
    return bits, LSH_N_BANDS * bits


def embedding_near_dup_scale(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.9,
    n_planes: int | None = None,
    band_bits: int | None = None,
    seed: int = 7,
    max_bucket_size: int | None = None,
    hbound_sigmas: float | None = 6.0,
) -> DataFrame:
    """Scale path of :func:`embedding_near_dup_pairs`: hyperplane-LSH
    bucketed candidates, verified exactly — never an all-pairs join.

    Sign-random-projection LSH (SimHash for vectors): bit *i* of a
    vector's signature is the sign of its dot product with
    deterministic pseudo-random hyperplane *i*; two vectors agree on a
    bit with probability ``1 - angle/pi``.  Signatures are banded
    exactly like the MinHash pipeline (dedup.py): vectors sharing any
    (band, bucket) become candidates, and ONLY candidates get the exact
    cosine verification — the same exact/approximate split dedup.py
    uses for text.

    At the fixture's default geometry (16 bands x 8 bits): a true pair
    at cosine 0.9 (per-bit agreement 0.856) survives with prob
    ``1-(1-0.856^8)^16`` ~= 0.996, while an unrelated orthogonal pair
    collides at ``16 * 2^-8`` ~= 6%.  Tune ``band_bits`` down / bands
    up for lower thresholds (tests exercise this on the near-random
    testdata).

    ADAPTIVE WIDTH (the scale-correct default): with ``band_bits=None``
    the band width grows with the corpus —
    ``max(8, ceil(log2(n / LSH_TARGET_BUCKET)))`` — and ``n_planes``
    follows as ``16 * band_bits``, keeping the band COUNT (hence the
    recall curve's shape) fixed while buckets-per-band scales ∝ N.
    That bounds mean bucket size at ~LSH_TARGET_BUCKET, making expected
    candidate volume ~``bands x N x bucket/2`` — LINEAR in N.  Any
    FIXED width is quadratic (per-band pairs = N²/2^bits): the x100
    soak measured 200k vectors x 8 fixed bits = ~780-member buckets
    and ~10⁹ candidate pairs.  The one count() this needs reads parquet
    footers only; explicit parameters bypass it (oracle twins, tests).

    ``max_bucket_size`` is the same skip-oversized-buckets safety valve
    as ``dedup._cap_buckets`` (skewed REAL embedding spaces can
    concentrate mass in one bucket no matter the width): members of a
    dropped hot bucket almost always share a smaller bucket with their
    true pairs; default ``None`` = exact parity with the oracle twin.

    ``hbound_sigmas`` is the hamming prefilter's slack in binomial
    standard deviations above the expected disagreement of a true pair
    at ``threshold`` (see the in-code derivation below).  The ~1e-9
    miss bound at the default 6σ assumes RANDOM hyperplanes, but the
    planes are FIXED by ``seed`` — for an unlucky (seed, pair) the
    drop is deterministic and repeats every run, so library-default
    recall is seed-conditional rather than per-run probabilistic.
    Recall-sensitive callers can widen the slack (e.g. 8–10σ) or pass
    ``None`` to disable the prefilter entirely without changing the
    LSH geometry (the banding recall curve is untouched either way).

    Shuffle shape: |corpus| x bands rows keyed by (band, bucket) for
    candidate generation (each carrying the ~|bands|·8-byte signature,
    so the in-join hamming prefilter needs no extra join), then two
    vec_id hash joins fetching embeddings for the FILTERED candidates
    only — every join key is bounded-cardinality; nothing is quadratic
    in the corpus, and the exact-cosine stage's input is the near-true
    pairs, not the banded collisions.
    """
    v = _vectors(spark, sf_dir)
    if band_bits is None:
        band_bits, auto_planes = _lsh_geometry(
            cached_count(spark, sf_dir, "embeddings")
        )
        if n_planes is None:
            n_planes = auto_planes
    elif n_planes is None:
        # An EXPLICIT band_bits with no n_planes keeps the historical
        # N_HYPERPLANES budget (so band count = 128/band_bits: tuning
        # band_bits DOWN raises the band count, the recall direction
        # the docstring promises).  Only the adaptive path above ties
        # n_planes to 16*band_bits — there the band COUNT is the fixed
        # quantity and width is what grows with the corpus.
        n_planes = N_HYPERPLANES
    # one-row driver action to learn the dimension (bounded by design)
    first = load(spark, sf_dir, "embeddings").select("embedding").head()
    if first is None:  # empty corpus (an empty partition/date at scale)
        return spark.createDataFrame(
            [], "vec_a long, vec_b long, sim double"
        )
    dim = len(first[0])
    planes = _hyperplanes(spark, n_planes, dim, seed)
    dot_sql = (
        "aggregate(zip_with(embedding, plane,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    buckets = (
        v.join(F.broadcast(planes), how="cross")
        .select(
            "vec_id",
            (F.col("plane_id") / band_bits).cast("int").alias("band"),
            F.expr(
                f"shiftleft(CAST({dot_sql} > 0 AS BIGINT),"
                f" plane_id % {band_bits})"
            ).alias("pv"),
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("pv").alias("bucket"))
    )
    # Compact per-vector signature: sig[band] = that band's bucket
    # value, so the full n_planes-bit sketch is |bands| longs (~128 B)
    # per vector.  Persisted for the same reason as dedup.py's
    # signature tables — the candidate SELF-join evaluates both sides
    # independently, so without the cache every vector's n_planes dot
    # products run twice.
    sigs = buckets.groupBy("vec_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(band, bucket))),"
            " s -> s.bucket)"
        ).alias("sig")
    )
    sigs = scoped_persist(
        sigs, ("hyperplane_sigs", sf_dir, n_planes, band_bits, seed)
    )
    ex = sigs.select(
        "vec_id", "sig", F.posexplode("sig").alias("band", "bucket")
    )
    if max_bucket_size is not None:
        from hadoop_logfile_inputformat_spark.operators.dedup import (
            _cap_buckets,
        )

        ex = _cap_buckets(ex, ["band", "bucket"], max_bucket_size)
    # SIGNATURE-HAMMING PREFILTER, then distinct, then exact verify.
    # The x100 soak profiled the naive order (distinct all banded
    # collisions, then fetch embeddings and verify): 33M collision rows
    # paid an 8 s distinct plus two 33M-row embedding joins and 33M
    # interpreted 64-dim cosines (~17 s).  A collision row already
    # carries both full sketches, and the n_planes-bit hamming distance
    # is a 64x-cheaper similarity proxy: per-bit disagreement is
    # angle/pi (Goemans-Williamson), so a true pair at cosine >=
    # `threshold` has hamming ~Binomial(n_planes, acos(threshold)/pi)
    # and passes `mu + 6*sigma` with miss probability ~1e-9, while an
    # unrelated pair (disagreement ~0.5) sits many sigmas above the
    # bound at any production threshold and dies HERE, map-side, inside
    # the collision join — never reaching the shuffle-heavy stages.
    # The distinct then dedups near-true pairs only, and the embedding
    # fetch + exact cosine (the unchanged correctness gate — the
    # prefilter can only drop, never admit) runs on that tiny set.
    # At loose thresholds the bound exceeds the random-pair mean and
    # the prefilter degrades to a no-op — recall is never worse than
    # the banding itself beyond the ~1e-9 tail.
    import math

    if hbound_sigmas is None:
        hbound = n_planes  # prefilter disabled: every collision passes
    else:
        p_dis = math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
        hbound = min(
            n_planes,
            int(
                math.ceil(
                    n_planes * p_dis
                    + hbound_sigmas
                    * math.sqrt(n_planes * p_dis * (1.0 - p_dis))
                )
            ),
        )
    a, b = ex.alias("a"), ex.alias("b")
    sig_hamming = F.expr(
        "aggregate(zip_with(a.sig, b.sig, (x, y) -> bit_count(x ^ y)),"
        " 0, (acc, h) -> acc + h)"
    )
    collisions = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    if hbound < n_planes:
        collisions = collisions.filter(sig_hamming <= F.lit(hbound))
    candidates = collisions.select(
        F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
    ).distinct()
    va = v.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = v.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 4)
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


#: Embedding bytes per mapInArrow task (~30k x 64-float rows): enough
#: work to amortize one Python-worker round-trip, small enough that the
#: per-task matmul stays in cache-friendly territory.
ARROW_BYTES_PER_TASK = 8 << 20


def _arrow_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings frame with parallelism sized for an Arrow kernel.

    load()'s compute fan-out targets Catalyst expressions, whose
    per-partition overhead is nil — it happily fans a 2000-row corpus
    to 32 partitions.  A mapInArrow stage pays a Python-worker
    round-trip PER PARTITION, so the right parallelism follows data
    volume: ceil(bytes / ARROW_BYTES_PER_TASK), capped at the cluster's
    parallelism.  A tiny corpus stays in one batch; a 100 TB corpus is
    multi-file and already scans with >= target splits (no repartition
    added — the condition only widens a too-narrow scan).
    """
    e = load(spark, sf_dir, "embeddings", fanout=False)
    try:
        _, nbytes = _table_sizes(
            spark, os.path.join(sf_dir, "embeddings.parquet")
        )
    except Exception:
        return e  # unlistable (remote, permissions): trust scan splits
    target = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-nbytes // ARROW_BYTES_PER_TASK)),
    )
    if e.rdd.getNumPartitions() < target:
        e = e.repartition(target)
    return e


def cosine_topk_arrow(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
) -> DataFrame:
    """Arrow/numpy twin of :func:`cosine_topk` — identical results.
    At sf0.1 both run ~0.5 s (fixed overhead dominates and the two
    trade places run to run); the Arrow kernel's advantage grows with
    corpus size, where per-batch matmul throughput, not job overhead,
    sets the rate.

    When the per-row math is dense linear algebra (64-dim dot products
    against every query), one numpy matmul per Arrow batch beats
    Catalyst's interpreted higher-order aggregates.  The query set is
    collected (it is small by definition: the top-k probe side) and
    broadcast as a dense matrix; each corpus partition emits only its
    per-query partial top-k, so the final ranking shuffles
    |queries|*k*|partitions| rows, never the corpus.
    """
    import numpy as np

    from hadoop_logfile_inputformat_spark.operators.tables import load

    e = _arrow_corpus(spark, sf_dir)
    # The query side bypasses load()'s compute fan-out: it is a
    # filtered skim destined for the driver, and the repartition
    # exchange the corpus side wants would tax this small job with a
    # shuffle (measured: the fan-out, not the scan, was this guard's
    # dominant cost).  The size guard rides the SAME job as the fetch:
    # toLocalIterator streams partitions to the driver and stops at
    # MAX+1 rows, so driver memory stays bounded without a separate
    # count scan (a count+collect pays two jobs; a limit+collect falls
    # into CollectLimit's sequential partition scale-up, measured 13x
    # slower).  The query side is small by contract, so the iterator's
    # partition-sequential fetch is one or two tiny cached batches.
    qside = load(spark, sf_dir, "embeddings", fanout=False).filter(
        F.col("vec_id") % query_modulus == 0
    ).select("vec_id", "embedding")
    qrows = []
    for row in qside.toLocalIterator(prefetchPartitions=True):
        qrows.append(row)
        if len(qrows) > MAX_ARROW_QUERIES:
            raise ValueError(
                f"cosine_topk_arrow: query side exceeds "
                f"{MAX_ARROW_QUERIES} rows (query_modulus="
                f"{query_modulus}); the collected-and-broadcast query "
                "matrix would not fit on the driver — raise the "
                "modulus or use ann_ivf_topk for corpus-vs-corpus "
                "search"
            )
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank long"
        )
    q_ids = np.array([r.vec_id for r in qrows])
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((q_ids, Qn))

    def score(batches):
        # mapInArrow, not mapInPandas: the embedding column arrives as
        # an Arrow ListArray whose values buffer flattens/reshapes into
        # the (n, dim) matrix with NO per-row Python list
        # materialization — the conversion dominated the pandas
        # version's batch cost.
        import pyarrow as pa

        q_ids, Qn = bq.value
        for batch in batches:
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            emb = batch.column("embedding")
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            M = flat.reshape(len(ids), -1).astype(np.float64, copy=False)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            # round BEFORE local selection: the global window ranks the
            # rounded sim with neighbor_id tie-break, so the partition-
            # local top-k must use the same ordering or a borderline
            # tie could keep a different neighbor than the Catalyst
            # twin / oracle would
            S = np.round(Mn @ Qn.T, 4)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                col = S[:, qi]
                mask = ids != q_ids[qi]
                take = min(k, int(mask.sum()))
                if take <= 0:
                    continue
                cand_sim, cand_ids = col[mask], ids[mask]
                order = np.lexsort((cand_ids, -cand_sim))[:take]
                out_q.append(np.full(take, q_ids[qi], dtype=np.int64))
                out_n.append(cand_ids[order])
                out_s.append(cand_sim[order])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), pa.int64()),
                    pa.array(np.concatenate(out_n).astype(np.int64), pa.int64()),
                    pa.array(np.concatenate(out_s), pa.float64()),
                ],
                names=["query_id", "neighbor_id", "sim"],
            )

    partial = e.select("vec_id", "embedding").mapInArrow(
        score, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


#: Product quantization: 64-dim vectors split into PQ_M subspaces of
#: PQ_SUBDIM dims; per subspace the codebook entries are the exemplar
#: subvectors (vec_id % PQ_CODEBOOK_MODULUS == 0 — same deterministic
#: stand-in for sampled k-means that IVF uses for centroids).
PQ_M = 8
PQ_SUBDIM = 8
PQ_CODEBOOK_MODULUS = 25
#: ADC shortlist size: the exact re-rank touches only this many
#: candidates per query (the standard IVF-PQ + re-rank shape).  This
#: is the BASE depth — the anchor of :func:`recommended_rerank`'s
#: corpus-size scaling, and the resolved depth at every corpus up to
#: :data:`RERANK_REF_CORPUS` (all fixture/bench scales).
PQ_RERANK = 50

#: Anchor corpus size of the measured rerank-depth law (SCALING.md's
#: rerank tables): the x10 soak corpus (20k vectors), where
#: ``PQ_RERANK`` was measured to be a sane operating point.
RERANK_REF_CORPUS = 20_000

#: Exponent of the corpus-size rerank law.  Measured (SCALING.md, the
#: x10/x100 rerank tables): recall at a FIXED depth falls ~1/2.5 per
#: 10x corpus while recall grows ~linearly in depth at both scales —
#: so holding recall needs depth x2.5 per 10x corpus, i.e. depth ∝
#: n^(log10 2.5) ≈ n^0.4.  The cost side makes this affordable: the
#: exact re-rank fetch is |queries| x depth rows through the vec_id
#: bucketing — corpus-size-INDEPENDENT by construction — and the
#: measured probe wall moved ≤ 15% for 10x the depth.
RERANK_SCALE_EXP = 0.39794  # log10(2.5)


def recommended_rerank(n_corpus: int | None, base: int = PQ_RERANK) -> int:
    """Corpus-size-aware exact-rerank shortlist depth for the PQ/ADC
    tiers, derived from the measured scale law (SCALING.md, the
    rerank-depth sizing tables; r14 closes the r13 verdict's "the
    fixed default fights the measured law" gap):

    ``depth(n) = base * (n / RERANK_REF_CORPUS) ** RERANK_SCALE_EXP``,
    floored at ``base`` — so every corpus at or below the 20k anchor
    (all fixture, gate, and bench scales) resolves to exactly
    ``PQ_RERANK`` and gated plans/values don't move, while a 200k
    corpus reads ~126 and a 2M corpus ~316 (depth x2.5 per 10x,
    holding the recall the anchor depth bought at 20k).

    Monotone non-decreasing in ``n_corpus`` (pinned in
    tests/test_qstats.py).  ``None`` (unknown size) returns ``base``.
    """
    if n_corpus is None or n_corpus <= RERANK_REF_CORPUS:
        return base
    import math

    return int(
        math.ceil(base * (n_corpus / RERANK_REF_CORPUS) ** RERANK_SCALE_EXP)
    )


def _pq_parts(v, id_col: str = "vec_id", carry: tuple = ()):
    """(id, [carry...], m, sub): the PQ_M subvectors of each quantized
    vector — the row form the modulus codebook, the Lloyd's codebook
    training and the per-query ADC lookup tables are built from.
    ``carry`` columns of ``v`` ride along per part row."""
    sub = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice("q", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
                )
                for m in range(PQ_M)
            ]
        )
    )
    return v.select(
        F.col("vec_id").alias(id_col), *carry, sub.alias("s")
    ).select(
        id_col, *carry, F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def ann_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
    rerank: int | None = None,
    codebook_modulus: int | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Product-quantization ADC shortlist + exact re-rank — the
    memory-floor ANN tier.

    Composes with scalar quantization: vectors are first int8-quantized
    (:func:`quantized_vectors`), then each is stored as PQ_M codebook
    ids (the argmin-L2 entry per subspace) — at production layout M
    bytes per vector instead of 4·dim, a further 32x under int8 and the
    representation that keeps a 100 TB corpus's index resident.  Search
    is two-tier: asymmetric distance computation first — per query, dot
    products against the (tiny, broadcast) codebook give a lookup
    table, and a corpus vector's approximate similarity is the sum of
    its codes' table entries, never a full-dimension dot against the
    corpus — then an EXACT re-rank of only the ``rerank``-sized ADC
    shortlist (the standard IVF-PQ + re-rank shape: full vectors are
    fetched for a constant number of candidates per query, so recall is
    set by shortlist membership, not by quantization error in the final
    ordering).

    Cross-engine exactness (the property that makes this
    value-hash-checkable): quantized components are integer-valued, so
    encoding scores (``|c|² − 2·x·c``), ADC partial dots, and
    reconstructed norms are all EXACT in double arithmetic — argmin and
    SUM are order-insensitive, unlike float PQ where the grouped sum's
    fold order would differ between engines.  Ties in encoding break to
    the lowest entry id.  Recall vs the exact ranking is asserted in
    tests; like IVF's modulus centroids, the deterministic codebook
    stands in for sampled k-means so the full build/encode/search
    pipeline stays SQL-expressible.  The codebook modulus is the same
    adaptive :func:`_effective_modulus` as IVF's: a fixed modulus grows
    the codebook ∝ N and makes the encode join |corpus| x |codebook| —
    the x100 soak measured an 8000-entry codebook and ~1.3e10 scored
    encode rows; fixture scales resolve to the plain modulus (oracle
    parity).  The cap is :data:`PQ_ENTRY_TARGET` (~320 entries, r13),
    NOT the routing tier's ~80: codebook entries must DESCRIBE residual
    structure, not just route, and the measured recall-vs-budget table
    (SCALING.md) shows the shared 80-entry cap delivering recall@5
    ≈ 0.03-0.07 on clustered geometry.
    """
    v = quantized_vectors(spark, sf_dir)
    if rerank is None:
        # corpus-size-aware shortlist depth (r14): the measured rerank
        # law — fixture/gate/bench scales (≤ 20k) resolve to PQ_RERANK
        rerank = recommended_rerank(cached_count(spark, sf_dir, "embeddings"))
    if codebook_modulus is not None:
        # explicit pin (oracle binding: ann_pq_topk_portable) — never
        # follow the adaptive pick, whatever the corpus size
        eff_mod = codebook_modulus
    else:
        eff_mod = _effective_modulus(
            cached_count(spark, sf_dir, "embeddings"),
            PQ_CODEBOOK_MODULUS,
            PQ_ENTRY_TARGET,
        )
    cb = _pq_modulus_codebooks(v, eff_mod)
    queries = v.filter(F.col("vec_id") % query_modulus == 0)
    return _pq_adc_search(v, cb, queries, k=k, rerank=rerank, metric=metric)


def _pq_modulus_codebooks(v: DataFrame, eff_mod: int) -> DataFrame:
    """(m, entry_id, c_sub, c_nrm2): the deterministic modulus codebook
    — entries are the subvectors of every ``vec_id % eff_mod == 0``
    corpus vector (the SQL-expressible stand-in for sampled k-means
    that keeps :func:`ann_pq_topk` value-hash-checkable)."""
    return (
        _pq_parts(v.filter(F.col("vec_id") % eff_mod == 0), "entry_id")
        .select("m", "entry_id", F.col("sub").alias("c_sub"))
        .withColumn("c_nrm2", F.expr(
            "aggregate(c_sub, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"
        ))
    )


#: Vector budget for OPQ rotation training: the second-moment explode
#: generates n × d²/2 rows, so builders subsample to ~this many
#: vectors (statistics, not membership — published OPQ trains on
#: 10-100k samples regardless of corpus size).
OPQ_TRAIN_SAMPLE = 50_000


def _opq_sample_modulus(n: int | None) -> int:
    """Deterministic ``vec_id %`` modulus that leaves AT MOST
    ~OPQ_TRAIN_SAMPLE training vectors; 1 (no sampling) when the
    corpus is already small or its size is unknown.  CEILING division
    (r13 ADVICE fix): floor let n just under 2x the budget (e.g.
    99,999 -> modulus 1) retain the WHOLE corpus — up to 2x the
    documented bound, ~205M exploded second-moment rows and, for
    ``rotation='opq-np'``, a driver collect of ~100k sample rows."""
    if n is None or n <= OPQ_TRAIN_SAMPLE:
        return 1
    return max(1, -(-n // OPQ_TRAIN_SAMPLE))


def learn_opq_rotation(
    v: DataFrame,
    vec_col: str = "q",
    sample_modulus: int = 1,
    refine_iters: int = 0,
    n_entries: int | None = None,
    n_corpus: int | None = None,
) -> list:
    """Parametric OPQ rotation (Ge, He, Ke, Sun, "Optimized Product
    Quantization", CVPR 2013/TPAMI 2014, §4 "OPQ-P"): eigendecompose
    the data second-moment and allocate eigen-directions to the PQ_M
    subspaces BALANCING the per-subspace variance product, so no
    subspace is left encoding most of the energy with the same entry
    budget as one encoding noise — the standard public fix for the low
    ADC recall of PQ through unrotated, energy-concentrated data
    (exactly what clustered/real encoder embeddings are; isotropic
    data gains nothing, which the fixture measurements state
    honestly).  Returns the d × d orthonormal rotation as a
    list-of-rows; rotated x = R @ x.  Orthonormality means dots and
    norms are preserved, so ADC similarities computed in rotated space
    ARE the original-space similarities — only the quantization grid
    changes.

    One corpus pass (``sample_modulus`` subsamples it — OPQ training
    is statistics, not membership): the (i, j) second-moment partial
    sums are map-side combined, d²/2 rows reach the driver, and numpy
    does the d × d eigendecomposition driver-side (d = 64 here —
    model-sized by construction, like every literal this package
    inlines).  SCALE NOTE: the explode generates n × d²/2 intermediate
    rows before the combine, so the builders pass a sample modulus
    targeting :data:`OPQ_TRAIN_SAMPLE` vectors (deterministic ``vec_id
    %`` — the same stand-in-for-sampling discipline as the modulus
    codebooks); a 100 TB corpus trains its rotation on ~50k vectors
    like every published OPQ does, never on the corpus.  Deterministic
    given the input data up to float fold order; indexes STORE the
    rotation they were built with (rows with ``m = -1`` on the
    codebooks table), and appends/probes read the stored matrix, so
    lifecycle bit-equality never depends on re-learning.

    ``refine_iters > 0`` adds Ge et al.'s NON-parametric refinement
    (OPQ-NP): alternate per-subspace codebook training in the current
    rotated space with the orthogonal-Procrustes update ``R = V Uᵀ``
    of ``SVD(Σ x x̂ᵀ)`` — run entirely driver-side on the same bounded
    sample (numpy; a few MB).  ``n_entries`` sets the refinement's
    internal codebook budget and MUST match the build's for the
    refinement to optimize the production grid (the builders pass it;
    r12 ADVICE).  When omitted, the fallback derives the modulus-family
    budget from ``n_corpus`` (pass the CORPUS size when calling with a
    subsample, r14 ADVICE — deriving it from the sample would refine
    against a far smaller grid, e.g. 25 entries for a 2k sample of a
    200k corpus training 320), last-resort from the sample size when
    neither is given.  The builders
    expose it as ``rotation="opq-np"``.  Measured honestly (r12, the
    clustered fixtures): NP ≈ parametric here — flat tier 0.628 vs
    0.644, x10 composite 0.104 vs 0.098 (after matching NP's internal
    budget to the build's) — because the gain on this data is
    eigenvalue-allocation-shaped, which the parametric init already
    captures; ``"opq"`` is the cheap recommended default, NP is kept
    because real encoder corpora with correlated subspaces are where
    the published gains live."""
    import numpy as np

    d = PQ_M * PQ_SUBDIM
    s = v
    if sample_modulus > 1:
        s = v.filter(F.col("vec_id") % sample_modulus == 0)
    mom = (
        s.select(F.posexplode(vec_col).alias("i", "xi"), F.col(vec_col).alias("x"))
        .select("i", F.col("xi").cast("double").alias("xi"),
                F.posexplode("x").alias("j", "xj"))
        .filter(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj").cast("double")).alias("s"))
        .collect()
    )
    C = np.zeros((d, d))
    for r in mom:
        C[r["i"], r["j"]] = r["s"]
        C[r["j"], r["i"]] = r["s"]
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1]
    w, V = w[order], V[:, order]
    for k in range(d):  # canonical sign: max-|component| positive
        if V[int(np.argmax(np.abs(V[:, k]))), k] < 0:
            V[:, k] = -V[:, k]
    # greedy balanced allocation: next (largest) eigenvalue goes to
    # the subspace with the smallest current log-variance-product
    # that still has a free slot — Ge et al.'s eigenvalue allocation
    import math as _math

    logs = [0.0] * PQ_M
    slots: list = [[] for _ in range(PQ_M)]
    for idx in range(d):
        m = min(
            (mm for mm in range(PQ_M) if len(slots[mm]) < PQ_SUBDIM),
            key=lambda mm: (logs[mm], mm),
        )
        slots[m].append(idx)
        logs[m] += _math.log(max(float(w[idx]), 1e-12))
    R = np.array(
        [V[:, idx] for m in range(PQ_M) for idx in slots[m]]
    )
    if refine_iters > 0:
        # NON-PARAMETRIC refinement (Ge et al. §3, "OPQ-NP"):
        # alternate (a) train per-subspace codebooks in the current
        # rotated space, (b) solve the orthogonal Procrustes problem
        # R = argmax tr(R · Σ x x̂ᵀ) = V Uᵀ of that cross-moment's SVD.
        # Runs ENTIRELY driver-side on the SAME bounded training
        # sample (≤ OPQ_TRAIN_SAMPLE × d doubles — a few MB,
        # model-sized like every literal this package inlines); the
        # final production codebooks are still trained by the build in
        # the final rotated space, distributively.  The refinement's
        # internal k-means is deterministic: init = the n_entries
        # lowest-vec_id sample rows' subvectors, ties and empties keep
        # the previous entry.
        rows = s.select("vec_id", F.col(vec_col).alias("x")).orderBy(
            "vec_id"
        ).collect()
        X = np.array([[float(t) for t in r["x"]] for r in rows])
        nb = n_corpus if n_corpus is not None else len(X)
        ne = n_entries or max(
            2, nb // _effective_modulus(
                nb, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET
            )
        )
        ne = min(ne, len(X))
        for _ in range(refine_iters):
            Y = X @ R.T
            Yq = np.empty_like(Y)
            for m in range(PQ_M):
                sub = Y[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
                cents = sub[:ne].copy()
                for _k in range(3):
                    d2 = (
                        (sub * sub).sum(1)[:, None]
                        - 2 * sub @ cents.T
                        + (cents * cents).sum(1)[None, :]
                    )
                    assign = d2.argmin(1)
                    for e in range(ne):
                        mask = assign == e
                        if mask.any():
                            cents[e] = sub[mask].mean(0)
                # re-assign against the FINAL means: the reconstruction
                # must use the codebook the Procrustes step sees, not
                # the pre-update assignment
                d2 = (
                    (sub * sub).sum(1)[:, None]
                    - 2 * sub @ cents.T
                    + (cents * cents).sum(1)[None, :]
                )
                Yq[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM] = cents[
                    d2.argmin(1)
                ]
            A = X.T @ Yq  # Σ x x̂ᵀ
            U, _sv, Vt = np.linalg.svd(A)
            R = Vt.T @ U.T
    return [[float(x) for x in row] for row in R]


def _rotate_expr(vec_col: str, R: list) -> str:
    """SQL for ``R @ <vec_col>`` with the (model-sized, d × d)
    rotation inlined as a nested array literal — a pure projection,
    same no-exchange discipline as the encode.  CALLERS MUST PIN the
    rotated frame before feeding it to :func:`_pq_encode_bcast` (the
    upstream-HOF re-inline landmine:
    unpinned, the d² rotation would re-evaluate once per codebook
    entry)."""
    rlit = "array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
        for row in R
    ) + ")"
    return (
        f"transform({rlit}, r -> aggregate(zip_with(r, {vec_col},"
        f" (a, b) -> a * CAST(b AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, t) -> acc + t))"
    )


def _rotation_rows(
    spark: SparkSession, R: list, kind: str = "opq"
) -> DataFrame:
    """The rotation as codebook-table rows: ``m = -1`` marks them (a
    real subspace id is 0..PQ_M-1, so every consumer — the
    encode's by-``m`` entry selection, the probe LUT's join on the
    query parts' ``m`` — is naturally blind to them), ``entry_id``
    orders the rows, ``c_sub`` carries the row vector.  Riding the
    codebooks table means :func:`maintenance.register_index` carries
    the rotation across sessions for free, exactly like ``metric=``
    on the centroids table.

    ``c_nrm2`` is meaningless on these marker rows, so it carries the
    rotation KIND (r13 ADVICE fix): 2.0 = ``"opq-np"``, 1.0 =
    parametric ``"opq"`` (and every pre-r13 index, which only the
    parametric path wrote) — so retrains re-learn with the SAME
    refinement the index was built with instead of silently
    downgrading NP to parametric."""
    return local_df(
        spark,
        [(-1, i, row) for i, row in enumerate(R)],
        "m int, entry_id int, c_sub array<double>",
    ).withColumn("c_nrm2", F.lit(2.0 if kind == "opq-np" else 1.0))


def _read_rotation_kind(cb: DataFrame) -> str | None:
    """The persisted rotation KIND of a codebooks table/frame: ``None``
    (unrotated), ``"opq"`` (parametric, incl. pre-r13 and explicit
    pre-learned matrices), or ``"opq-np"`` — read from the ``c_nrm2``
    tag of the ``m = -1`` marker rows (see :func:`_rotation_rows`)."""
    row = (
        cb.filter(F.col("m") == -1).select("c_nrm2").limit(1).collect()
    )
    if not row:
        return None
    return "opq-np" if float(row[0]["c_nrm2"]) == 2.0 else "opq"


def _read_rotation(cb: DataFrame) -> list | None:
    """The stored OPQ rotation of a codebooks table/frame (rows with
    ``m = -1``), or None for an unrotated index."""
    rows = cb.filter(F.col("m") == -1).select("entry_id", "c_sub").collect()
    if not rows:
        return None
    rows.sort(key=lambda r: r["entry_id"])
    return [[float(x) for x in r["c_sub"]] for r in rows]


def _read_rotation_cached(spark: SparkSession, name: str) -> list | None:
    """:func:`_read_rotation` for a PERSISTED index, memoized on the
    codebooks table's file signature (the :func:`_table_files_key`
    discipline): a serving loop probes the same frozen index per
    query frame, and the rotation read is one tiny collect it needn't
    re-pay — while any rebuild/retrain (new part filenames) misses the
    cache, including foreign-session ones.  Falls back to the plain
    read when the signature probe fails."""
    table = f"{name}_codebooks"
    sig = _table_files_key(spark, table)
    if sig is None:
        return _read_rotation(spark.table(table))
    key = ("rot", spark.sparkContext.applicationId, table, sig)
    if key in _ASSIGN_RENDER_CACHE:
        return _ASSIGN_RENDER_CACHE[key]
    R = _read_rotation(spark.table(table))
    _ASSIGN_RENDER_CACHE[key] = R
    while len(_ASSIGN_RENDER_CACHE) > _ASSIGN_RENDER_CACHE_MAX:
        _ASSIGN_RENDER_CACHE.popitem(last=False)
    return R


def _live_quantized_count(spark: SparkSession, name: str) -> int | None:
    """Row count of a PQ-family index's ``<name>_quantized`` table —
    the live corpus size :func:`recommended_rerank` sizes the ADC
    shortlist against — memoized on the table's file signature (the
    :func:`_read_rotation_cached` discipline), so a serving loop that
    probes a frozen index pays the count ONCE and any append / retrain
    / compaction / foreign-session rebuild (new part filenames) misses
    the cache and recounts.  Returns ``None`` when the table doesn't
    exist (callers fall back to the base depth)."""
    table = f"{name}_quantized"
    if not spark.catalog.tableExists(table):
        return None
    sig = _table_files_key(spark, table)
    if sig is None:
        return spark.table(table).count()
    key = ("nquant", spark.sparkContext.applicationId, table, sig)
    if key in _ASSIGN_RENDER_CACHE:
        return _ASSIGN_RENDER_CACHE[key]
    n = spark.table(table).count()
    _ASSIGN_RENDER_CACHE[key] = n
    while len(_ASSIGN_RENDER_CACHE) > _ASSIGN_RENDER_CACHE_MAX:
        _ASSIGN_RENDER_CACHE.popitem(last=False)
    return n


def _routing_geometry(spark: SparkSession, name: str) -> float | None:
    """The tier verdict's geometry statistic for index ``name``: the
    seed's mean nearest-centroid COSINE.  Preferred source is the
    ``_qstats`` row's ``routing_cos`` (r16 — written under EVERY
    serving metric, so l2/ip indexes get a real geometry reading
    instead of a data-scaled ledger value); pre-r16 indexes fall back
    to the ``_stats`` seed row, which IS the routing cosine exactly
    when the serving metric is cosine and is unusable (None) otherwise.
    One 1-row read either way — callers memoize per generation."""
    qt = f"{name}_qstats"
    if spark.catalog.tableExists(qt):
        spark.catalog.refreshTable(qt)
        qrows = spark.table(qt).collect()
        if qrows:
            qd = qrows[0].asDict()
            if qd.get("routing_cos") is not None:
                return qd["routing_cos"]
    st = f"{name}_stats"
    if not spark.catalog.tableExists(st):
        return None
    metric = (
        _index_metric(spark, name)
        if spark.catalog.tableExists(f"{name}_centroids")
        else "cosine"
    )
    if metric != "cosine":
        return None
    rows = (
        spark.table(st)
        .filter(F.col("batch_id") == -1)
        .select("mean_sim")
        .collect()
    )
    return rows[0]["mean_sim"] if rows else None


def _warn_if_tier_limited(
    spark: SparkSession, name: str, live_n: int | None
) -> None:
    """Probe-time surfacing of the tier verdict (r15): an operator who
    never runs DESCRIBE-INDEX still learns, once, that the ADC tier's
    measured ceiling binds for this index.  Same memo key discipline
    as :func:`_live_quantized_count` (file signature of the ledger →
    one 1-row read per index generation, zero cost on subsequent
    probes of a frozen index).  ``warnings.warn`` rather than logging:
    serving loops commonly run with Spark logging quieted, and the
    message is actionable exactly once.  Never changes results —
    callers' plans and outputs are untouched.

    Memoized in a DEDICATED store, not ``_ASSIGN_RENDER_CACHE`` (r15
    ADVICE): the shared 32-entry memo evicts under pressure from
    rotation/count keys across many indexes, which would re-fire a
    "once" warning.
    The key embeds the ledger's file signature, so a retrain/append
    (new generation) naturally re-arms the warning."""
    import warnings

    st = f"{name}_stats"
    if live_n is None or not spark.catalog.tableExists(st):
        return
    sig = _table_files_key(spark, st)
    key = ("tierwarn", spark.sparkContext.applicationId, name, sig)
    if key in _TIER_WARNED:
        return
    _TIER_WARNED.add(key)
    while len(_TIER_WARNED) > _TIER_WARNED_MAX:
        _TIER_WARNED.pop()
    spark.catalog.refreshTable(st)
    seed = _routing_geometry(spark, name)
    if tier_limited("residual", seed, live_n):
        warnings.warn(
            f"index '{name}': clustered routing geometry (seed cosine "
            f"{seed:.3f}) at {live_n} live vectors — the IVFPQ ADC "
            "tier's measured recall ceiling binds here and neither "
            "entry budget, rerank depth, nor nprobe escapes it; "
            "prefer the flat-PQ tier (see index_info()['quantization']"
            "['tier_hint'] and SCALING.md's composed-remedy grid)",
            stacklevel=3,
        )


def _exact_rerank(
    shortlist: DataFrame, qs: DataFrame, ns: DataFrame, k: int,
    metric: str = "cosine",
) -> DataFrame:
    """Exact re-rank of an ADC ``(query_id, neighbor_id)`` shortlist,
    shared by every PQ-family search: fetch both sides' quantized
    vectors (|queries| × rerank rows — constant per query regardless
    of corpus size), score the exact int8 similarity under ``metric``,
    keep the top ``k``.  ``qs`` is ``(query_id, q_q, q_nrm)``
    (broadcast — query-set sized); ``ns`` is ``(neighbor_id, n_q,
    n_nrm)``, either the inline corpus frame or a vec_id-bucketed
    ``<name>_quantized`` table whose bucketing the fetch join consumes.

    ``metric`` (r16): same higher-is-better convention as
    :func:`_metric_score` — cosine (default, exact pre-r16 plan), raw
    inner product, or NEGATED squared L2 via the norm identity
    ``-(|q|² + |n|² − 2·q·n)`` (no per-element subtraction pass);
    non-cosine scores take the portable half-up rounding the oracled
    ``l2_topk``/``ip_topk`` members established."""
    dot = _dot("q_q", "n_q")
    if metric == "cosine":
        exact_sim = F.round(dot / (F.col("q_nrm") * F.col("n_nrm")), 4)
    elif metric == "ip":
        exact_sim = _round4_portable(dot)
    elif metric == "l2":
        exact_sim = _round4_portable(
            -(
                F.col("q_nrm") * F.col("q_nrm")
                + F.col("n_nrm") * F.col("n_nrm")
                - F.lit(2.0) * dot
            )
        )
    else:
        raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        shortlist.join(F.broadcast(qs), "query_id")
        .join(ns, "neighbor_id")
        .select("query_id", "neighbor_id", exact_sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _pq_encode_bcast(v: DataFrame, cb: DataFrame, carry: tuple = ()) -> DataFrame:
    """(vec_id, m, code, code_nrm2, code_dot, *carry): the one PQ
    encode kernel — every PQ-family build, append and inline ADC
    search encodes the vector frame ``v`` (column ``q``) through it
    against the codebook ``cb`` (``(m, entry_id, c_sub, c_nrm2)``).
    Per (vector, subspace) it picks argmin ||x − c||²; x·x is constant
    per subspace, so the score is ``|c|² − 2·x·c`` (exact integers under
    the modulus codebook, double arithmetic under learned entries), ties
    to the lowest entry_id.  ``code_dot`` is the subvector's dot with
    its CHOSEN entry, recovered from the argmin's own score — summed
    over m it is the ADC self-similarity numerator the PQ drift ledger
    uses, at zero extra scoring.  ``carry`` columns of ``v`` (per-vector
    constants such as centroid_id, nrm) ride through unchanged.

    The codebook reaches every task as ONE broadcast row: ``__cbm``
    holds PQ_M entry arrays, the i-th built from the rows whose OWN
    ``m`` is i (rotation marker rows, ``m = -1``, are never selected).
    A subspace without entries fails the job (``raise_error``) instead
    of scoring later subspaces against the wrong entries.  All PQ_M
    argmins run in one projection over the corpus — no corpus-side
    join key, regroup or Exchange — followed by one explode."""
    cbm = (
        cb.groupBy("m")
        .agg(F.expr("collect_list(struct(entry_id, c_sub, c_nrm2)) AS es"))
        .agg(F.expr("collect_list(struct(m, es)) AS __all"))
        .select(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), i -> coalesce("
                "get(filter(__all, x -> x.m = i), 0).es,"
                " raise_error(concat('codebook has no entries for subspace m=',"
                " CAST(i AS STRING))))) AS __cbm"
            )
        )
    )
    best = F.expr(
        "transform(__cbm, (es, i) -> array_min(transform(es, e ->"
        " struct(e.c_nrm2 - 2 * aggregate(zip_with("
        f"slice(q, i * {PQ_SUBDIM} + 1, {PQ_SUBDIM}), e.c_sub,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS s,"
        " e.entry_id AS eid, e.c_nrm2 AS n2))))"
    )
    # the argmin array gets its OWN projection BELOW the explode —
    # collapsing them would hoist the whole M-argmin above the Generate
    # and recompute it per exploded element (the Lloyd's-training trap).
    # posexplode_outer, not posexplode: Spark infers `size(_enc) > 0`
    # under an inner generator and inlines the M-way argmin into that
    # filter (or the join condition), encoding every vector twice; the
    # array always holds PQ_M entries, so the rows are the same
    enc = (
        v.join(F.broadcast(cbm), how="cross")
        .select("vec_id", *carry, best.alias("_enc"))
        .select("vec_id", *carry, F.posexplode_outer("_enc").alias("m", "ce"))
    )
    return enc.select(
        "vec_id",
        "m",
        F.col("ce.eid").alias("code"),
        F.col("ce.n2").alias("code_nrm2"),
        ((F.col("ce.n2") - F.col("ce.s")) / 2).alias("code_dot"),
        *carry,
    )


def _pq_adc_search(
    v: DataFrame,
    cb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    rerank: int = PQ_RERANK,
    metric: str = "cosine",
) -> DataFrame:
    """The PQ search stage shared by :func:`ann_pq_topk` (modulus
    codebooks) and :func:`ann_pq_topk_kmeans` (learned codebooks):
    encode the quantized corpus ``v`` against ``cb``, ADC-shortlist the
    ``queries`` subset (rows of ``v``), exact-re-rank the shortlist.
    The plan shape — broadcast codebook encode as a PURE PROJECTION
    (:func:`_pq_encode_bcast`: the codebook rides as one broadcast row
    of per-subspace entry arrays and the argmin evaluates in place,
    never a corpus regroup), broadcast LUT, constant re-rank fetches
    per query — identical for both codebook families.  Encoding is
    ``|c|² − 2·x·c`` double arithmetic (exact — integer-valued
    quantized components) with the (score, lowest entry_id)
    tie-break, gated by the ann_variants_pack value-hash.  ``metric``
    (r16) swaps only the two score expressions (ADC + re-rank), same
    contract as
    :func:`ann_pq_probe`; integer-valued quantized components keep
    every pre-round double exact, so the l2/ip forms stay
    value-hash-checkable cross-engine."""
    codes = _pq_encode_bcast(v, cb)
    # per-query lookup table: dot of each query subvector with each
    # codebook entry (|queries| × PQ_M × |codebook| rows — broadcast)
    lut = (
        _pq_parts(queries, "query_id")
        .join(F.broadcast(cb), "m")
        .select("query_id", "m", "entry_id", _dot("sub", "c_sub").alias("pdot"))
    )
    q_nrm = queries.select(F.col("vec_id").alias("query_id"), F.col("nrm").alias("q_nrm"))
    # ADC: sum the M table entries selected by the vector's codes.
    # Integer-valued pdot/code_nrm2 make the grouped sums exact in any
    # order; map-side partials collapse the M rows before the shuffle.
    hits = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.entry_id),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdot").alias("adc"), F.sum("code_nrm2").alias("rnrm2"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    if metric == "cosine":
        adc_sim = F.round(
            F.col("adc") / (F.col("q_nrm") * F.sqrt("rnrm2")), 4
        )
    elif metric == "ip":
        adc_sim = _round4_portable(F.col("adc"))
    elif metric == "l2":
        adc_sim = _round4_portable(
            -(
                F.col("q_nrm") * F.col("q_nrm")
                + F.col("rnrm2")
                - F.lit(2.0) * F.col("adc")
            )
        )
    else:
        raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        hits.join(F.broadcast(q_nrm), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc_sim.alias("adc_sim"),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the shortlist only: two doc-id joins fetch the
    # quantized vectors of |queries| × rerank rows — constant work per
    # query regardless of corpus size.  qs comes from the QUERIES
    # frame (queries are rows of v, so values are identical) — deriving
    # it from v would put a corpus-sized frame under _exact_rerank's
    # broadcast hint.
    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("q_q"),
        F.col("nrm").alias("q_nrm"),
    )
    ns = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("n_q"),
        F.col("nrm").alias("n_nrm"),
    )
    return _exact_rerank(shortlist, qs, ns, k, metric=metric)


def ann_pq_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry/oracle binding of :func:`ann_pq_topk` with the codebook
    modulus PINNED to ``PQ_CODEBOOK_MODULUS`` (same contract as
    :func:`ann_ivf_topk_portable`: the DuckDB oracle hardcodes the
    fixed-modulus codebook, so the binding must never follow the
    adaptive :func:`_effective_modulus`)."""
    return ann_pq_topk(spark, sf_dir, codebook_modulus=PQ_CODEBOOK_MODULUS)


def ann_pq_topk_portable_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l2-serving twin of :func:`ann_pq_topk_portable` (r16): the
    same pinned-modulus codebook and two-tier ADC → exact-re-rank
    search, scored as negated squared L2 with the portable half-up
    rounding — the oracle binding that value-hashes the l2 ADC
    arithmetic the persisted-index probes
    (:func:`ann_pq_probe` / :func:`ann_ivfpq_probe` ``metric="l2"``)
    rank with.  Integer quantized components keep every pre-round
    double exact in both engines, same as the cosine member."""
    return ann_pq_topk(
        spark, sf_dir, codebook_modulus=PQ_CODEBOOK_MODULUS, metric="l2"
    )


def _pq_lloyd_iteration_means(parts: DataFrame, cents) -> DataFrame:
    """One joint-subspace PQ Lloyd's iteration as a DataFrame: assign
    every ``(m, sub)`` row of ``parts`` to its nearest codebook entry
    INLINE (the full M-subspace codebook is one nested array literal;
    ``element_at(CB, m + 1)`` picks the row's subspace, ``array_min``
    the argmin entry — no join, no ``groupBy(vec_id, m)`` regroup, so
    the corpus is never exchanged) and return the
    ``(m, entry_id, pos, mean)`` component means.  The single shuffle
    is the map-side-partial mean aggregate (M x n_entries x subdim
    partial rows per task) — plan-asserted in
    tests/test_plan_quality.py.  Ties break to the lowest entry_id,
    matching the former broadcast-join ``min_by``."""
    cb_sql = (
        "array(" + ",".join(_sql_centroid_array(cm) for cm in cents) + ")"
    )
    score = (
        "aggregate(zip_with(sub, c, (x, y) ->"
        " (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0.0 AS DOUBLE), (a, d) -> a + d)"
    )
    assign = F.expr(
        f"array_min(transform(element_at({cb_sql}, m + 1), (c, i) ->"
        f" struct({score} AS d, i AS eid))).eid"
    )
    # own projection below the explode — see _lloyd_iteration_means
    assigned = parts.select("m", assign.alias("entry_id"), "sub")
    return (
        assigned.select(
            "m", "entry_id", F.posexplode("sub").alias("pos", "val")
        )
        .groupBy("m", "entry_id", "pos")
        .agg(F.avg("val").alias("mean"))
    )


def pq_codebooks_kmeans(
    qv: DataFrame, n_entries: int, iters: int = 3
) -> DataFrame:
    """LEARNED per-subspace PQ codebooks: Lloyd's k-means over each of
    the PQ_M subvector spaces, trained JOINTLY — one corpus pass per
    iteration scores ALL subspaces against the broadcast codebook (a
    per-subspace loop would pay M passes).  Returns
    ``(m, entry_id, c_sub, c_nrm2)``, drop-in for the modulus codebook
    in :func:`_pq_adc_search` / ``<name>_codebooks``.

    This is production PQ (Jégou et al., "Product Quantization for
    Nearest Neighbor Search"): per-subspace k-means minimizes subspace
    quantization MSE, which is exactly the ADC approximation error —
    the modulus codebook (an arbitrary corpus subset) is the
    SQL-expressible stand-in, this is what a real index trains.

    Deterministic init mirrors :func:`kmeans_centroids`: the
    ``n_entries`` vectors with the lowest ``xxhash64(vec_id)`` seed
    every subspace (a hash-spread sample; raw-id init would inherit
    id↔content correlation).  Assignment ties break to the lowest
    entry_id; an emptied entry keeps its previous value.

    Scale shape per iteration: the full M-subspace codebook rides as
    ONE nested ``array`` literal inside a single projection
    (:func:`_pq_lloyd_iteration_means`) — each row picks its
    subspace's codebook with ``element_at(CB, m + 1)`` and assigns by
    inline ``array_min`` argmin, so the corpus is never joined or
    regrouped during training; the plan's only shuffle is the
    (m, entry_id, pos) mean aggregate whose result —
    M × n_entries × subdim rows, never the corpus — is what the driver
    collects.  Codebook entries are float means (unlike the integer
    modulus entries), so this family is bench/LIBRARY_ONLY: grouped
    float sums have no order-independent DuckDB replay.
    """
    spark = qv.sparkSession
    parts = _pq_parts(qv.select("vec_id", "q"))
    init = (
        qv.select("vec_id", "q")
        .orderBy(F.xxhash64("vec_id").asc(), F.col("vec_id").asc())
        .limit(n_entries)
        .collect()
    )
    if len(init) < n_entries:
        raise ValueError(
            f"need at least n_entries={n_entries} vectors, got {len(init)}"
        )
    # cents[m][e] = the e-th init vector's m-th subvector
    cents = [
        [
            [float(x) for x in r["q"][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]]
            for r in init
        ]
        for m in range(PQ_M)
    ]
    for _ in range(iters):
        means = _pq_lloyd_iteration_means(parts, cents).collect()
        # M x n_entries x PQ_SUBDIM rows — bounded, never the corpus
        new = {}
        for r in means:
            new.setdefault((r["m"], r["entry_id"]), [0.0] * PQ_SUBDIM)[
                r["pos"]
            ] = r["mean"]
        cents = [
            [new.get((m, e), cents[m][e]) for e in range(n_entries)]
            for m in range(PQ_M)
        ]
    return local_df(
        spark,
        [(m, e, cents[m][e]) for m in range(PQ_M) for e in range(n_entries)],
        "m int, entry_id int, c_sub array<double>",
    ).withColumn(
        "c_nrm2",
        F.expr("aggregate(c_sub, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"),
    )


def ann_pq_topk_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
    rerank: int | None = None,
    n_entries: int | None = None,
    iters: int = 3,
) -> DataFrame:
    """End-to-end LEARNED-codebook PQ: per-subspace k-means training
    pass → encode → ADC shortlist → exact re-rank, composed from
    :func:`pq_codebooks_kmeans` + :func:`_pq_adc_search` — the learned
    twin of :func:`ann_pq_topk`, exactly as :func:`ann_ivf_topk_kmeans`
    is the learned twin of :func:`ann_ivf_topk`.

    ``n_entries`` defaults to the modulus family's per-subspace entry
    count (``|corpus| / _effective_modulus``), holding the codebook
    budget constant so the learned entries buy equal-or-better
    quantization — asserted ``recall >= modulus baseline`` on a
    DISJOINT query set in tests/test_operators.py.

    Not oracle-expressible (iterative training, float-mean entries):
    bench ``LIBRARY_ONLY``, while the pinned modulus family stays the
    registry's portable binding.
    """
    v = quantized_vectors(spark, sf_dir)
    if rerank is None:
        rerank = recommended_rerank(cached_count(spark, sf_dir, "embeddings"))
    if n_entries is None:
        n = cached_count(spark, sf_dir, "embeddings")
        n_entries = max(
            2, n // _effective_modulus(n, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET)
        )
    t0 = time.monotonic()
    cb = pq_codebooks_kmeans(v, n_entries=n_entries, iters=iters)
    # the ADC search is lazy (caller's collect pays it): only training
    # is materialized here, so serve = caller-observed total − "t"
    LIFECYCLE_PHASES["ann_pq_topk_kmeans"] = {"t": time.monotonic() - t0}
    queries = v.filter(F.col("vec_id") % query_modulus == 0)
    return _pq_adc_search(v, cb, queries, k=k, rerank=rerank)


def embedding_near_dup_scale_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry/oracle binding of :func:`embedding_near_dup_scale` with
    the LSH geometry PINNED to the fixture shape (16 bands × 8 bits,
    128 planes).  The oracle replays EXACT all-pairs cosine; the pinned
    geometry is the one whose ~0.996 survival at the 0.9 threshold was
    verified against it — the adaptive default widens bands above
    ~``2^8 * LSH_TARGET_BUCKET`` vectors, which is the right production
    move but must never silently change what the gate compares."""
    return embedding_near_dup_scale(
        spark, sf_dir, band_bits=LSH_BAND_BITS, n_planes=N_HYPERPLANES
    )


SEMDEDUP_TAU = 0.95  # paper-typical threshold for real embedding spaces

#: Production default for :func:`semantic_dedup`'s ``max_cluster_size``:
#: bounds the intra-cluster quadratic stage at ~10k² pairs per cluster
#: (the SemDeDup paper's balanced-cluster operating point, SCALING.md
#: "Semantic dedup").  Callers needing exact-parity semantics (the
#: registry oracle binding) pass ``max_cluster_size=None`` explicitly.
SEMDEDUP_MAX_CLUSTER = 10_000

#: Sentinel so the guarded default above is resolved at CALL time —
#: tests can tighten ``SEMDEDUP_MAX_CLUSTER`` and still exercise the
#: true no-argument production path.
_DEFAULT_CAP = object()


def build_pq_index(
    spark: SparkSession,
    vectors: DataFrame,
    name: str,
    n_buckets: int = 32,
    path: str | None = None,
    codebooks: DataFrame | None = None,
    carry: tuple = (),
    rotation=None,
    rotation_kind: str | None = None,
    metric: str = "cosine",
) -> None:
    """Materialize the PQ search structure of ``vectors`` (any
    ``(vec_id, embedding)`` DataFrame): quantize + encode the corpus
    ONCE instead of per query.  Three tables:

    - ``<name>_codes`` (vec_id, m, code, code_nrm2), bucketed by
      vec_id — M small ints per vector, the resident ADC tier
      (bucketing lets :func:`append_to_pq_index` insert through the
      spec and compaction keep it);
    - ``<name>_quantized`` (vec_id, q, nrm), bucketed by vec_id — the
      re-rank fetch side, read through its bucketing;
    - ``<name>_codebooks`` (m, entry_id, c_sub, c_nrm2) — tiny, one
      file, broadcast at probe time;
    - the ``_batches`` replay log + ``_stats`` drift ledger (seed row:
      mean ADC self-similarity — see :func:`_pq_self_sim`), same
      append-lifecycle pair as the IVF/IVFPQ builders.

    Pass ``codebooks`` (``(m, entry_id, c_sub, c_nrm2)``, e.g. from
    :func:`pq_codebooks_kmeans` over the quantized corpus) to build
    over LEARNED codebooks — the encode pass and probe path are
    identical, only the codebook feed changes (the same contract as
    :func:`build_ivf_index`'s ``centroids``).  Default is the
    deterministic modulus codebook (same as :func:`ann_pq_topk`,
    including its adaptive :func:`_effective_modulus` cap).

    ``carry`` names metadata columns stored in the codes rows AND the
    quantized table — see :func:`build_ivfpq_index`; enables
    :func:`ann_pq_probe`'s ``member_filter`` pre-filter.

    ``rotation`` (r12): ``"opq"`` learns a parametric-OPQ rotation
    (:func:`learn_opq_rotation`) over the quantized corpus, a d × d
    list applies a pre-learned one, None (default) keeps the exact
    pre-r12 behavior.  Codebooks train and codes encode in ROTATED
    space; the rotation is stored on the codebooks table (``m = -1``
    rows) so appends and probes apply it transparently; the
    ``_quantized`` re-rank table stays in ORIGINAL space (rotation is
    orthonormal — ADC similarities are unchanged in meaning, only the
    quantization grid improves).  LIBRARY_ONLY: float matrix math has
    no SQL oracle; the gated members stay unrotated.

    ``metric`` (r16): the index's SERVING metric ("cosine" default,
    "l2", "ip") — stored as a column on the (tiny) codebooks table,
    exactly the :func:`build_ivf_index` pattern, so probes and
    retrains recover it for free; an absent column (every pre-r16
    index) reads as cosine.  Flat-PQ ENCODING is metric-independent
    (codes approximate the vector either way; the ``_stats``/
    ``_qstats`` ledgers record code fidelity, not ranking), so only
    the probe's ADC score and exact re-rank change shape — see
    :func:`ann_pq_probe`.  Metric fit against RAW-vector truth is
    NOT symmetric (SCALING.md "ADC ceiling on l2 ledgers"): int8
    per-vector scaling preserves direction, not magnitude — l2 runs
    at ~0.3-0.5x its cosine recall, and raw INNER-PRODUCT ranking is
    measured DESTROYED (~0.002 recall at every depth) because the
    scaling flattens exactly the norms ip ranks by.  Use
    ``metric="ip"`` here only for norm-normalized corpora (where ip
    is cosine); raw-ip workloads belong on the full-vector
    ``build_ivf_index(metric="ip")`` tier."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    if metric not in ("cosine", "l2", "ip"):
        raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")
    check_index_lease(spark, name, path)
    # persisted for the build (see build_ivfpq_index: the quantize HOF
    # would re-inline into the encode's per-entry lambdas)
    qv = quantize_frame(vectors, carry=carry).persist()
    R, n_qv = None, None
    # the stored kind tag (r13): learned rotations tag themselves;
    # a pre-learned matrix tags whatever the caller says it is
    # (retrains pass the prior kind through), default parametric
    rot_kind = rotation if rotation in ("opq", "opq-np") else (
        rotation_kind or "opq"
    )
    if rotation is not None:
        if rotation in ("opq", "opq-np"):
            n_qv = qv.count()
            R = learn_opq_rotation(
                qv,
                sample_modulus=_opq_sample_modulus(n_qv),
                refine_iters=2 if rotation == "opq-np" else 0,
                n_entries=max(
                    2,
                    n_qv // _effective_modulus(
                        n_qv, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET
                    ),
                ) if rotation == "opq-np" else None,
            )
        else:
            R = rotation
    enc_src = qv
    if R is not None:
        # pinned: the d x d rotation HOF would re-inline into every
        # per-entry lambda of the encode
        enc_src = qv.withColumn("q", F.expr(_rotate_expr("q", R))).persist()
    if codebooks is not None:
        cb = codebooks.select("m", "entry_id", "c_sub", "c_nrm2")
    else:
        if n_qv is None:
            n_qv = qv.count()
        eff_mod = _effective_modulus(
            n_qv, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET
        )
        cb = _pq_modulus_codebooks(enc_src, eff_mod)
    # codes feed two consumers (the table write + the seed self-sim
    # agg); narrow rows (M ints + one double per vector), so the
    # persist is the resident-index footprint by construction
    codes = _pq_encode_bcast(enc_src, cb, carry=("nrm", *carry)).persist()
    try:
        cw = (
            codes.select("vec_id", "m", "code", "code_nrm2", *carry)
            .repartition(n_buckets, F.col("vec_id"))
            .write.bucketBy(n_buckets, "vec_id")
            .sortBy("vec_id")
            .mode("overwrite")
            .format("parquet")
        )
        if path is not None:
            cw = cw.option("path", f"{path}/{name}_codes")
        else:
            clear_orphaned_table(spark, f"{name}_codes")
        cw.saveAsTable(f"{name}_codes")
        seed = (
            _pq_self_sim(codes)
            .agg(F.count("*").alias("n"), F.avg("c_sim").alias("s"))
            .collect()[0]
        )
    finally:
        codes.unpersist(blocking=False)
    qw = (
        qv.repartition(n_buckets, F.col("vec_id"))
        .write.bucketBy(n_buckets, "vec_id")
        .sortBy("vec_id")
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        qw = qw.option("path", f"{path}/{name}_quantized")
    else:
        clear_orphaned_table(spark, f"{name}_quantized")
    qw.saveAsTable(f"{name}_quantized")
    cb_out = cb if R is None else cb.select(
        "m", "entry_id", F.col("c_sub").cast("array<double>").alias("c_sub"),
        "c_nrm2",
    ).unionByName(_rotation_rows(spark, R, rot_kind))
    # serving metric rides the tiny codebooks table (r16) — absent
    # column (pre-metric indexes) reads as cosine, same contract as
    # build_ivf_index's centroids column
    if metric != "cosine":
        cb_out = cb_out.withColumn("metric", F.lit(metric))
    bw = cb_out.coalesce(1).write.mode("overwrite").format("parquet")
    if path is not None:
        bw = bw.option("path", f"{path}/{name}_codebooks")
    else:
        clear_orphaned_table(spark, f"{name}_codebooks")
    bw.saveAsTable(f"{name}_codebooks")
    _write_index_aux(spark, name, path, seed["n"], seed["s"])
    _write_index_qstats(
        spark, name, path, seed["n"], seed["s"],
        n_entries=cb.where("m = 0").count(), rotated=R is not None,
        kind="adc",
    )
    if path is not None:
        from hadoop_logfile_inputformat_spark.operators.maintenance import (
            write_index_spec,
        )

        write_index_spec(spark, name, path, "pq", n_buckets)
    if enc_src is not qv:
        enc_src.unpersist(blocking=False)
    qv.unpersist(blocking=False)


def ann_pq_probe(
    spark: SparkSession,
    queries: DataFrame,
    name: str,
    k: int = TOP_K,
    rerank: int | None = None,
    member_filter=None,
    exclude_ids: DataFrame | None = None,
    metric: str | None = None,
) -> DataFrame:
    """Search a persisted :func:`build_pq_index`: ADC shortlist against
    the codes table, exact re-rank against the bucketed quantized
    table.  ``queries`` is any ``(query_id, embedding)`` DataFrame —
    quantized here with the same per-vector scale the index used, so
    results are bit-identical to the inline :func:`ann_pq_topk` for
    the same query set.  Per probe: |queries| x M x |codebook| LUT
    rows (broadcast), one scan of codes, and |queries| x rerank
    re-rank fetches — never a corpus re-encode.

    ``member_filter`` (SQL string or Column over carry-stored codes
    metadata) restricts candidates BEFORE the ADC shortlist — same
    pre-filter contract and pushed-scan-predicate shape as
    :func:`ann_ivf_probe`; the shortlist, and therefore the re-rank,
    sees only filtered vectors.

    ``exclude_ids`` (a ``(vec_id)`` DataFrame, broadcast) drops those
    members from the candidate set BEFORE the shortlist — the replay
    hook ``streaming.embedding_index_stream_batch`` needs (r13, same
    contract as :func:`ann_ivf_probe`).

    ``rerank=None`` (the default, r14) resolves the shortlist depth
    via :func:`recommended_rerank` over the LIVE corpus size — the
    measured scale law (SCALING.md): a fixed depth loses ~1/2.5 of
    its recall per 10x corpus while deepening costs |queries| x depth
    corpus-independent fetch rows.  At fixture/gate scales this is
    exactly ``PQ_RERANK``; the one count job it needs is memoized on
    the table's file signature (hot serving loops pay it once).

    ``metric`` (r16) defaults to the INDEX's own serving metric
    (:func:`_pq_index_metric`).  The ADC shortlist score keeps the one
    LUT/codes-scan shape under every metric — the reconstructed dot
    ``Σ pdot`` feeds cosine (over the reconstructed norm), raw inner
    product, or negated-L2 via ``-(|q|² + |x̂|² − 2·q·x̂)``; the exact
    re-rank applies :func:`_exact_rerank`'s matching score."""
    _refresh_index_relations(
        spark, name, "_codebooks", "_codes", "_quantized"
    )
    if metric is None:
        metric = _serving_metric_cached(spark, name, flat=True)
    if rerank is None:
        rerank = recommended_rerank(_live_quantized_count(spark, name))
    cb = spark.table(f"{name}_codebooks")
    codes = spark.table(f"{name}_codes")
    if member_filter is not None:
        codes = codes.filter(member_filter)
    if exclude_ids is not None:
        codes = codes.join(
            F.broadcast(exclude_ids.select("vec_id")), "vec_id", "left_anti"
        )
    tombs = _tombstone_ids(spark, name)
    if tombs is not None:
        codes = codes.join(F.broadcast(tombs), "vec_id", "left_anti")
    qv = quantize_frame(
        queries.select(F.col("query_id").alias("vec_id"), "embedding")
    )
    # OPQ (r12): codes encode ROTATED vectors, so the ADC lookup table
    # is built from the ROTATED query — dot(q, x̂) = dot(Rq, Rx̂).
    # The re-rank below stays in original space (rotation-invariant).
    R = _read_rotation_cached(spark, name)
    lut_qv = (
        qv if R is None
        else qv.withColumn("q", F.expr(_rotate_expr("q", R)))
    )
    lut = (
        _pq_parts(lut_qv, "query_id")
        .join(F.broadcast(cb), "m")
        .select("query_id", "m", "entry_id", _dot("sub", "c_sub").alias("pdot"))
    )
    q_nrm = qv.select(F.col("vec_id").alias("query_id"), F.col("nrm").alias("q_nrm"))
    hits = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.entry_id),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdot").alias("adc"), F.sum("code_nrm2").alias("rnrm2"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    if metric == "cosine":
        adc_sim = F.round(
            F.col("adc") / (F.col("q_nrm") * F.sqrt("rnrm2")), 4
        )
    elif metric == "ip":
        adc_sim = _round4_portable(F.col("adc"))
    elif metric == "l2":
        # reconstructed negated-L2: |q - x̂|² = |q|² + |x̂|² − 2·q·x̂,
        # with |x̂|² = Σ code_nrm2 (the same reconstruction the cosine
        # denominator uses) — higher-is-better like every serving score
        adc_sim = _round4_portable(
            -(
                F.col("q_nrm") * F.col("q_nrm")
                + F.col("rnrm2")
                - F.lit(2.0) * F.col("adc")
            )
        )
    else:
        raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        hits.join(F.broadcast(q_nrm), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc_sim.alias("adc_sim"),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qs = qv.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("q_q"),
        F.col("nrm").alias("q_nrm"),
    )
    ns = spark.table(f"{name}_quantized").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("n_q"),
        F.col("nrm").alias("n_nrm"),
    )
    return _exact_rerank(shortlist, qs, ns, k, metric=metric)


def build_ivfpq_index(
    spark: SparkSession,
    vectors: DataFrame,
    name: str,
    n_centroids: int | None = None,
    n_entries: int | None = None,
    iters: int = 3,
    n_buckets: int = 32,
    path: str | None = None,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    carry: tuple = (),
    rotation=None,
    rotation_kind: str | None = None,
    write_qstats: bool = True,
    metric: str = "cosine",
) -> None:
    """Materialize the composite IVF-PQ (IVFADC) search structure of
    ``vectors`` (any ``(vec_id, embedding)`` DataFrame) — the canonical
    production ANN layout (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", §V): a coarse spherical-k-means quantizer
    routes each vector into an inverted list, and product quantization
    encodes the RESIDUAL ``x − c(x)`` in PQ_M codes, so a probe touches
    only ``nprobe`` lists AND reads M small codes per member instead of
    the full vector.  Four tables:

    - ``<name>_centroids`` (centroid_id, c_emb, c_nrm) — the coarse
      quantizer; tiny, one file, broadcast at probe time;
    - ``<name>_codebooks`` (m, entry_id, c_sub, c_nrm2) — the residual
      PQ codebooks; tiny, broadcast;
    - ``<name>_codes`` (vec_id, centroid_id, m, code, nrm) — the
      inverted lists, bucketed + sorted by centroid_id: probes join on
      centroid_id and read through the bucketing with no index-side
      Exchange.  ``nrm`` is the EXACT stored-vector norm, so the ADC
      similarity divides by the true denominator instead of a
      reconstructed one (better shortlist fidelity for free — the norm
      is one double the lists carry anyway);
    - ``<name>_quantized`` (vec_id, q, nrm), bucketed by vec_id — the
      exact re-rank fetch path.

    Training defaults mirror the single-tier builders: coarse
    centroids from :func:`kmeans_centroids` (cosine mode — the probe
    ranks by cosine) and residual codebooks from
    :func:`pq_codebooks_kmeans` over ``x − c(x)``.  Training on
    residuals rather than raw vectors is what lets the composite beat
    flat PQ at the same code budget: after coarse routing the codes
    only have to explain within-cell displacement, not the whole
    vector.  Pass ``centroids=`` / ``codebooks=`` to reuse externally
    trained inputs (same contract as :func:`build_ivf_index` /
    :func:`build_pq_index`).

    Scale shape: one |corpus| × |centroids| assignment pass against
    the BROADCAST centroids (:func:`_assign_via_broadcast`), one
    residual-encode pass against the broadcast codebooks
    (:func:`_pq_encode_bcast`), two bucketed writes.  The residual frame is
    persisted for the duration of the build (codebook training scans
    it once per Lloyd iteration) and released before returning.  The
    driver only ever holds k×dim and M×n_entries×subdim training
    means — never the corpus.

    ``carry`` names metadata columns of ``vectors`` stored in BOTH the
    codes rows (what makes :func:`ann_ivfpq_probe`'s ``member_filter``
    a pushed-down pre-filter on the resident tier) and the quantized
    re-rank table (what lets :func:`retrain_ivfpq_index` keep them);
    appends recover the carry set from the codes schema.

    ``metric`` (r16): the index's SERVING metric ("cosine" default,
    "l2", "ip") — list assignment, the drift ledger's routing scores,
    every probe's routing/ADC/re-rank, appends, and retrains all run
    under it (stored on the centroids table; :func:`_index_metric`
    recovers it, same contract as :func:`build_ivf_index`).  Coarse
    training is classic Lloyd's for "l2" and spherical k-means
    otherwise (ip routes from cosine-trained centroids, the
    :func:`build_ivf_index` convention).  Residual encoding itself is
    metric-independent; the ``_qstats`` row additionally records the
    seed's mean routing COSINE (``routing_cos``) under every metric —
    the scale-free geometry statistic the tier verdict reads, which a
    metric-scaled l2/ip ``_stats`` ledger cannot provide.  Same
    metric-fit caveat as :func:`build_pq_index`: l2 serving runs at a
    measured ~0.3-0.5x of cosine recall against raw truth, and raw-ip
    serving from int8-quantized vectors is measured broken (~0.002
    recall — per-vector scaling flattens the norms ip ranks by; use
    the full-vector ``build_ivf_index(metric="ip")`` tier instead).
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    if metric not in ("cosine", "l2", "ip"):
        raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")
    check_index_lease(spark, name, path)
    # PERSISTED for the build's duration: the quantize HOF otherwise
    # re-inlines into every per-centroid lambda of the argmin
    # assignment (and into every Lloyd iteration) — measured 25x
    # re-evaluation, 24s -> 3s on the sf0.1 fixture's corpus pass
    qv = quantize_frame(vectors, carry=carry).persist()
    n = None
    if centroids is None or (codebooks is None and n_entries is None):
        n = qv.count()
    t0 = time.monotonic()
    if centroids is not None:
        cent = centroids.select(
            "centroid_id", "c_emb", _norm("c_emb").alias("c_nrm")
        )
    else:
        if n_centroids is None:
            n_centroids = max(2, n // _effective_modulus(n))
        cent = kmeans_centroids(
            qv.select("vec_id", F.col("q").alias("embedding")),
            k=n_centroids,
            iters=iters,
            metric="l2" if metric == "l2" else "cosine",
        ).select("centroid_id", "c_emb", _norm("c_emb").alias("c_nrm"))
    assigned = _assign_via_broadcast(
        qv, cent, vec_col="q", carry=carry, metric=metric
    ).join(
        F.broadcast(cent.select("centroid_id", "c_emb", "c_nrm")),
        "centroid_id",
    )
    # residual carried as column "q" so _pq_parts / pq_codebooks_kmeans
    # consume it unchanged; c_sim rides along for the seed drift-ledger
    # row (aggregated from this persisted frame — no extra corpus pass).
    # c_cos is the ROUTING COSINE — identical to c_sim on a cosine
    # index, computed from the same joined columns otherwise: the
    # metric-independent geometry statistic _qstats records for the
    # tier verdict (r16; l2/ip c_sim is data-scaled)
    c_cos = (
        F.col("c_sim")
        if metric == "cosine"
        else _dot("q", "c_emb") / (F.col("nrm") * F.col("c_nrm"))
    )
    res = assigned.select(
        "vec_id",
        "centroid_id",
        "nrm",
        *carry,
        "c_sim",
        c_cos.alias("c_cos"),
        F.expr(
            "zip_with(q, c_emb, (x, y) -> CAST(x AS DOUBLE) - y)"
        ).alias("q"),
    ).persist()
    t1 = time.monotonic()
    enc_res, R, codes_full = res, None, None
    # stored kind tag (r13) — same contract as build_pq_index
    rot_kind = rotation if rotation in ("opq", "opq-np") else (
        rotation_kind or "opq"
    )
    try:
        # OPQ (r12): the rotation applies to the RESIDUAL space —
        # coarse routing stays in original coordinates (Ge et al.:
        # rotate after residualization).  Learned from / applied to
        # the residual frame; pinned (the re-inline landmine).
        if rotation is not None:
            if rotation in ("opq", "opq-np"):
                if n is None:
                    n = qv.count()
                # NP's internal budget must match the PRODUCTION
                # budget (r12 review fix: passing the raw None let the
                # refinement default to a sample-derived ~len/25 grid
                # while the build trained ~n/eff_mod entries — the
                # rotation was optimized for the wrong codebook size)
                ne_rot = None
                if rotation == "opq-np":
                    ne_rot = n_entries or max(
                        2,
                        n // _effective_modulus(
                            n, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET
                        ),
                    )
                R = learn_opq_rotation(
                    res,
                    sample_modulus=_opq_sample_modulus(n),
                    refine_iters=2 if rotation == "opq-np" else 0,
                    n_entries=ne_rot,
                )
            else:
                R = rotation
        if R is not None:
            enc_res = res.withColumn(
                "q", F.expr(_rotate_expr("q", R))
            ).persist()
        if codebooks is not None:
            cb = codebooks.select("m", "entry_id", "c_sub", "c_nrm2")
        else:
            if n_entries is None:
                n_entries = max(
                    2,
                    n // _effective_modulus(
                        n, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET
                    ),
                )
            cb = pq_codebooks_kmeans(
                enc_res, n_entries=n_entries, iters=iters
            )
        t2 = time.monotonic()
        # full encode output PERSISTED (narrow rows: M small ints plus
        # a few doubles per vector — the resident-index footprint, the
        # same discipline as build_pq_index's codes persist): it feeds
        # the bucketed write AND the residual self-sim aggregate below
        # without paying the |corpus| x M x n_entries encode twice.
        # ``rnrm`` (the residual's true norm — rotation-invariant, so
        # computed once on the encode input) rides the encode so the
        # self-sim cosine divides by the right denominator.
        if write_qstats:
            codes_full = _pq_encode_bcast(
                enc_res.withColumn("rnrm", _norm("q")),
                cb,
                carry=("centroid_id", "nrm", "rnrm", *carry),
            ).persist()
            codes = codes_full.select(
                "vec_id", "centroid_id", "m", "code", "nrm", *carry
            )
        else:
            # ephemeral build: no qstats consumer, so keep the exact
            # single-consumer encode->write plan (no persist, no rnrm)
            codes = _pq_encode_bcast(
                enc_res, cb, carry=("centroid_id", "nrm", *carry)
            ).select("vec_id", "centroid_id", "m", "code", "nrm", *carry)
        cw = (
            codes.repartition(n_buckets, F.col("centroid_id"))
            .write.bucketBy(n_buckets, "centroid_id")
            .sortBy("centroid_id")
            .mode("overwrite")
            .format("parquet")
        )
        if path is not None:
            cw = cw.option("path", f"{path}/{name}_codes")
        else:
            clear_orphaned_table(spark, f"{name}_codes")
        cw.saveAsTable(f"{name}_codes")
        seed_stats = res.agg(
            F.count("*").alias("n"),
            F.avg("c_sim").alias("s"),
            F.avg("c_cos").alias("cos"),
        ).collect()[0]
        # fine-quantization quality (r13): mean cosine of each residual
        # against its own decoded codes, in the (rotated) residual
        # space the codes live in — the ENTRY-BUDGET signal _qstats
        # records, orthogonal to the _stats ledger's coarse routing
        # cosine.  One aggregate over the persisted encode output.
        # write_qstats=False (the ephemeral lifecycle: the table would
        # be dropped before anyone could DESCRIBE it) skips both the
        # aggregate and the write.
        seed_q = (
            _pq_self_sim(codes_full, nrm_col="rnrm")
            .agg(F.avg("c_sim").alias("s"))
            .collect()[0]
            if write_qstats
            else None
        )
    finally:
        if codes_full is not None:
            codes_full.unpersist(blocking=False)
        if enc_res is not res:
            enc_res.unpersist(blocking=False)
        res.unpersist(blocking=False)
    qw = (
        qv.repartition(n_buckets, F.col("vec_id"))
        .write.bucketBy(n_buckets, "vec_id")
        .sortBy("vec_id")
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        qw = qw.option("path", f"{path}/{name}_quantized")
    else:
        clear_orphaned_table(spark, f"{name}_quantized")
    qw.saveAsTable(f"{name}_quantized")
    cb_out = cb if R is None else cb.select(
        "m", "entry_id", F.col("c_sub").cast("array<double>").alias("c_sub"),
        "c_nrm2",
    ).unionByName(_rotation_rows(spark, R, rot_kind))
    # the serving metric is an INDEX property (probes, appends, drift
    # calibration, and retrains must all agree) — stored on the tiny
    # centroids table so _index_metric recovers it in any session;
    # absent column (pre-metric indexes) reads as cosine
    if metric != "cosine":
        cent = cent.withColumn("metric", F.lit(metric))
    for frame, suffix in ((cent, "_centroids"), (cb_out, "_codebooks")):
        w = frame.coalesce(1).write.mode("overwrite").format("parquet")
        if path is not None:
            w = w.option("path", f"{path}/{name}{suffix}")
        else:
            clear_orphaned_table(spark, f"{name}{suffix}")
        w.saveAsTable(f"{name}{suffix}")
    _write_index_aux(spark, name, path, seed_stats["n"], seed_stats["s"])
    if write_qstats:
        _write_index_qstats(
            spark, name, path, seed_stats["n"], seed_q["s"],
            n_entries=cb.where("m = 0").count(), rotated=R is not None,
            kind="residual", routing_cos=seed_stats["cos"],
        )
    if path is not None:
        from hadoop_logfile_inputformat_spark.operators.maintenance import (
            write_index_spec,
        )

        write_index_spec(spark, name, path, "ivfpq", n_buckets)
    qv.unpersist(blocking=False)
    # train = coarse k-means + residual-codebook training (the residual
    # materialization folds into the first pq training pass); build =
    # encode + the bucketed/tiny writes
    LIFECYCLE_PHASES["build_ivfpq_index"] = {
        "t": t2 - t0, "b": time.monotonic() - t2, "_t_coarse": t1 - t0,
    }


def ann_ivfpq_probe(
    spark: SparkSession,
    queries: DataFrame,
    name: str,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    rerank: int | None = None,
    member_filter=None,
    exclude_ids: DataFrame | None = None,
    metric: str | None = None,
) -> DataFrame:
    """Search a persisted :func:`build_ivfpq_index` — coarse routing,
    residual-ADC shortlist inside the probed lists only, exact re-rank.
    ``queries`` is any ``(query_id, embedding)`` DataFrame (quantized
    here with the index's per-vector scale, so corpus-member queries
    score bit-identically to their stored form).

    Inner-product ADC: ``dot(q, x) = dot(q, c) + dot(q, r)`` ≈
    ``dot(q, c) + Σ_m dot(q_m, cb[m][code_m])``.  For inner product the
    per-subspace lookup table is CENTROID-INDEPENDENT — unlike L2
    IVFADC, which must build one table per probed list — so ONE
    |queries| × M × n_entries broadcast LUT serves every probed list.
    The ADC similarity divides by the stored exact vector norm.

    Per probe: |queries| × |centroids| coarse scoring against the
    broadcast centroids, the LUT build, one centroid_id join that
    reads the codes through their bucketing (only the nprobe probed
    lists' members survive — never a full-corpus ADC), and |queries| ×
    rerank exact fetches through the quantized table's vec_id
    bucketing.  Never a corpus re-encode.

    ``member_filter`` (SQL string or Column over carry-stored codes
    metadata) restricts list members BEFORE the ADC shortlist — the
    same pre-filter contract as :func:`ann_ivf_probe`: a pushed-down
    scan predicate on the bucketed codes, never a join.

    ``exclude_ids`` (a ``(vec_id)`` DataFrame, broadcast) drops those
    members BEFORE the ADC shortlist — the replay hook
    ``streaming.embedding_index_stream_batch`` needs (r13, same
    contract as :func:`ann_ivf_probe`).

    ``rerank=None`` (the default, r14) resolves the shortlist depth
    via :func:`recommended_rerank` over the LIVE corpus size — see
    :func:`ann_pq_probe`; fixture/gate scales resolve to exactly
    ``PQ_RERANK``, the count is memoized on the table's file
    signature.

    ``metric`` (r16) defaults to the INDEX's serving metric
    (:func:`_index_metric` — what the build assigned lists with).
    Routing, the ADC shortlist, and the exact re-rank share it: the
    reconstructed dot ``qc_dot + rdot`` feeds cosine (over the stored
    exact norm), raw inner product, or negated-L2 via
    ``-(|q|² + |x|² − 2·(qc_dot + rdot))`` — the EXACT stored ``|x|``,
    a strictly better denominator than l2-IVFADC's usual
    reconstructed-norm term, for free (the lists carry it anyway).
    """
    _refresh_index_relations(
        spark, name, "_centroids", "_codebooks", "_codes", "_quantized"
    )
    if metric is None:
        metric = _serving_metric_cached(spark, name)
    if metric not in ("cosine", "l2", "ip"):
        raise ValueError(f"metric must be cosine/l2/ip, got {metric!r}")
    if rerank is None:
        live_n = _live_quantized_count(spark, name)
        rerank = recommended_rerank(live_n)
        # once per index generation: tell an operator who never
        # DESCRIBEs when the ADC tier's measured ceiling binds (r15).
        # Default-path only — an explicit rerank is a sizing choice,
        # and gated/portable members keep their exact job counts.
        _warn_if_tier_limited(spark, name, live_n)
    cent = spark.table(f"{name}_centroids")
    cb = spark.table(f"{name}_codebooks")
    codes = spark.table(f"{name}_codes")
    if member_filter is not None:
        codes = codes.filter(member_filter)
    if exclude_ids is not None:
        codes = codes.join(
            F.broadcast(exclude_ids.select("vec_id")), "vec_id", "left_anti"
        )
    tombs = _tombstone_ids(spark, name)
    if tombs is not None:
        codes = codes.join(F.broadcast(tombs), "vec_id", "left_anti")
    qv = quantize_frame(
        queries.select(F.col("query_id").alias("vec_id"), "embedding")
    )
    q = qv.select(
        F.col("vec_id").alias("query_id"), "q", F.col("nrm").alias("q_nrm")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), F.asc("centroid_id")
    )
    qc = _dot("q", "c_emb")
    # routing score under the serving metric (same shapes as
    # _metric_score, inlined here because the probe also needs the raw
    # qc_dot term for the ADC reconstruction below)
    if metric == "cosine":
        route = qc / (F.col("q_nrm") * F.col("c_nrm"))
    elif metric == "ip":
        route = qc
    else:  # l2, negated squared distance — higher is better
        route = -(
            F.col("q_nrm") * F.col("q_nrm")
            + F.col("c_nrm") * F.col("c_nrm")
            - F.lit(2.0) * qc
        )
    probes = (
        q.join(F.broadcast(cent), how="cross")
        .select(
            "query_id",
            "q_nrm",
            "centroid_id",
            qc.alias("qc_dot"),
            route.alias("c_sim"),
        )
        .withColumn("p", F.row_number().over(probe_w))
        .filter(F.col("p") <= nprobe)
        .select("query_id", "centroid_id", "qc_dot", "q_nrm")
    )
    # OPQ (r12): residual codes live in ROTATED space — dot(q, r) =
    # dot(Rq, Rr), so the LUT is built from the rotated query; the
    # coarse qc_dot term and the re-rank stay in original coordinates
    R = _read_rotation_cached(spark, name)
    lut_qv = (
        qv if R is None
        else qv.withColumn("q", F.expr(_rotate_expr("q", R)))
    )
    lut = (
        _pq_parts(lut_qv, "query_id")
        .join(F.broadcast(cb), "m")
        .select(
            "query_id",
            "m",
            F.col("entry_id").alias("code"),
            _dot("sub", "c_sub").alias("pdot"),
        )
    )
    # a member vector's M code rows all carry the same qc_dot/nrm (one
    # assigned list per vector, one probed row per (query, list)), so
    # first() is deterministic; sum(pdot) folds the M subspace entries
    hits = (
        probes.join(codes, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.first("qc_dot").alias("qc_dot"),
            F.sum("pdot").alias("rdot"),
            F.first("nrm").alias("nrm"),
            F.first("q_nrm").alias("q_nrm"),
        )
    )
    adc_dot = F.col("qc_dot") + F.col("rdot")
    if metric == "cosine":
        adc_sim = F.round(adc_dot / (F.col("q_nrm") * F.col("nrm")), 4)
    elif metric == "ip":
        adc_sim = _round4_portable(adc_dot)
    else:  # l2: exact stored norm, reconstructed dot
        adc_sim = _round4_portable(
            -(
                F.col("q_nrm") * F.col("q_nrm")
                + F.col("nrm") * F.col("nrm")
                - F.lit(2.0) * adc_dot
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        hits.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc_sim.alias("adc_sim"),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qs = qv.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("q_q"),
        F.col("nrm").alias("q_nrm"),
    )
    ns = spark.table(f"{name}_quantized").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("n_q"),
        F.col("nrm").alias("n_nrm"),
    )
    return _exact_rerank(shortlist, qs, ns, k, metric=metric)


def ann_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_modulus: int = QUERY_MODULUS,
    nprobe: int = IVF_NPROBE,
    rerank: int | None = None,
    n_centroids: int | None = None,
    n_entries: int | None = None,
    iters: int = 3,
    name: str | None = None,
    materialize: str = "localCheckpoint",
) -> DataFrame:
    """End-to-end composite IVF-PQ lifecycle — train (coarse spherical
    k-means + residual PQ codebooks) → :func:`build_ivfpq_index` →
    :func:`ann_ivfpq_probe` — the third learned ANN tier next to
    :func:`ann_ivf_topk_kmeans` (full vectors in the lists) and
    :func:`ann_pq_topk_kmeans` (flat PQ, whole-corpus ADC): a probe
    reads only ``nprobe`` lists AND only M codes per member, the shape
    that keeps a 100 TB corpus's index simultaneously resident and
    cheap to scan.

    Same warehouse hygiene as :func:`ann_ivf_topk_kmeans`: ephemeral
    (no ``name``) builds under an invocation-unique name, materializes
    the probe result DISTRIBUTED (eager localCheckpoint — never a
    driver collect: |queries| = N/query_modulus grows with the corpus)
    and drops all four tables before returning; an explicit ``name``
    keeps the index for :func:`ann_ivfpq_probe` reuse, cleanup owned
    by the caller.

    Not oracle-expressible (iterative training, float residual
    arithmetic): bench ``LIBRARY_ONLY``; the pinned modulus families
    remain the registry's portable bindings.
    """
    import uuid

    v = _vectors(spark, sf_dir)
    ephemeral = name is None
    if ephemeral:
        name = "ivfpq_" + uuid.uuid4().hex[:12]
    n = cached_count(spark, sf_dir, "embeddings")
    if n_centroids is None:
        n_centroids = max(2, n // _effective_modulus(n))
    if n_entries is None:
        n_entries = max(
            2, n // _effective_modulus(n, PQ_CODEBOOK_MODULUS, PQ_ENTRY_TARGET)
        )
    build_ivfpq_index(
        spark,
        v.select("vec_id", "embedding"),
        name,
        n_centroids=n_centroids,
        n_entries=n_entries,
        iters=iters,
        write_qstats=not ephemeral,
    )
    phases = dict(LIFECYCLE_PHASES.get("build_ivfpq_index", {}))
    phases.pop("_t_coarse", None)
    t2 = time.monotonic()
    queries = v.filter(F.col("vec_id") % query_modulus == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_ivfpq_probe(spark, queries, name, k=k, nprobe=nprobe, rerank=rerank)
    if not ephemeral:
        LIFECYCLE_PHASES["ann_ivfpq_topk"] = phases  # probe lazy when kept
        return out
    out = _materialize_ephemeral(
        out, spark, name, materialize, result_name="ann_ivfpq_topk"
    )
    phases["p"] = time.monotonic() - t2
    LIFECYCLE_PHASES["ann_ivfpq_topk"] = phases
    for t in (
        f"{name}_codes",
        f"{name}_quantized",
        f"{name}_centroids",
        f"{name}_codebooks",
        f"{name}_batches",
        f"{name}_stats",
        f"{name}_qstats",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out


def _assign_hierarchical(v: DataFrame, cent: DataFrame, probe: int = 2) -> DataFrame:
    """Nearest-centroid assignment in O(N·√k·(1+probe)) scored rows
    instead of the flat O(N·k) — the coarse-then-fine pass SemDeDup
    needs once centroid count grows ∝ N (its bounded-cluster-SIZE
    contract): at 200k vectors / 8000 centroids the flat cross scores
    1.6e9 rows, hierarchical ~5e7.

    Two-level structure over the SAME centroid set: every √k-th
    centroid (by id rank) is a COARSE cell; each fine centroid maps to
    its nearest coarse cell once (k·√k, one-off).  A vector scores the
    √k coarse cells, keeps its ``probe`` best, and fine-assigns only
    among centroids parented by those cells.  Exact whenever the true
    nearest fine centroid's parent is within the probed cells —
    boundary vectors can differ from the flat assignment (recall knob:
    raise ``probe``).  Tie-breaks match the flat path exactly
    (max cosine, then lowest centroid_id).

    The only window runs over the CENTROID frame (k rows, bounded by
    design — never the corpus), and every join here broadcasts a
    centroid-sized frame; the corpus is touched map-side only.
    Returns ``(vec_id, embedding, nrm, centroid_id, coarse_rank)``.

    ``coarse_rank`` is the per-row AUDIT signal of probe adequacy: the
    1-based rank (among the vector's ``probe`` best coarse cells) of
    the cell that parented the CHOSEN fine centroid.  Rank 1 = the
    winner sat in the vector's closest coarse cell (the flat
    assignment almost certainly agrees); rank = ``probe`` = the winner
    came from the LAST probed cell, i.e. the true best fine centroid
    plausibly lives in an unprobed cell — the rows where raising
    ``probe`` buys agreement.  A production caller can aggregate it
    (e.g. share of rows at rank > 1) to see what the coarse pass cost
    without re-running the flat assignment.
    """
    import math

    k = cent.count()
    coarse_step = max(1, math.isqrt(k))
    wk = Window.orderBy("centroid_id")  # k rows: bounded, see docstring
    cent_r = cent.withColumn("_r", F.row_number().over(wk))
    # (_r - 1) % step == 0, NOT _r % step == 1: the two agree for
    # step >= 2, but at step == 1 (k <= 3 centroids) `_r % 1 == 1` is
    # never true — the coarse set would be EMPTY and every join below
    # would silently emit zero rows (all vectors dropped).  The -1 form
    # always selects row 1 and degenerates to all-coarse at step 1.
    coarse = cent_r.filter(((F.col("_r") - 1) % coarse_step) == 0).select(
        F.col("centroid_id").alias("coarse_id"),
        F.col("c_emb").alias("g_emb"),
        F.col("c_nrm").alias("g_nrm"),
    )
    g_sim = _dot("c_emb", "g_emb") / (F.col("c_nrm") * F.col("g_nrm"))
    f2c = (
        cent.join(F.broadcast(coarse), how="cross")
        .select("centroid_id", "c_emb", "c_nrm", "coarse_id", g_sim.alias("g_sim"))
        .groupBy("centroid_id")
        .agg(
            F.first("c_emb").alias("c_emb"),
            F.first("c_nrm").alias("c_nrm"),
            F.expr("max_by(coarse_id, struct(g_sim, -coarse_id))").alias(
                "coarse_id"
            ),
        )
    )
    v_sim = _dot("embedding", "g_emb") / (F.col("nrm") * F.col("g_nrm"))
    # top-`probe` coarse cells per vector via a map-side collect_list
    # of the √k-sized struct list (no corpus-keyed window)
    top = (
        v.join(F.broadcast(coarse), how="cross")
        .select("vec_id", "embedding", "nrm", "coarse_id", v_sim.alias("g_sim"))
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.first("nrm").alias("nrm"),
            F.expr(
                f"slice(array_sort(collect_list("
                f"struct(-g_sim AS ns, coarse_id))), 1, {int(probe)})"
            ).alias("cells"),
        )
        .select(
            "vec_id", "embedding", "nrm",
            F.posexplode("cells").alias("p", "cell"),
        )
        .select(
            "vec_id", "embedding", "nrm",
            F.col("cell.coarse_id").alias("coarse_id"),
            (F.col("p") + 1).cast("int").alias("coarse_rank"),
        )
    )
    c_sim = _dot("embedding", "c_emb") / (F.col("nrm") * F.col("c_nrm"))
    return (
        top.join(F.broadcast(f2c), "coarse_id")
        .select(
            "vec_id", "embedding", "nrm", "centroid_id", "coarse_rank",
            c_sim.alias("c_sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.first("nrm").alias("nrm"),
            F.expr(
                "max_by(struct(centroid_id, coarse_rank),"
                " struct(c_sim, -centroid_id))"
            ).alias("w"),
        )
        .select(
            "vec_id", "embedding", "nrm",
            F.col("w.centroid_id").alias("centroid_id"),
            F.col("w.coarse_rank").alias("coarse_rank"),
        )
    )


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    tau: float = SEMDEDUP_TAU,
    centroid_modulus: int = IVF_CENTROID_MODULUS,
    max_cluster_size=_DEFAULT_CAP,
    assignment: str = "flat",
    coarse_probe: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding corpus
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540).

    Cluster-then-prune: every vector is assigned to its nearest
    deterministic centroid (the IVF modulus-subset trick that keeps the
    pipeline SQL-expressible — production swaps in k-means centroids),
    and pairwise cosine runs ONLY inside each cluster.  A vector is
    dropped when a cluster-mate with a smaller ``vec_id`` sits within
    the ``tau`` cosine ball — the greedy keep-lowest-id rule, which is
    deterministic and engine-independent (the paper keeps a random /
    farthest-from-centroid representative; the survivor choice is
    policy, the candidate structure is the algorithm).

    Returns one row per vector: ``(vec_id, centroid_id, n_close,
    max_mate_sim, kept)`` — ``n_close`` mates within tau, the maximum
    intra-cluster mate similarity (4-dp rounded, the cross-engine float
    contract of this module), and the survivor flag.

    Scale shape: the |corpus| × |centroids| assignment collapses
    map-side via ``max_by`` (same as :func:`ann_ivf_topk`); the
    pairwise stage shuffles once on ``centroid_id`` and is quadratic
    only in CLUSTER size, never corpus size — with balanced k-means
    clusters of ~1-10k vectors this is the exact cost profile the
    SemDeDup paper reports for its 100-cluster LAION sweep.  No
    all-pairs join anywhere.  Because SemDeDup's contract keeps
    cluster SIZE bounded, centroid count grows ∝ N and the flat
    assignment is O(N·k): pass ``assignment="hierarchical"`` for the
    coarse-then-fine pass (:func:`_assign_hierarchical`,
    O(N·√k·(1+coarse_probe)) — boundary vectors may land one cluster
    off vs flat; ``coarse_probe`` is the recall knob).  Hierarchical
    output carries an extra ``coarse_rank`` audit column (the probed
    cell rank that produced each vector's assignment — rows at rank
    ``coarse_probe`` are where a wider probe could still change the
    result; see :func:`_assign_hierarchical`).  Measured agreement vs
    flat on ADVERSARIALLY-random vectors: ~0.82 at probe 3 (exact on
    separated clusters — the regime SemDeDup targets); the
    probe→agreement curve is exercised in tests.  The registry
    binding stays flat (oracle parity; fixture k is tiny).

    ``max_cluster_size`` bounds the quadratic hazard the clustering
    itself can't: on real skewed embeddings one mega-cluster re-creates
    the all-pairs blowup (B members → B² pairs).  Same mitigation as
    the LSH/simhash families (``dedup._cap_buckets``): clusters larger
    than the cap skip the pairwise stage entirely — their members
    survive with ``n_close=0`` and are flagged in an extra
    ``cluster_capped`` column so the recall trade is visible per row.
    The size aggregate and join run on ``centroid_id``, the key the
    pairwise join shuffles on anyway — no new shuffle shape.  The
    default is the GUARDED production cap ``SEMDEDUP_MAX_CLUSTER``
    (10k): a caller on skewed real-world embeddings is protected
    without opting in.  Pass ``None`` explicitly for exact-parity
    semantics (no extra column, no size aggregate) — the registry
    oracle binding does.
    """
    if max_cluster_size is _DEFAULT_CAP:
        max_cluster_size = SEMDEDUP_MAX_CLUSTER
    if assignment not in ("flat", "hierarchical"):
        raise ValueError(
            f"assignment must be 'flat' or 'hierarchical', got {assignment!r}"
        )
    v = _vectors(spark, sf_dir)
    cent = v.filter(F.col("vec_id") % centroid_modulus == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    if assignment == "hierarchical":
        assigned = _assign_hierarchical(v, cent, probe=coarse_probe)
    else:
        sim_vc = _dot("embedding", "c_emb") / (F.col("nrm") * F.col("c_nrm"))
        assigned = (
            v.join(F.broadcast(cent), how="cross")
            .select(
                "vec_id", "embedding", "nrm", "centroid_id", sim_vc.alias("c_sim")
            )
            .groupBy("vec_id")
            .agg(
                F.first("embedding").alias("embedding"),
                F.first("nrm").alias("nrm"),
                F.expr("max_by(centroid_id, struct(c_sim, -centroid_id))").alias(
                    "centroid_id"
                ),
            )
        )
    if max_cluster_size is not None:
        sizes = assigned.groupBy("centroid_id").agg(F.count("*").alias("csz"))
        assigned = assigned.join(sizes, "centroid_id")
        pair_src = assigned.filter(F.col("csz") <= max_cluster_size)
    else:
        pair_src = assigned
    a = pair_src.select(
        "centroid_id",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = pair_src.select(
        "centroid_id",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 4)
    # both orientations of each cluster-local pair, so one groupBy on
    # the left id yields every vector's mate profile (and the drop rule
    # only inspects mates with a smaller id)
    mates = (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select("centroid_id", "vec_a", "vec_b", sim.alias("sim"))
    )
    profile = mates.groupBy("vec_a").agg(
        F.sum((F.col("sim") >= tau).cast("long")).alias("n_close"),
        F.max("sim").alias("max_mate_sim"),
        F.max(
            ((F.col("sim") >= tau) & (F.col("vec_b") < F.col("vec_a"))).cast("int")
        ).alias("dominated"),
    )
    cols = [
        F.col("vec_id"),
        F.col("centroid_id"),
        F.coalesce("n_close", F.lit(0)).cast("long").alias("n_close"),
        F.col("max_mate_sim"),
        (1 - F.coalesce("dominated", F.lit(0))).cast("int").alias("kept"),
    ]
    if assignment == "hierarchical":
        cols.append(F.col("coarse_rank"))
    if max_cluster_size is not None:
        cols.append(
            (F.col("csz") > max_cluster_size).cast("int").alias("cluster_capped")
        )
    return assigned.join(profile, assigned.vec_id == profile.vec_a, "left").select(
        *cols
    )
