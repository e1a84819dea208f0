"""Deduplication operators over the ``documents`` table.

The training-data-pipeline surface (charter north star): exact dedup,
exact n-gram Jaccard, MinHash+LSH, SimHash — all pure DataFrame
compositions (no Python UDFs; shingling/hashing/banding are Catalyst
expressions, JVM-side and codegen-friendly).

Scale shape, in order of preference at 100 TB:

1. ``exact_dedup``      — one shuffle on a 256-bit content hash.
2. ``minhash_lsh_pairs`` — shuffles bounded by (bands × docs); candidate
   verification touches only bucket-colliding pairs.
3. ``simhash_pairs``     — chunked-key join (pigeonhole on hamming
   distance) instead of a cross join.
4. ``ngram_jaccard_pairs`` — exact all-pairs via common-shingle join;
   the DuckDB-oracle ground truth for the approximate variants, but the
   one to avoid at full scale (document-frequency cap mitigates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_logfile_inputformat_spark.operators.tables import (
    cached_columns,
    cached_count,
    load,
    register_aux_cache,
    scoped_persist,
)

SHINGLE_WORDS = 3
N_PERMUTATIONS = 32
LSH_BANDS = 8  # rows per band = 32 / 8 = 4
JACCARD_THRESHOLD = 0.10

# --- engine-portable hash family (same pattern as text.document_
# fingerprints_portable): base = first 15 hex chars of md5 → 60-bit
# int, identical in Spark (conv(...,16,10)) and DuckDB
# (('0x'||...)::BIGINT); permutation i is a universal affine hash
# (a_i·lo + b_i·hi + i) mod 2^61-1 over the 30-bit halves, so every
# product stays < 2^60 and the arithmetic is exact BIGINT on both
# engines.  ONE md5 per shingle (vs 32 seeded xxhash64 calls in the
# default family) + 32 multiply-add-mods.
PORTABLE_MOD = (1 << 61) - 1
_LO_MASK = (1 << 30) - 1
PORTABLE_A = [((i * 2654435761 + 0x9E3779B1) % (1 << 30)) | 1 for i in range(64)]
PORTABLE_B = [((i * 2246822519 + 0x85EBCA77) % (1 << 30)) | 1 for i in range(64)]


def _portable_base60(col):
    """First 60 bits of md5 as BIGINT — reproducible in ANSI-ish SQL."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _jaccard4(inter_sql: str, union_sql: str):
    """``round(inter/union, 4)`` via exact integer HALF_UP arithmetic.

    Spark rounds the double's shortest decimal repr while DuckDB rounds
    the binary value, so ``round(double, 4)`` can disagree on .xxxx5
    boundaries — and a 1-ulp flip here changes row MEMBERSHIP (the
    jaccard >= threshold filter), not just a hashed value.  inter and
    union are integers on both engines, so
    ``floor((inter*20000 + union) / (2*union)) / 10000`` is exact and
    engine-identical (same fix as text._ratio4; ADVICE r4).
    """
    return F.expr(
        f"CAST((CAST(({inter_sql}) AS BIGINT) * 20000 + ({union_sql}))"
        f" DIV (2 * ({union_sql})) AS DOUBLE) / 10000"
    )


def _shingle_sets(docs: DataFrame, min_words: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, shingles array<string>): distinct lowercase 3-word shingles."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # slice+concat_ws, measured 2x faster end-to-end than element_at
    # indexing in the downstream explode pipelines (A/B at sf0.1);
    # isolated shingle construction alone favors element_at — trust the
    # pipeline measurement.
    shingles = F.expr(
        "array_distinct(transform(sequence(1, size(toks) - 2),"
        " i -> concat_ws(' ', slice(toks, i, 3))))"
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= min_words)
        .select("doc_id", shingles.alias("shingles"))
    )


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate grouping by full-content SHA-256.

    One hash-shuffle; the survivor of each duplicate group is the
    minimum doc_id (deterministic).  Output marks every document so the
    result is total (works as a filter *or* an audit).
    """
    d = load(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    w = Window.partitionBy("text_hash")
    return (
        d.select("doc_id", h.alias("text_hash"))
        .withColumn("keep_id", F.min("doc_id").over(w))
        .withColumn("is_dup", (F.col("doc_id") != F.col("keep_id")).cast("int"))
        .select("doc_id", "text_hash", "keep_id", "is_dup")
    )


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard similarity for all candidate pairs.

    ``|A ∩ B|`` comes from a self-join on shingle; ``|A ∪ B|`` from
    per-doc shingle counts.  ``max_shingle_df`` drops shingles whose
    document frequency exceeds the cap — at 100 TB a handful of
    boilerplate shingles would otherwise quadratically dominate the
    join (standard stop-shingle mitigation; None = exact).
    """
    sets = scoped_persist(
        _shingle_sets(load(spark, sf_dir, "documents")), ("shingle_sets", sf_dir)
    )
    sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (
            sh.join(F.broadcast(dfreq.filter(F.col("df") <= max_shingle_df)), "shingle")
            .select("doc_id", "shingle")
        )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = _jaccard4("n_common", "n_a + n_b - n_common")
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _signatures_from_sets(
    sets: DataFrame, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id, sig array<bigint>): 32-permutation MinHash signatures
    from a (doc_id, shingles) DataFrame — the single definition every
    LSH path (batch, incremental, streaming) uses.  All 32 mins compute
    in ONE aggregation pass (map-side partial min).

    ``hash_fn`` picks the 60-bit BASE hash only — both families then
    run the same 32 affine universal-hash permutations
    (``(a_i·lo + b_i·hi + i) mod 2^61−1``) over it:

    - ``xxhash64`` (default): base = ``xxhash64(shingle) >>> 4`` —
      ONE JVM-native string hash per shingle.  (The previous default
      ran 32 seeded ``xxhash64(shingle, i)`` string hashes per
      shingle, which measured SLOWER than the md5 family's
      one-hash-plus-affine scheme; the string hash, not the mixing,
      is the cost.)
    - ``md5``: base = first 15 md5 hex chars — engine-portable, lets
      DuckDB recompute the exact signature for the registry's
      value-hash check.
    """
    # Expressions are SQL strings, not Column compositions: the Column
    # form of the 32 permutation mins cost ~10 py4j round trips EACH
    # (measured ~0.3s of driver time per invocation at 0.1-0.15 ms per
    # round trip); ``F.expr``/``selectExpr`` parse the identical
    # Catalyst tree JVM-side in one call per expression (guide §4: the
    # Python boundary is paid per call, not per byte).
    sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    if hash_fn == "xxhash64":
        # seed 1: full candidate recall on the fixture corpus (seed 0
        # loses one borderline jaccard-0.889 pair to banding luck)
        base_sql = "shiftrightunsigned(xxhash64(shingle, 1), 4)"
    elif hash_fn == "md5":
        # stage the base through its own projection so md5+conv runs
        # ONCE per shingle; inlining it into lo AND hi relies on
        # codegen subexpression elimination, which does not fire here
        base_sql = "CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    sh = sh.selectExpr("doc_id", f"{base_sql} AS base").selectExpr(
        "doc_id",
        f"(base & {_LO_MASK}) AS lo",
        "shiftrightunsigned(base, 30) AS hi",
    )
    # the 32 permutation-min templates are session-memoized (r17):
    # even as one-call F.expr parses they cost ~3 round-trips each,
    # per invocation; the unresolved Columns are reusable as-is
    mins = cached_columns(
        sets.sparkSession,
        "minhash_mins",
        lambda: [
            F.expr(
                f"min(({PORTABLE_A[i]} * lo + {PORTABLE_B[i]} * hi + {i})"
                f" % {PORTABLE_MOD}) AS h{i}"
            )
            for i in range(N_PERMUTATIONS)
        ],
    )
    sig_sql = "array(" + ",".join(f"h{i}" for i in range(N_PERMUTATIONS)) + ") AS sig"
    return sh.groupBy("doc_id").agg(*mins).selectExpr("doc_id", sig_sql)


def _cap_buckets(
    buckets: DataFrame, keys: list, max_bucket_size: int | None
) -> DataFrame:
    """Drop candidate-generation buckets larger than ``max_bucket_size``.

    A single hot bucket with B members yields B² candidate pairs — at
    100 TB one boilerplate-heavy (band, bucket) can dominate the whole
    join (the quadratic hazard the LSH design otherwise avoids).  The
    standard mitigation is to skip oversized buckets outright: members
    of a hot bucket are near-duplicates of SO many documents that they
    almost always share another, smaller bucket with their true pairs;
    documented recall trade, default off (None = exact parity with the
    oracle).  One extra aggregate + join on the SAME key the candidate
    join shuffles on — no new shuffle shape.
    """
    if max_bucket_size is None:
        return buckets
    sizes = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") <= max_bucket_size)
        .drop("bsz")
    )
    return buckets.join(sizes, keys)


def _band_buckets(sigs: DataFrame, hash_fn: str) -> DataFrame:
    """(doc_id, band, bucket) LSH banding rows from signatures.

    Bucket key per band: ``xxhash64`` over the band's signature rows for
    the default family; an injective ``concat_ws`` string for the
    portable family (lets the SQL oracle reproduce band equality exactly
    instead of admitting a hash-collision delta).
    """
    rows_per_band = N_PERMUTATIONS // LSH_BANDS

    def _bucket_sql(bi):
        vals = ", ".join(
            f"sig[{bi * rows_per_band + r}]" for r in range(rows_per_band)
        )
        if hash_fn == "md5":
            return f"concat_ws('_', {vals})"
        return f"xxhash64({vals})"

    # one parsed SQL string instead of ~300 py4j Column calls (see
    # _signatures_from_sets) — the Catalyst tree is unchanged
    band_arr = ", ".join(
        f"struct({bi} AS band, {_bucket_sql(bi)} AS bucket)"
        for bi in range(LSH_BANDS)
    )
    return sigs.selectExpr(
        "doc_id", f"explode(array({band_arr})) AS bb"
    ).selectExpr("doc_id", "bb.band AS band", "bb.bucket AS bucket")


def _verify_pairs(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs.

    Two doc_id joins against per-doc shingle ARRAYS; similarity from
    ``array_intersect`` sizes — only candidate pairs are ever touched,
    never an all-pairs join.
    """
    sa = sets_a.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets_b.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            (F.size("sh_a") + F.size("sh_b")).alias("n_ab"),
        )
        .select(
            "doc_a", "doc_b",
            _jaccard4("inter", "n_ab - inter").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs, verified exactly.

    Pipeline: signatures → 8 bands of 4 rows hashed to buckets →
    bucket-colliding candidate pairs → exact Jaccard verification of
    candidates only.  The only all-pairs work is within buckets;
    everything shuffles on (band, bucket-hash) or doc_id.

    Verification touches ONLY bucket-colliding pairs: the candidate
    list joins twice against per-doc shingle arrays and Jaccard comes
    from ``array_intersect`` sizes — never the all-pairs common-shingle
    join the exact operator uses.  Same formula as the exact twin, so
    recall is asserted against it in tests.
    """
    # The shingle-set DataFrame feeds THREE consumers (signatures + both
    # sides of candidate verification); persist it once instead of
    # re-scanning and re-shingling the corpus three times (measured
    # 3x end-to-end at sf0.1).  MEMORY_AND_DISK: at full scale the sets
    # spill rather than evict, which still beats recompute.  Lifetime:
    # the cache lives until the NEXT invocation replaces it (scoped
    # persist) or session end; batch pipelines that call this
    # repeatedly should stage shingle sets to parquet instead
    # (SCALING.md).
    # key is hash-family-independent: shingle sets are computed BEFORE
    # any hashing, so minhash and simhash (and repeated invocations
    # under either family) all share one cached frame
    sets = scoped_persist(
        _shingle_sets(load(spark, sf_dir, "documents")), ("shingle_sets", sf_dir)
    )
    # Persist the per-doc signature table too: the band-bucket SELF-join
    # otherwise evaluates BOTH sides independently, running the whole
    # shingle-explode + 32-min aggregation TWICE (verified in the
    # executed plan — no exchange reuse fires across the self-join).
    # One row of 32 longs per doc, far smaller than recomputing a
    # corpus-sized signature pass at scale; banding re-derives from the
    # cache as a pure projection on each side.
    sigs = scoped_persist(
        _signatures_from_sets(sets, hash_fn), ("minhash_sigs", sf_dir, hash_fn)
    )
    buckets = _band_buckets(sigs, hash_fn)
    buckets = _cap_buckets(buckets, ["band", "bucket"], max_bucket_size)
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(candidates, sets, sets, threshold)


def simhash_64(
    spark: SparkSession, sf_dir: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id, simhash bigint): SimHash over word shingles — 64 bits
    with the default ``xxhash64`` shingle hash, 60 bits with the
    engine-portable ``md5`` family (DuckDB recomputes it bit-for-bit
    for the registry's value-hash check).

    Per doc: for each bit k, sum ±1 over shingle hashes' bit k; the
    sign vector packs into one 64-bit integer.  Entirely Catalyst
    higher-order functions — one groupBy(doc_id) shuffle.
    """
    if hash_fn == "xxhash64":
        h, n_bits = F.xxhash64("shingle"), 64
    elif hash_fn == "md5":
        h, n_bits = _portable_base60(F.col("shingle")), 60
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    # share the MinHash path's cached shingle sets (pre-hash, so the
    # frame is identical across operators and hash families)
    sets = scoped_persist(
        _shingle_sets(load(spark, sf_dir, "documents")), ("shingle_sets", sf_dir)
    )
    sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    hashed = sh.select("doc_id", h.alias("h"))
    # n_bits conditional SUMs in ONE groupBy: partial aggregation runs
    # map-side, so the shuffle carries n_bits longs per doc regardless
    # of shingle count.  (The previous collect_list formulation
    # materialized every shingle hash of a doc into one array row —
    # unbounded row width for boilerplate-heavy docs, and no map-side
    # combine.)
    # SQL strings, not Column compositions: 64 CASE sums cost ~770 py4j
    # round trips in Column form vs ~2 per expression here — identical
    # Catalyst tree (see _signatures_from_sets).  r17: the templates
    # are additionally session-memoized (~190 residual round-trips per
    # invocation as one-call parses).
    bit_sums = cached_columns(
        spark,
        ("simhash_bits", n_bits),
        lambda: [
            F.expr(f"sum(CASE WHEN getbit(h, {k}) = 1 THEN 1 ELSE -1 END) AS b{k}")
            for k in range(n_bits)
        ],
    )
    per_doc = hashed.groupBy("doc_id").agg(*bit_sums)
    simhash = cached_columns(
        spark,
        ("simhash_pack", n_bits),
        lambda: F.expr(
            " + ".join(
                f"IF(b{k} > 0, shiftleft(1L, {k}), 0L)" for k in range(n_bits)
            )
        ),
    )
    return per_doc.select("doc_id", simhash.alias("simhash"))


#: Corpus size above which simhash candidate generation switches from
#: single-chunk keys to chunk-PAIR keys.  Single-chunk keys have only
#: 256 buckets per table, so candidate mass is 8·N²/256 = N²/32 —
#: quadratic with a small constant; the x100 scale soak measured it
#: (500k docs → ~8e9 candidate rows, 90s wall).  Pair keys give 28
#: tables of 2^16 buckets (N²/2340, 70x fewer candidates) at a recall
#: trade only near the loose end of ``max_hamming`` (the final exact
#: hamming filter means candidate keys affect RECALL, never
#: precision).  Fixture scales stay below the threshold — oracle
#: replays are unchanged.
SIMHASH_PAIRKEY_MIN_DOCS = 16384


def simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 12,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    candidate_chunks: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance.

    Candidate generation by pigeonhole: split the 64-bit hash into 8
    8-bit chunks; any pair within hamming ≤ 12 shares ≥ 1 identical
    chunk (12 < 8 chunks ⇒ some chunk untouched... strictly, distance
    < 8 guarantees it; larger thresholds trade recall).  The join key
    is (chunk_index, chunk_value) — never a cross join.

    ``candidate_chunks`` picks the key family: 1 = single chunks (the
    oracle geometry: 8 tables × 256 buckets), 2 = chunk PAIRS (Manku
    et al. 2007's wider-prefix idea: 28 tables × 2^16 buckets — a pair
    within hamming k shares an untouched chunk pair whenever ≥ 2
    chunks are untouched, which holds with high probability well past
    k=12 and with certainty for k < 4).  ``None`` adapts by corpus
    size (SIMHASH_PAIRKEY_MIN_DOCS); because verification is the exact
    ``bit_count(xor) <= max_hamming`` filter, the key family can only
    lose borderline candidates, never admit false pairs.

    The 8×8-bit chunking works unchanged for the 60-bit portable hash:
    chunk 7 simply carries 4 meaningful bits.
    """
    if candidate_chunks is None:
        n_docs = cached_count(spark, sf_dir, "documents")
        candidate_chunks = 2 if n_docs > SIMHASH_PAIRKEY_MIN_DOCS else 1
    if candidate_chunks not in (1, 2):
        raise ValueError(f"candidate_chunks must be 1 or 2, got {candidate_chunks}")
    # persisted for the same reason as minhash_lsh_pairs' sigs: the
    # chunk self-join would otherwise run the 64-bit-sum aggregation
    # once per side (one row of one long per doc cached instead)
    sh = scoped_persist(
        simhash_64(spark, sf_dir, hash_fn), ("simhash_sigs", sf_dir, hash_fn)
    )

    def _cv_sql(i):
        return f"(shiftrightunsigned(simhash, {i * 8}) & 255)"

    # SQL strings, not Column compositions (see _signatures_from_sets)
    if candidate_chunks == 1:
        key_arr = ", ".join(
            f"struct({i} AS ci, {_cv_sql(i)} AS cv)" for i in range(8)
        )
    else:
        combos = [(i, j) for i in range(8) for j in range(i + 1, 8)]
        key_arr = ", ".join(
            f"struct({p} AS ci, ({_cv_sql(i)} * 256 + {_cv_sql(j)}) AS cv)"
            for p, (i, j) in enumerate(combos)
        )
    chunks = sh.selectExpr(
        "doc_id", "simhash", f"explode(array({key_arr})) AS c"
    ).selectExpr("doc_id", "simhash", "c.ci AS ci", "c.cv AS cv")
    # same hot-bucket hazard as LSH banding: a common 8-bit chunk value
    # shared by B docs yields B² join rows
    chunks = _cap_buckets(chunks, ["ci", "cv"], max_bucket_size)
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def near_dup_groups(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD,
    max_iter: int = 25, pairs: DataFrame | None = None,
) -> DataFrame:
    """Duplicate clusters: connected components over near-dup pairs.

    Every document is labeled with the minimum doc_id reachable through
    exact-Jaccard near-dup edges (singletons label themselves).  This is
    the step that turns pairwise similarity into a deduplication
    decision (keep one doc per group) for a training-data pipeline.

    Iterative min-label propagation driven from the driver until
    fixpoint — the standard distributed-CC shape (cf. GraphFrames):
    each round is one join + one min-aggregate, both shuffling on node
    id; rounds = cluster diameter (tiny for near-dup clusters).  The
    driver loop observes ONE scalar per round — the total label sum,
    which is strictly decreasing until fixpoint (labels are per-node
    monotone non-increasing mins), so convergence detection costs an
    aggregate instead of an old-vs-new join.  No row data is
    collected.  The DuckDB oracle expresses the same fixpoint as a
    recursive CTE.

    The converged labels are memoized per (sf_dir, threshold, edge
    plan) for the session — repeated invocations (a warm service, or
    ``training_corpus`` right after ``curate_documents``) skip the
    iteration entirely.  Inputs are assumed immutable for the session
    (the same contract as ``scoped_persist``); ``clear_query_caches``
    drops the memo.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(spark, sf_dir, threshold)
    pairs = pairs.select("doc_a", "doc_b")
    try:
        edge_sig = pairs._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        edge_sig = None  # plan not analyzable (e.g. Connect): no memo
    memo_key = ("cc_labels", sf_dir, threshold, edge_sig)
    if edge_sig is not None and memo_key in _CC_MEMO:
        labels = _CC_MEMO[memo_key]
    else:
        converged = _propagate_min_labels(spark, sf_dir, pairs, max_iter)
        # Truncate the converged frame's iterative lineage (guide §3.3:
        # materialize to cut a huge plan): the fixpoint loop leaves a
        # plan that grew with every propagation round, and downstream
        # compositions (curate_documents -> training_corpus) re-analyze
        # it per invocation — measured ~16k formatted-plan lines and
        # >1s of Catalyst/py4j per training_corpus build at sf0.1.
        # After localCheckpoint the labels read as a LogicalRDD scan
        # (the data was just computed; this only drops the recipe).
        # CLUSTER FAILURE MODE (r16 ADVICE): localCheckpoint blocks are
        # non-reliable AND non-recomputable — losing an executor makes
        # every subsequent action over the memoized labels fail LOUDLY
        # with missing-block errors, and the fix is a
        # clear_query_caches() (the next call then re-runs the
        # fixpoint).  There is no transparent recompute.  Accepted
        # trade: the labels are one (node, label) row per doc, the
        # memo is session-scoped, and a reliable checkpoint would pay
        # a distributed write per convergence; a long-lived cluster
        # service should swap this for checkpoint()/a parquet spill.
        labels = converged.localCheckpoint(eager=True)
        converged.unpersist(blocking=False)
        # keep the converged frame cached; scoping frees it if the memo
        # entry is ever replaced (and clear_query_caches drops both)
        labels = scoped_persist(labels, memo_key)
        if edge_sig is not None:
            _CC_MEMO[memo_key] = labels
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("group_id")
    )


#: (sf_dir, threshold, edge-plan hash) → converged CC labels for the
#: session.  Registered with clear_query_caches via tables._AUX_CACHES.
_CC_MEMO: dict = register_aux_cache({})


def _propagate_min_labels(
    spark: SparkSession, sf_dir: str, pairs: DataFrame, max_iter: int
) -> DataFrame:
    """Run min-label propagation to fixpoint; returns (node, label)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .toDF("src", "dst")
        .persist()
    )
    labels = docs.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    ).persist()
    # decimal(38,0): exact at any scale (1e12 nodes × 1e12 ids < 1e38)
    lsum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(lsum).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        new_labels = (
            labels.union(prop).groupBy("node").agg(F.min("label").alias("label"))
        ).persist()
        cur_sum = new_labels.agg(lsum).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"near_dup_groups did not converge in {max_iter} rounds "
            "(cluster diameter exceeds max_iter); raise max_iter"
        )
    return labels


def curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: the composition a 100 TB
    pipeline actually runs.

    keep = quality_keep
         ∩ exact-dedup survivors (min doc_id per SHA-256 group)
         ∩ near-dup cluster representatives (min doc_id per component)

    Each stage is an independently oracle-checked operator
    (text_quality / exact_dedup / near_dup_groups); the composition is
    two semi joins on doc_id — no data movement beyond the stages'
    own shuffles.
    """
    return _curate(spark, sf_dir, pairs=None)


def _curate(spark: SparkSession, sf_dir: str, pairs: DataFrame | None) -> DataFrame:
    """Shared curation composition; ``pairs`` selects the near-dup edge
    source (None = exact Jaccard, else e.g. LSH candidates)."""
    from hadoop_logfile_inputformat_spark.operators.text import text_quality

    quality = text_quality(spark, sf_dir).filter(
        F.col("quality_keep") == 1
    ).select("doc_id")
    exact_keep = exact_dedup(spark, sf_dir).filter(
        F.col("is_dup") == 0
    ).select("doc_id")
    near_keep = near_dup_groups(spark, sf_dir, pairs=pairs).filter(
        F.col("group_id") == F.col("doc_id")
    ).select("doc_id")
    return quality.join(exact_keep, "doc_id", "left_semi").join(
        near_keep, "doc_id", "left_semi"
    )


def minhash_lsh_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry variant of :func:`minhash_lsh_pairs` with the
    engine-portable md5-affine hash family, so the full
    signature → banding → candidate → exact-verify pipeline is
    value-hashed against a DuckDB recomputation instead of rows-only."""
    return minhash_lsh_pairs(spark, sf_dir, hash_fn="md5")


def simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry variant of :func:`simhash_pairs` (60-bit portable
    hash) — hash-checked against a DuckDB bit-for-bit recomputation.

    ``candidate_chunks`` is PINNED to 1: the oracle SQL hardcodes the
    single-chunk key family, and on any gated corpus above
    ``SIMHASH_PAIRKEY_MIN_DOCS`` the adaptive default would switch to
    chunk-pair keys and (at the loose end of ``max_hamming``) drop
    borderline candidates the oracle still finds.  The library default
    stays adaptive — this pin is the oracle-binding contract only."""
    return simhash_pairs(spark, sf_dir, hash_fn="md5", candidate_chunks=1)


# --- incremental deduplication against a persisted corpus index ------
#
# The refresh shape of a 100 TB pipeline: the standing corpus is
# shingled/signed ONCE and materialized as bucketed tables; each new
# crawl batch (the *delta*) computes signatures only for itself and
# probes the index.  Per refresh, work is O(delta) + one join against
# the index — never a recompute of the corpus.  With the index stored
# as Spark bucketed tables on the join keys, the corpus side of both
# probe joins needs NO shuffle at all (asserted in tests): only the
# delta is exchanged.

#: Registry split for the oracle-checked twin: delta = doc_id % 4 == 3
#: (25% "new crawl"), corpus = the rest.
INCR_SPLIT_MOD = 4
INCR_DELTA_REM = 3


def _incremental_pairs_from_sets(
    corpus_sets: DataFrame,
    delta_sets: DataFrame,
    corpus_buckets: DataFrame,
    threshold: float,
    hash_fn: str,
    max_bucket_size: int | None = None,
    include_delta_pairs: bool = False,
) -> DataFrame:
    """(doc_a in corpus, doc_b in delta, jaccard): shared probe path.

    Signatures/banding run over the DELTA only; candidates come from
    bucket collisions against the (possibly persisted) corpus banding;
    verification touches candidates only.  ``include_delta_pairs``
    additionally self-joins the delta banding (doc_a < doc_b, both in
    the delta) — delta-sized work, so it changes nothing about the
    O(delta) refresh cost.
    """
    delta_buckets = _band_buckets(
        _signatures_from_sets(delta_sets, hash_fn), hash_fn
    )
    corpus_buckets = _cap_buckets(
        corpus_buckets, ["band", "bucket"], max_bucket_size
    )
    a = corpus_buckets.alias("a")
    b = delta_buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            # a delta doc may already BE in the index (re-crawl of the
            # same doc_id, or a foreachBatch replay after the index
            # append landed) — its self-pair is never a finding
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = _verify_pairs(candidates, corpus_sets, delta_sets, threshold)
    if not include_delta_pairs:
        return verified
    da = delta_buckets.alias("a")
    db = delta_buckets.alias("b")
    intra = (
        da.join(
            db,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verified.unionByName(
        _verify_pairs(intra, delta_sets, delta_sets, threshold)
    )


def build_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    name: str,
    hash_fn: str = "xxhash64",
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Materialize the LSH dedup index of ``docs`` as bucketed tables.

    Writes two Spark bucketed tables (requires a session warehouse/
    catalog, i.e. ``saveAsTable`` — bucketing metadata does not survive
    a bare ``parquet(path)`` write):

    - ``<name>_buckets`` (doc_id, band, bucket), bucketed+sorted by
      (band, bucket) — the candidate-probe join key, so the probe's
      corpus side is read pre-partitioned with no Exchange;
    - ``<name>_sets`` (doc_id, shingles), bucketed+sorted by doc_id —
      the verification join key, same no-shuffle property.

    ``n_buckets`` sizes the file-level bucketing (pick ≈ cluster
    parallelism at the target scale; each refresh's probe join inherits
    this parallelism on the corpus side).  ``path`` makes the index
    EXTERNAL tables rooted there (e.g. an ``s3://`` prefix) instead of
    the session warehouse; bucketing metadata lives in the catalog
    either way.
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name, path)
    sets = _shingle_sets(docs).persist()
    try:
        for suffix, frame, keys in (
            (
                "buckets",
                _band_buckets(_signatures_from_sets(sets, hash_fn), hash_fn),
                ["band", "bucket"],
            ),
            ("sets", sets, ["doc_id"]),
        ):
            writer = (
                frame.write.bucketBy(n_buckets, *keys)
                .sortBy(*keys)
                .mode("overwrite")
                .format("parquet")
            )
            if path is not None:
                writer = writer.option("path", f"{path}/{name}_{suffix}")
            writer.saveAsTable(f"{name}_{suffix}")
        # third table of the triple: the applied-batch log that makes
        # streaming index appends replay-safe (near_dup_stream_batch).
        # Written as an (empty) overwrite so REBUILDING an index also
        # resets the log — stale ids would silently skip appends.
        # Pending tombstones drop with it — files too, for external
        # indexes (a rebuild starts a fresh generation; a stale
        # tombstone dir at the root would be resurrected by
        # register_index — see maintenance.drop_tombstones).
        from hadoop_logfile_inputformat_spark.operators.maintenance import (
            drop_tombstones,
        )

        drop_tombstones(spark, name)
        drop_tombstones(spark, name, suffix="_deferred")
        logw = spark.createDataFrame([], "batch_id BIGINT").write.mode(
            "overwrite"
        ).format("parquet")
        if path is not None:
            logw = logw.option("path", f"{path}/{name}_batches")
        logw.saveAsTable(f"{name}_batches")
        if path is not None:
            # EXTERNAL index: persist the bucket count so
            # maintenance.register_index can resurrect the catalog
            # entries in a fresh session
            from hadoop_logfile_inputformat_spark.operators.maintenance import (
                write_index_spec,
            )

            write_index_spec(spark, name, path, "minhash_lsh", n_buckets)
    finally:
        sets.unpersist()


def build_exact_index(
    spark: SparkSession,
    docs: DataFrame,
    name: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Materialize the exact-dedup hash index of ``docs``: a bucketed
    ``<name>_hashes`` (text_hash, doc_id) table keyed by content
    SHA-256, plus the ``<name>_batches`` replay log — the exact-hash
    counterpart of :func:`build_minhash_index`, sized for streaming
    anti-join probes (the corpus side reads through its bucketing with
    no shuffle; each probe is O(batch)).

    Rows carry the ``batch_id`` that contributed them (``-1`` for the
    seed corpus): a replayed micro-batch excludes its OWN prior
    contribution from the probe, so it reproduces the identical
    survivor set instead of seeing itself as already-ingested
    (curate_stream_batch's effectively-once guarantee)."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        check_index_lease,
    )

    check_index_lease(spark, name, path)
    hashes = docs.select(
        F.sha2(F.col("text"), 256).alias("text_hash"),
        "doc_id",
        F.lit(-1).cast("long").alias("batch_id"),
    )
    writer = (
        hashes.write.bucketBy(n_buckets, "text_hash")
        .sortBy("text_hash")
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", f"{path}/{name}_hashes")
    writer.saveAsTable(f"{name}_hashes")
    # a rebuild starts a fresh generation: pending tombstones drop
    # with the ledger reset — files too, for external indexes
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        drop_tombstones,
    )

    drop_tombstones(spark, name)
    drop_tombstones(spark, name, suffix="_deferred")
    logw = spark.createDataFrame([], "batch_id BIGINT").write.mode(
        "overwrite"
    ).format("parquet")
    if path is not None:
        logw = logw.option("path", f"{path}/{name}_batches")
    logw.saveAsTable(f"{name}_batches")
    if path is not None:
        from hadoop_logfile_inputformat_spark.operators.maintenance import (
            write_index_spec,
        )

        write_index_spec(spark, name, path, "exact_hash", n_buckets)


def _doc_tombstones(spark: SparkSession, name: str) -> DataFrame | None:
    """The text index's logical-delete set (``<name>_tombstones``), or
    None when no takedowns are pending.  Probes anti-join this BEFORE
    candidate generation (broadcast — bounded by compaction cadence,
    the same contract as the ``_batches`` replay log), so deleted
    documents neither surface as near-dup partners nor block
    re-ingestion of their content."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        _pending_tombstones,
    )

    return _pending_tombstones(spark, name, "doc_id")


def _deferred_docs(spark: SparkSession, name: str) -> DataFrame | None:
    """The text index's OUT-OF-ORDER takedown set (``<name>_deferred``)
    — doc_ids a :func:`delete_from_dedup_index` requested before the
    index ever ingested them; the streaming appends consume these
    (``maintenance.consume_deferred``) so the doc never lands.  None
    when empty."""
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        _pending_tombstones,
    )

    return _pending_tombstones(spark, name, "doc_id", suffix="_deferred")


def _reject_tombstoned_docs(
    spark: SparkSession, name: str, docs: DataFrame
) -> None:
    """Fail fast on re-appending a doc_id whose takedown tombstone is
    still pending (the twin of ``similarity._reject_tombstoned_delta``):
    probes exclude the pending set on the banding side, so the
    re-appended document would be silently invisible as an index-side
    partner until the next compaction fold.  Cost: only when deletes
    are pending, one broadcast semi-join count against a batch-sized
    frame."""
    tombs = _doc_tombstones(spark, name)
    if tombs is None:
        return
    n = docs.select("doc_id").join(
        F.broadcast(tombs), "doc_id", "left_semi"
    ).count()
    if n:
        raise ValueError(
            f"append to dedup index '{name}' contains {n} doc_id(s) "
            "with PENDING tombstones: probes would silently hide these "
            "rows until the next compaction. Appends assume "
            "globally-new ids; rebuild the index (fresh generation) to "
            "reuse ids."
        )


def delete_from_dedup_index(
    spark: SparkSession,
    name: str,
    ids: DataFrame | None = None,
    delete_filter=None,
) -> int:
    """Logically delete documents from a persisted dedup index — the
    takedown verb for BOTH text index families (:func:`build_minhash_index`
    LSH triple and :func:`build_exact_index` hash table), mirroring
    ``similarity.delete_from_index``'s LSM tombstone design: an
    O(|delete set|) append to ``<name>_tombstones``, probe-side
    exclusion BEFORE candidate generation, physical reclaim in the
    next ``maintenance.compact_minhash_index`` /
    ``compact_exact_index`` (which fold the set into the bucketed
    rewrite they were already doing).  A rebuild under the same name
    starts a fresh generation with an empty set.

    Semantics after a delete: the victims stop appearing as ``doc_a``
    index-side partners in :func:`incremental_near_dups`, and their
    content hash stops blocking re-ingestion in ``curate_stream`` —
    i.e. results equal an index that never held them (test-pinned
    against a never-held twin).  This is the takedown shape a real
    corpus pipeline needs: remove a revoked/flagged document so future
    crawls of the same content are admitted and future dedup decisions
    stop referencing it.

    ``ids`` is any ``(doc_id)`` DataFrame; ``delete_filter`` instead
    selects victims by predicate over what the index holds —
    ``<name>_hashes`` when it exists (so ``"text_hash = '<sha256>'"``
    expresses delete-by-content), else ``<name>_sets``.  Returns the
    number of NEWLY tombstoned ids (re-deletes are idempotent no-ops).
    """
    from hadoop_logfile_inputformat_spark.operators.maintenance import (
        append_tombstones,
    )

    if (ids is None) == (delete_filter is None):
        raise ValueError("pass exactly one of ids / delete_filter")
    member_table = (
        f"{name}_hashes"
        if spark.catalog.tableExists(f"{name}_hashes")
        else f"{name}_sets"
    )
    if delete_filter is not None:
        ids = spark.table(member_table).filter(delete_filter)
    new = ids.select("doc_id").distinct()
    pending = _doc_tombstones(spark, name)
    if pending is not None:
        new = new.join(F.broadcast(pending), "doc_id", "left_anti")
    if delete_filter is None:
        # out-of-order takedowns (ids the index never ingested — a
        # takedown stream racing ahead of curate/near-dup ingestion)
        # defer instead of tombstone: a pending tombstone would fail
        # the very batch that finally delivers the doc
        # (_reject_tombstoned_docs) and the next fold would silently
        # retire the intent.  The stream appends consume the deferred
        # set (maintenance.consume_deferred) — the doc never lands.
        new = new.localCheckpoint(eager=True)
        # cross-session staleness: see similarity.delete_from_index
        spark.catalog.refreshTable(member_table)
        seen = (
            spark.table(member_table)
            .select("doc_id")
            .join(F.broadcast(new), "doc_id", "left_semi")
            .distinct()
            .localCheckpoint(eager=True)
        )
        unseen = new.join(F.broadcast(seen), "doc_id", "left_anti")
        dpending = _deferred_docs(spark, name)
        if dpending is not None:
            unseen = unseen.join(F.broadcast(dpending), "doc_id", "left_anti")
        append_tombstones(
            spark, name, unseen, dpending, member_table, suffix="_deferred"
        )
        new = seen
    # shared writer (maintenance.append_tombstones): pins the delta,
    # and for external (path=) indexes creates the tombstone table at
    # the index root so pending takedowns survive a metastore loss
    return append_tombstones(spark, name, new, pending, member_table)


def incremental_near_dups(
    spark: SparkSession,
    delta_docs: DataFrame,
    index_name: str,
    threshold: float = JACCARD_THRESHOLD,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    include_delta_pairs: bool = False,
) -> DataFrame:
    """Near-dup pairs of ``delta_docs`` against a persisted corpus index
    (built by :func:`build_minhash_index` under ``index_name``).

    Output: (doc_a = indexed corpus doc, doc_b = delta doc, jaccard).
    Only delta-sized data is signed and shuffled; the corpus tables are
    read through their bucketing, shuffle-free.  Pairs WITHIN the delta
    default to out of scope; ``include_delta_pairs=True`` adds them
    (doc_a < doc_b, both delta) from a delta-only band self-join.
    """
    # invalidate this session's cached relations first (the
    # _refresh_index_relations discipline the vector probes follow): a
    # standing index is rebuilt/compacted/appended from other sessions,
    # and a stale file listing for the REUSED table location fails the
    # probe with FILE_NOT_EXIST — observed on this exact read under
    # memory pressure (r15, full-suite run co-tenant with an x100 soak)
    from hadoop_logfile_inputformat_spark.operators.similarity import (
        _refresh_index_relations,
    )

    _refresh_index_relations(
        spark, index_name, "_buckets", "_sets", "_tombstones"
    )
    # delta sets feed two consumers (signatures + verification); scoped
    # per index so repeated refreshes hold at most one cached frame
    delta_sets = scoped_persist(
        _shingle_sets(delta_docs), ("incr_delta_sets", index_name)
    )
    # pending takedowns (delete_from_dedup_index) leave the corpus
    # tables untouched until compaction — exclude tombstoned docs from
    # the BANDING side, so their candidates never form (cheaper than
    # filtering verification, and equal to an index that never held
    # them).  Broadcast: the set is bounded by compaction cadence.
    corpus_buckets = spark.table(f"{index_name}_buckets")
    tombs = _doc_tombstones(spark, index_name)
    if tombs is not None:
        corpus_buckets = corpus_buckets.join(
            F.broadcast(tombs), "doc_id", "left_anti"
        )
    return _incremental_pairs_from_sets(
        corpus_sets=spark.table(f"{index_name}_sets"),
        delta_sets=delta_sets,
        corpus_buckets=corpus_buckets,
        threshold=threshold,
        hash_fn=hash_fn,
        max_bucket_size=max_bucket_size,
        include_delta_pairs=include_delta_pairs,
    )


def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry twin of :func:`incremental_near_dups`: the corpus/delta
    split is deterministic (delta = ``doc_id % 4 == 3``) and the hash
    family is the portable md5-affine one, so DuckDB recomputes the
    whole delta-probe pipeline bit-for-bit (bands over all docs,
    candidates restricted to corpus×delta).  Execution shape is
    identical to the index probe — delta-only signatures, cross-side
    candidate join, candidate-only verification — minus the table
    round-trip, which tests/test_dedup_incremental.py covers.
    """
    sets = scoped_persist(
        _shingle_sets(load(spark, sf_dir, "documents")), ("shingle_sets", sf_dir)
    )
    is_delta = F.col("doc_id") % INCR_SPLIT_MOD == INCR_DELTA_REM
    corpus_sets = sets.filter(~is_delta)
    delta_sets = sets.filter(is_delta)
    return _incremental_pairs_from_sets(
        corpus_sets=corpus_sets,
        delta_sets=delta_sets,
        corpus_buckets=_band_buckets(
            _signatures_from_sets(corpus_sets, "md5"), "md5"
        ),
        threshold=JACCARD_THRESHOLD,
        hash_fn="md5",
    )


#: Deterministic victim split for the oracle-checked TAKEDOWN twin:
#: among the standing-corpus docs (doc_id % 4 != 3), those with
#: doc_id % 3 == 2 were delete_from_dedup_index-tombstoned.
DEL_SPLIT_MOD = 3
DEL_REM = 2


def dedup_deleted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry twin of the takedown lifecycle
    (:func:`delete_from_dedup_index`): the standing index holds the
    corpus (doc_id % 4 != 3), the victims (corpus docs with
    doc_id % 3 == 2) were tombstoned, and the delta (doc_id % 4 == 3)
    probes the post-delete index — exclusion on the BANDING side before
    candidates form, exactly what the tombstone anti-join in
    :func:`incremental_near_dups` does.  Identical math to
    :func:`dedup_incremental_pairs` with one victim predicate, minus
    the table round-trip, which tests/test_dedup_incremental.py pins
    as equal — so this member's DuckDB value-hash gates the table-path
    takedown semantics too."""
    sets = scoped_persist(
        _shingle_sets(load(spark, sf_dir, "documents")), ("shingle_sets", sf_dir)
    )
    is_delta = F.col("doc_id") % INCR_SPLIT_MOD == INCR_DELTA_REM
    corpus_sets = sets.filter(~is_delta)
    delta_sets = sets.filter(is_delta)
    live_buckets = _band_buckets(
        _signatures_from_sets(corpus_sets, "md5"), "md5"
    ).filter(F.col("doc_id") % DEL_SPLIT_MOD != DEL_REM)
    return _incremental_pairs_from_sets(
        corpus_sets=corpus_sets,
        delta_sets=delta_sets,
        corpus_buckets=live_buckets,
        threshold=JACCARD_THRESHOLD,
        hash_fn="md5",
    )


def curate_documents_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of :func:`curate_documents`: identical
    composition, but near-dup edges come from MinHash+LSH instead of
    the quadratic exact-Jaccard join — this is the variant a 100 TB
    pipeline runs (see SCALING.md).  Uses the portable hash family so
    the whole composition is SQL-oracle-checkable end to end; tests
    additionally assert it equals the exact pipeline wherever LSH
    recall is 1.
    """
    return _curate(
        spark, sf_dir, pairs=minhash_lsh_pairs(spark, sf_dir, hash_fn="md5")
    )
