"""Text-analysis operators over the ``documents`` table.

Language ID, quality scoring, token counting, fingerprinting — the
text half of the training-data-pipeline surface.  Everything is
built-in column expressions (regexp/array functions); the operators are
embarrassingly parallel (no shuffle except final output), which is the
right shape for a 100 TB corpus pass.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_logfile_inputformat_spark.operators.ranks import (
    with_global_running_sum,
)
from hadoop_logfile_inputformat_spark.operators.tables import (
    cached_columns,
    load,
    local_df,
    scoped_persist,
)

#: Tiny per-language stopword profiles for the n-gram/stopword LangID
#: heuristic.  Word-boundary regexes work identically in Java regex
#: (Spark) and RE2 (DuckDB) for these patterns, which keeps the
#: operator oracle-checkable.
LANG_PROFILES = {
    "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b",
    "fr": r"\b(le|la|les|et|est|dans|une|pour|que|pas)\b",
    "es": r"\b(el|los|las|y|es|en|una|por|con|para)\b",
}
CJK_PATTERN = r"[一-鿿]"

STOPWORDS_EN = ("the", "a", "an", "and", "of", "to", "in", "is", "for", "on")


def _ws_tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def _ratio4(a: Column, b: Column) -> Column:
    """``round(a/b, 4)`` for non-negative INTEGER a, b via integer
    half-up rounding: ``floor((a*20000 + b) / (2b)) / 10000``.

    ``round(double, 4)`` is a cross-engine hazard: Spark rounds the
    shortest decimal representation, DuckDB the exact binary value,
    and they disagree on .xxxx5 boundaries (bit q2_min_cost_supplier
    at sf0.1).  This formulation runs the SAME IEEE operations on the
    SAME integers in both engines — bit-identical output by
    construction (the oracle mirrors it verbatim).
    """
    num = a.cast("long") * F.lit(20000) + b.cast("long")
    return F.floor(num / (b.cast("long") * F.lit(2))) / F.lit(10000.0)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics over the ``documents`` table — see
    :func:`quality_flags` for the frame-level form."""
    return quality_flags(load(spark, sf_dir, "documents"))


def quality_flags(d: DataFrame) -> DataFrame:
    """Per-document quality metrics: lengths, word stats, character
    class ratios, stopword ratio, and a composite keep/drop signal.
    Frame-level (any ``(doc_id, text)`` DataFrame — batch tables and
    streaming micro-batches alike); pure per-row projection.

    The four-decimal ratios use :func:`_ratio4` (integer half-up
    rounding), not ``round(double, 4)`` — see its docstring.
    """
    # SQL strings, not Column compositions: the Column form of these
    # ratios cost ~1500 py4j round trips per invocation (~0.2s of
    # driver time); selectExpr parses the IDENTICAL Catalyst tree
    # JVM-side in one call.  Double literals carry the D suffix —
    # a bare `10000.0` parses as DECIMAL and would change the result
    # type (the Column form used DoubleType lits).
    n_chars = "length(text)"
    n_words = "size(split(trim(text), '\\\\s+'))"
    n_alpha = "length(regexp_replace(text, '[^A-Za-z]', ''))"
    n_digit = "length(regexp_replace(text, '[^0-9]', ''))"
    n_punct = "length(regexp_replace(text, '[^.,;:!?]', ''))"
    sw_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    n_stop = f"size(filter(split(trim(lower(text)), '\\\\s+'), t -> t IN ({sw_list})))"
    n_nospace = "length(regexp_replace(text, '\\\\s+', ''))"

    def _ratio4_sql(a, b):
        # mirrors _ratio4: floor((a*20000 + b) / (2b)) / 10000
        return (
            f"floor((CAST({a} AS BIGINT) * 20000 + CAST({b} AS BIGINT))"
            f" / (CAST({b} AS BIGINT) * 2)) / 10000.0D"
        )

    return d.selectExpr(
        "doc_id",
        f"CAST({n_chars} AS BIGINT) AS n_chars",
        f"CAST({n_words} AS BIGINT) AS n_words",
        f"{_ratio4_sql(n_nospace, n_words)} AS avg_word_len",
        f"{_ratio4_sql(n_alpha, n_chars)} AS alpha_ratio",
        f"{_ratio4_sql(n_digit, n_chars)} AS digit_ratio",
        f"{_ratio4_sql(n_punct, n_chars)} AS punct_ratio",
        f"{_ratio4_sql(n_stop, n_words)} AS stopword_ratio",
        f"CAST(({n_words} >= 5 AND {n_chars} >= 20"
        f" AND ({n_alpha} / {n_chars}) > 0.5D) AS INT) AS quality_keep",
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language detection.

    Scores = per-language stopword hit counts (CJK scored by character
    count); winner = argmax with a fixed priority order on ties
    (deterministic, engine-independent).
    """
    d = load(spark, sf_dir, "documents")

    def _templates():
        lower = F.lower(F.col("text"))
        # F.regexp_extract_all with lit patterns — not F.expr — so
        # regex backslashes never pass through SQL string-literal
        # unescaping.
        scores = {
            lang: F.size(
                F.regexp_extract_all(lower, F.lit(pat), F.lit(0))
            ).cast("long")
            for lang, pat in LANG_PROFILES.items()
        }
        scores["zh"] = F.size(
            F.regexp_extract_all(F.col("text"), F.lit(CJK_PATTERN), F.lit(0))
        ).cast("long")
        langs = list(scores)  # priority order on ties: en, de, fr, es, zh
        best = F.greatest(*[scores[lg] for lg in langs])
        pred = F.when(best <= 0, F.lit("und"))
        for lg in langs:
            pred = pred.when(scores[lg] == best, F.lit(lg))
        return pred, best

    # the score/argmax templates are ~330 py4j round-trips to compose;
    # session-memoized (r17, guide §4 — reusable unresolved Columns)
    pred, best = cached_columns(spark, "language_id", _templates)
    return d.select("doc_id", pred.alias("lang_pred"), best.alias("best_score"))


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics: whitespace tokens, a BPE-ish regex token count
    (letter runs / digits / punctuation as separate tokens), and the
    chars/4 LLM-token estimate."""
    d = load(spark, sf_dir, "documents")
    text = F.col("text")
    n_ws = F.size(_ws_tokens(text))
    n_bpe_ish = F.size(
        F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)")
    )
    est_llm = F.ceil(F.length(text) / 4.0).cast("long")
    return d.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        n_bpe_ish.cast("long").alias("n_regex_tokens"),
        est_llm.alias("est_llm_tokens"),
    )


def document_fingerprints(
    spark: SparkSession, sf_dir: str, k: int = 8, window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (MOSS-style).

    Character k-gram rolling hashes; within every ``window`` of
    consecutive k-gram hashes the minimum is selected; the distinct
    minima are the fingerprint set.  Entirely higher-order array
    expressions.

    ``hash_fn``: ``xxhash64`` (default — fastest, JVM-native, but
    engine-specific so checks are rows-only) or ``md5`` (first 8 hex
    chars as a 32-bit int — ~2× slower per gram but bit-identical in
    DuckDB, which is what lets the registry hash-check the full
    winnowing pipeline; see ``document_fingerprints_portable``).
    """
    if hash_fn == "xxhash64":
        gram_hash = f"xxhash64(substring(text, i, {k}))"
    elif hash_fn == "md5":
        gram_hash = (
            f"cast(conv(substring(md5(substring(text, i, {k})), 1, 8), 16, 10)"
            " as bigint)"
        )
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    d = load(spark, sf_dir, "documents")
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {k - 1}, 1)),"
        f" i -> {gram_hash})"
    )
    fps = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(grams) - {window - 1}, 1)),"
        f" i -> array_min(slice(grams, i, {window}))))"
    )
    return (
        d.select("doc_id", grams.alias("grams"))
        .select("doc_id", fps.alias("fps"))
        .select(
            "doc_id",
            F.size("fps").alias("n_fingerprints"),
            F.array_min("fps").alias("fp_min"),
            F.array_max("fps").alias("fp_max"),
        )
    )


def document_fingerprints_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry variant of :func:`document_fingerprints` with the
    engine-portable md5 gram hash, so the winnowing pipeline (k-gram
    rolling hashes → window minima → distinct fingerprint set) is
    value-hashed against a DuckDB recomputation instead of rows-only."""
    return document_fingerprints(spark, sf_dir, hash_fn="md5")


#: Chunking defaults: 16-token windows advancing by 12 (4-token overlap)
#: — the context-window-packing shape, scaled to this corpus's ~30-token
#: documents so every doc yields 2-3 chunks.
CHUNK_TOKENS = 16
CHUNK_OVERLAP = 4

#: PII patterns shared by the Spark operator and the DuckDB oracle.
#: Kept to syntax that means the same thing in Java regex and RE2
#: (no lookaround, no backrefs): ASCII classes + \b word boundaries.
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("PHONE", r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b"),
)


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks — the
    context-window packing step of a training pipeline.

    Chunk starts advance by ``chunk_tokens - overlap``; each chunk is
    ``slice(tokens, start, chunk_tokens)`` rejoined with spaces.  All
    higher-order array expressions, per-document (no shuffle): the
    100 TB shape is scan → explode → write, embarrassingly parallel.
    A start is emitted iff it introduces ≥1 new token (start ≤ n), so
    short documents produce exactly one chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    # null text yields no chunks (matches the SQL oracle, where
    # generate_series over NULL emits nothing); with non-null text the
    # whitespace split always has ≥1 element, and greatest(size, 1)
    # guards the remaining degenerate case — size()=-1 under
    # spark.sql.legacy.sizeOfNull — from throwing Spark's 'Illegal
    # sequence boundaries' instead of chunking.
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = _ws_tokens(F.col("text"))
    starts = F.expr(f"sequence(1, greatest(size(toks), 1), {step})")
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            ((F.col("s") - 1) / step).cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("toks"), F.col("s"), chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.size("toks") - F.col("s") + 1
            ).cast("long").alias("n_tokens"),
        )
    )


#: Sequence-packing default: 64-token bins over the 16-token chunks —
#: the concat-and-cut packing shape at corpus scale (4-ish chunks/bin).
PACK_BUDGET = 64

#: Decontamination defaults: docs with ``doc_id % 97 == 0`` act as the
#: held-out benchmark set; 5-word shingle overlap flags training docs.
DECONTAM_MOD = 97
DECONTAM_SHINGLE = 5


def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_BUDGET,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Concat-and-cut sequence packing: assign every chunk a global
    token offset and a fixed-size training bin.

    The standard packing used for LLM pretraining batches: concatenate
    the corpus in a deterministic order (doc_id, chunk_id), then cut
    every ``budget`` tokens.  Each chunk reports its global
    ``token_start``, its ``bin_id`` (the context window it lands in),
    and whether it ``straddles`` a bin boundary (would be split across
    two training sequences).

    Scale shape: the global running token sum comes from
    :func:`~hadoop_logfile_inputformat_spark.operators.ranks.with_global_running_sum`
    — a range shuffle + partition-local cumsum + broadcast offsets, so
    no single-partition window touches data-sized input (the same
    two-phase plan the rank suite uses).
    """
    chunks = chunk_documents(spark, sf_dir, chunk_tokens, overlap)
    return pack_chunks(chunks, budget)


def pack_chunks(chunks: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Packing core over any ``(doc_id, chunk_id, n_tokens)`` frame —
    shared by :func:`pack_sequences` (whole corpus) and
    :func:`~hadoop_logfile_inputformat_spark.operators.pipeline.training_corpus`
    (curated subset)."""
    cum = with_global_running_sum(
        chunks.select("doc_id", "chunk_id", "n_tokens"),
        [F.col("doc_id"), F.col("chunk_id")],
        "n_tokens",
        cum_col="token_end",
    )
    start = F.col("token_end") - F.col("n_tokens")
    bin_id = F.floor(start / budget).cast("long")
    return cum.select(
        "doc_id",
        "chunk_id",
        start.alias("token_start"),
        "n_tokens",
        bin_id.alias("bin_id"),
        (F.floor((F.col("token_end") - 1) / budget) != bin_id)
        .cast("int")
        .alias("straddles"),
    )


def decontaminate(
    spark: SparkSession,
    sf_dir: str,
    shingle_words: int = DECONTAM_SHINGLE,
    eval_mod: int = DECONTAM_MOD,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share a
    ``shingle_words``-word shingle with any held-out benchmark document.

    Docs with ``doc_id % eval_mod == 0`` stand in for the benchmark
    set.  Returns ``(doc_id, n_shared_shingles)`` for every NON-eval
    document with ≥1 distinct shingle also present in the eval set —
    the contamination report a pretraining pipeline acts on.

    Scale shape: real benchmark suites are MBs against a 100 TB corpus,
    so the distinct eval-shingle set is broadcast — the corpus-sized
    side is never shuffled; per-doc shingling is embarrassingly
    parallel and the final groupBy aggregates only matched (tiny) rows.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = _ws_tokens(F.col("text"))
    shingles = F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(size(toks) - {shingle_words - 1}, 1)),"
        f" i -> array_join(slice(toks, i, {shingle_words}), ' ')))"
    )
    base = d.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.explode(shingles).alias("shingle")
    )
    eval_shingles = (
        base.filter(F.col("doc_id") % eval_mod == 0).select("shingle").distinct()
    )
    return (
        base.filter(F.col("doc_id") % eval_mod != 0)
        .join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        # shingles are array_distinct per doc, so count(*) == the number
        # of distinct shingles this doc shares with the eval set
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


#: Gopher-style repetition thresholds, in percent: a document is
#: `repetitive` when its most frequent 2-gram covers >20% of tokens or
#: its most frequent 3-gram covers >18% (Rae et al. 2021, table A1).
REP_TOP2_PCT = 20
REP_TOP3_PCT = 18

#: Mixture sampling rates per predicted language, in per-mille of the
#: 0..999 hash-bucket space (deterministic down-sampling toward a
#: target language mix; unlisted languages fall back to "und").
MIXTURE_RATES = {
    "en": 1000,
    "de": 500,
    "fr": 500,
    "es": 500,
    "zh": 250,
    "und": 100,
}


def _gram_counts(base: DataFrame, n: int) -> DataFrame:
    """Per-doc top/duplicate n-gram instance counts (all instances —
    no array_distinct; repetition is exactly what dedup'd shingles
    would erase)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)),"
        f" i -> array_join(slice(toks, i, {n}), ' '))"
    )
    return (
        base.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias(f"top{n}_cnt"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                f"dup{n}_cnt"
            ),
        )
    )


def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition metrics.

    Per document: most-frequent and duplicated 2-/3-gram instance
    counts plus the composite ``repetitive`` drop signal.  All outputs
    are integers and the threshold test is integer cross-multiplied
    (``top2*2*100 > 20*n_tokens``), so the operator is bit-identical
    across engines — no float rounding surface at all.

    Scale shape: explode → groupBy(doc_id, gram) with map-side partial
    aggregation, keyed by doc — no global state, no skew beyond the
    largest single document; the three per-doc frames join on doc_id.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = d.select("doc_id", _ws_tokens(F.col("text")).alias("toks"))
    n_tok = base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    out = (
        n_tok.join(_gram_counts(base, 2), "doc_id")
        .join(_gram_counts(base, 3), "doc_id")
    )
    repetitive = (
        (F.col("top2_cnt") * 2 * 100 > REP_TOP2_PCT * F.col("n_tokens"))
        | (F.col("top3_cnt") * 3 * 100 > REP_TOP3_PCT * F.col("n_tokens"))
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "top2_cnt",
        "dup2_cnt",
        "top3_cnt",
        "dup3_cnt",
        repetitive.cast("int").alias("repetitive"),
    )


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-mixture down-sampling.

    Pipelines rebalance a crawl toward a target language mix by
    sampling each language at its own rate.  The keep decision is a
    pure function of the document key — ``md5('mix:' || doc_id)``
    bucketed 0..999, kept when ``bucket < rate[lang]`` — so it is
    reproducible across runs and engines and uncorrelated with the
    train/val/test assignment (different hash salt than splits.py).

    Scale shape: language scoring and the hash are per-row projections;
    the only shuffle-free filter keeps the corpus side embarrassingly
    parallel.  Returns the kept documents' ``(doc_id, lang_pred,
    mix_bucket)``.
    """
    langs = language_id(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % 1000
    )
    # The rate lookup is a broadcast join against a 6-row dim, NOT a
    # when()-chain on lang_pred: a scalar CASE would be substituted
    # into the pushed-down filter, inlining the whole language-scoring
    # expression once per branch — the generated code overflows
    # janino's method limit and kicks the stage out of whole-stage
    # codegen.  The join keeps lang_pred computed exactly once.
    rates = local_df(
        spark, list(MIXTURE_RATES.items()), "lang_pred string, rate int"
    )
    return (
        langs.select(
            "doc_id", "lang_pred", bucket.cast("long").alias("mix_bucket")
        )
        .join(F.broadcast(rates), "lang_pred", "left")
        .filter(
            F.col("mix_bucket")
            < F.coalesce(F.col("rate"), F.lit(MIXTURE_RATES["und"]))
        )
        .select("doc_id", "lang_pred", "mix_bucket")
    )


STRATIFIED_K = 25


def stratified_sample(
    spark: SparkSession, sf_dir: str, k: int = STRATIFIED_K
) -> DataFrame:
    """Deterministic FIXED-SIZE per-language sample: the ``k`` documents
    with the smallest salted md5 key per predicted language.

    The complement of :func:`mixture_sample` (rate-based): eval-set
    construction and per-language audits want "exactly k docs per
    stratum", reproducible across runs and engines — a hash-ordered
    top-k is reservoir sampling without reservoir state.

    Scale shape: per-group top-k with FEW groups is the worst case for
    a plain ``Window.partitionBy(lang)`` — six languages would mean six
    reducers sorting the whole corpus at 100 TB.  Two phases instead:
    a partition-local top-k (every task keeps ≤ k rows per language it
    sees, no shuffle), then the real ranking over the ≤ tasks×k
    survivors per language.  Same result by transitivity: the global
    top-k of a group is contained in the union of its partition-local
    top-ks.
    """
    langs = language_id(spark, sf_dir).select("doc_id", "lang_pred")
    key = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    local_w = Window.partitionBy("_pid", "lang_pred").orderBy("_sk", "doc_id")
    survivors = (
        langs.withColumn("_sk", key)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.row_number().over(local_w))
        .filter(F.col("_lrn") <= k)
    )
    final_w = Window.partitionBy("lang_pred").orderBy("_sk", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(final_w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "lang_pred", "rk")
    )


def redact_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``clean_text`` / ``n_redactions`` to any DataFrame with a
    text column (see :func:`redact_pii`)."""
    clean = F.col(text_col)
    n_red = F.lit(0).cast("long")
    for token, pat in PII_PATTERNS:
        # counts are defined on the ORIGINAL text (replacement order
        # cannot create or hide matches in the reported count)
        n_red = n_red + F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).cast("long")
        clean = F.regexp_replace(clean, pat, f"<{token}>")
    return df.withColumns(
        {"clean_text": clean, "n_redactions": n_red}
    )


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / IPv4s / phone-shaped numbers with typed
    placeholders, reporting the per-document redaction count.

    Pure ``regexp_replace`` / ``regexp_extract_all`` column
    expressions — JVM-side, shuffle-free, linear in corpus bytes.  The
    synthetic corpus contains no PII (asserted by its oracle matching
    the identity), so the semantics are proven on constructed rows in
    ``tests/test_operators.py``.
    """
    d = load(spark, sf_dir, "documents")
    return redact_text(d).select("doc_id", "clean_text", "n_redactions")


def vocab_document_frequency(
    spark: SparkSession, sf_dir: str, k: int = 100
) -> DataFrame:
    """Corpus vocabulary: per-token term frequency, document frequency,
    and smoothed IDF, top-k by document frequency.

    Per-doc distinct tokens explode once (df) alongside raw counts
    (tf) in the same pass — ONE shuffle on the token key with map-side
    partial aggregation, then a global top-k.  This is the table that
    feeds stop-shingle caps (dedup.max_shingle_df) and quality
    lexicons at scale.
    """
    d = load(spark, sf_dir, "documents")
    toks = _ws_tokens(F.lower(F.trim(F.col("text"))))
    totals = d.agg(F.count("*").alias("n_docs"))  # 1-row broadcast, no collect
    per_tok = (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )
    per_doc = (
        d.select("doc_id", F.explode(F.array_distinct(toks)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    return (
        per_tok.join(per_doc, "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "token",
            "tf",
            "df",
            F.round(
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("idf"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(k)
    )


def top_bigrams(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Corpus-level n-gram frequency: top-k word bigrams.

    Shingle-explode then count — ONE shuffle on the bigram key with
    map-side partial counts, then a global top-k (TakeOrdered, no full
    sort).  Total order (count desc, bigram asc) keeps the k-set
    engine-deterministic.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2)))"
    )
    return (
        d.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
    )


#: Output schema of :func:`compression_profile`.
COMPRESSION_SCHEMA = (
    "doc_id long, n_bytes long, n_compressed long, "
    "compress_ratio double, highly_compressible int"
)

#: Docs whose zlib output is below this fraction of the input are
#: overwhelmingly boilerplate/repetition (normal prose lands ~0.3-0.6).
COMPRESS_KEEP_MAX = 0.30


def compression_profile(
    spark: SparkSession, sf_dir: str, level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    repetitiveness proxy (a low ratio ≈ templated/duplicated content)
    used as a pre-filter before the heavier n-gram machinery.

    Deliberately NOT in the oracle registry: zlib is not expressible in
    SQL, so unlike every driver-gated operator this one is test-asserted
    (repetitive ≪ diverse text, byte-exact determinism across runs)
    instead of value-hashed.  The ratio itself uses the same integer
    half-up rounding as the gated ops, so composing it into gated
    pipelines stays exact.

    Scale shape: ``mapInPandas`` over Arrow batches — the same
    executor-side Python boundary as the media decoders; per-row cost
    is one zlib pass over the document bytes, no shuffle at all
    (perfectly embarrassing parallelism; the groupless frame never
    exchanges).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")

    def profile(batches):
        import zlib

        for pdf in batches:
            raw = [
                (t if isinstance(t, str) else "").encode("utf-8")
                for t in pdf["text"]
            ]
            n_bytes = [len(b) for b in raw]
            n_comp = [len(zlib.compress(b, level)) for b in raw]
            # integer half-up round-4, same formulation as _ratio4
            ratio = [
                ((c * 20000 + b) // (2 * b)) / 10000 if b else 0.0
                for b, c in zip(n_bytes, n_comp)
            ]
            out = pdf[["doc_id"]].copy()
            out["n_bytes"] = n_bytes
            out["n_compressed"] = n_comp
            out["compress_ratio"] = ratio
            out["highly_compressible"] = [
                int(b > 0 and r < COMPRESS_KEEP_MAX)
                for b, r in zip(n_bytes, ratio)
            ]
            yield out

    return d.mapInPandas(profile, COMPRESSION_SCHEMA)


TOP_TERMS_K = 5  # default k; the registry oracle interpolates this


def top_terms_per_source(
    spark: SparkSession, sf_dir: str, k: int = TOP_TERMS_K
) -> DataFrame:
    """Characteristic terms per source — log-free TF-IDF-style keyword
    extraction: for each ``source``, the ``k`` tokens ranked by term
    frequency descending, source-document-frequency (how many DISTINCT
    sources use the token) ascending, token ascending.

    The float-free ordering keeps the top-k set engine-deterministic
    (``tf · log(N/df)`` ties and 1-ulp ln() differences flip top-k
    membership cross-engine; a lexicographic (tf, −src_df, token) order
    ranks identically and needs no transcendental math).

    Scale shape: token explode → ONE (source, token) groupBy with
    map-side partials; src_df derives from that aggregate (|vocab| ×
    |sources| rows, corpus-independent), and the final window
    partitions by source over vocabulary-sized groups — never the
    corpus.  At extreme vocab sizes swap the window for the two-phase
    partition-local top-k in ``ranks.py`` (same pattern as
    ``global_topk_orders``).
    """
    d = load(spark, sf_dir, "documents")
    toks = _ws_tokens(F.lower(F.trim(F.col("text"))))
    tf = (
        d.select("source", F.explode(toks).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
    )
    src_df = tf.groupBy("token").agg(
        F.count("*").cast("long").alias("src_df")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("tf"), F.asc("src_df"), F.asc("token")
    )
    return (
        tf.join(src_df, "token")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("source", "token", F.col("tf").cast("long").alias("tf"),
                "src_df", "rank")
    )


RARE_DF_MAX = 2      # tokens seen in <= this many docs count as rare
COMMON_DF_CAP = 100  # df ceiling for the commonness score


def rare_token_profile(
    spark: SparkSession,
    sf_dir: str,
    rare_df: int = RARE_DF_MAX,
    df_cap: int = COMMON_DF_CAP,
) -> DataFrame:
    """Unigram-frequency quality profile — the log-free counterpart of
    a CCNet-style LM/perplexity filter (Wenzek et al. 2020): documents
    dominated by corpus-rare tokens (OCR noise, mojibake, boilerplate
    IDs) score high ``rare_ratio`` and get dropped; documents of
    corpus-common tokens score high ``avg_capped_df``.

    All scores are integer-exact (counts + :func:`_ratio4`), never a
    sum of per-token ``log`` doubles — a float sum's fold order varies
    with partitioning, so a true logprob mean cannot be value-hashed
    cross-engine.  Rank-by-frequency preserves the filter's ordering
    semantics without the float hazard.

    Scale shape: one explode → token-key shuffle for document
    frequencies, one token-key join back (AQE broadcasts the vocab side
    when it fits; at web scale both sides hash-partition on token), one
    doc_id groupBy with map-side partials.  Nothing quadratic, no
    driver-side vocabulary.
    """
    d = load(spark, sf_dir, "documents")
    toks = _ws_tokens(F.lower(F.trim(F.col("text"))))
    occ = d.select("doc_id", F.explode(toks).alias("token"))
    dfs = (
        occ.distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    per_doc = (
        occ.join(dfs, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.countDistinct("token").cast("long").alias("n_distinct"),
            F.sum((F.col("df") <= rare_df).cast("long")).alias("n_rare"),
            F.sum(F.least(F.col("df"), F.lit(df_cap))).alias("capped_df_sum"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "n_rare",
        _ratio4(F.col("n_rare"), F.col("n_tokens")).alias("rare_ratio"),
        _ratio4(F.col("capped_df_sum"), F.col("n_tokens")).alias("avg_capped_df"),
        # keep when rare tokens are a minority (integer comparison —
        # no ratio boundary in the flag)
        (F.col("n_rare") * 2 <= F.col("n_tokens")).cast("int").alias("freq_keep"),
    )


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule filter over the ``documents`` table — see
    :func:`gopher_flags` for the frame-level form."""
    return gopher_flags(load(spark, sf_dir, "documents"))


def gopher_flags(d: DataFrame) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", arXiv:2112.11446, Table A1): the
    public word-count / mean-word-length / symbol-ratio / bullet-line /
    ellipsis-line / alpha-word / stopword heuristics, one column per
    rule plus the conjunction.  Frame-level (any ``(doc_id, text)``
    DataFrame — batch tables and streaming micro-batches alike).

    Thresholds follow the paper except ``min_words`` (50 → 5: the
    fixture documents are short; the rule column, not the constant, is
    the operator).  Pure column expressions over one scan — no
    shuffle at all except none (per-row projection), so at 100 TB this
    runs at parquet-scan speed and composes with any downstream
    curation join.  Ratios are :func:`_ratio4` integer half-up.
    """
    text = F.col("text")
    toks = _ws_tokens(text)
    n_words = F.size(toks)
    n_chars_nospace = F.length(F.regexp_replace(text, r"\s+", ""))
    n_symbols = F.length(F.regexp_replace(text, r"[^#…]", ""))
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*([-*•]|\d+[.)])\s")))
    n_ellipsis = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike(r"[A-Za-z]")))
    sw_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    n_stop = F.expr(
        f"size(filter(split(trim(lower(text)), '\\\\s+'), t -> t IN ({sw_list})))"
    )
    mean_wl = _ratio4(n_chars_nospace, n_words)
    symbol_ratio = _ratio4(n_symbols, n_words)
    bullet_ratio = _ratio4(n_bullet, n_lines)
    ellipsis_ratio = _ratio4(n_ellipsis, n_lines)
    alpha_ratio = _ratio4(n_alpha_words, n_words)
    r_words = (n_words >= 5) & (n_words <= 100000)
    # integer-exact rule comparisons: n_chars*10 vs n_words*{30,100}
    # rather than mean_wl vs {3.0,10.0} (no ratio rounding in flags)
    r_wordlen = (n_chars_nospace * 10 >= n_words * 30) & (
        n_chars_nospace * 10 <= n_words * 100
    )
    r_symbols = n_symbols * 10 <= n_words
    r_bullets = n_bullet * 10 <= n_lines * 9
    r_ellipsis = n_ellipsis * 10 <= n_lines * 3
    r_alpha = n_alpha_words * 10 >= n_words * 8
    r_stop = n_stop >= 2
    keep = r_words & r_wordlen & r_symbols & r_bullets & r_ellipsis & r_alpha & r_stop
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.cast("long").alias("n_stopwords"),
        r_words.cast("int").alias("r_words"),
        r_wordlen.cast("int").alias("r_wordlen"),
        r_symbols.cast("int").alias("r_symbols"),
        r_bullets.cast("int").alias("r_bullets"),
        r_ellipsis.cast("int").alias("r_ellipsis"),
        r_alpha.cast("int").alias("r_alpha"),
        r_stop.cast("int").alias("r_stop"),
        keep.cast("int").alias("gopher_keep"),
    )


SUBSTR_K = 8  # duplicated-substring window length, in tokens


def substring_dedup(
    spark: SparkSession, sf_dir: str, k: int = SUBSTR_K
) -> DataFrame:
    """Exact duplicated-substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the ExactSubstr granularity): any ``k``-token
    window whose text occurs more than once in the corpus is a
    duplicated substring; every occurrence except the global first
    (lowest ``(doc_id, pos)``) is removed from its document.

    The paper builds a corpus-wide suffix array — inherently
    single-machine.  The Spark-first equivalent keys k-token windows by
    an exact content hash instead: overlapping duplicated windows merge
    into maximal spans per document, which is exactly the
    suffix-array's maximal repeated substrings down-sampled to k-token
    resolution.  Returns one row per document: token counts, merged
    duplicated-span count/mass, the integer half-up duplicated ratio,
    a keep flag, and the md5 of the span-removed rewritten text so the
    rewrite itself is value-checkable.

    Scale shape (r17 rewrite, guide §2.3/§2.4 — shuffle fewer bytes,
    remove shuffles outright): one gram explode → hash-key shuffle for
    global frequency + first-owner (single ``min_by`` groupBy,
    map-side partials), hash join back restricted to duplicated
    grams, then ONE ``groupBy(doc_id)`` over the duplicated-window
    POSITIONS only.  Everything per-document — the covered-position
    union, maximal-span merge, kept-token selection and the rewrite
    md5 — is array arithmetic on that one row per doc, so the corpus
    tokens are never exploded, never shuffled and never re-sorted
    (the previous form paid a data-sized DISTINCT on (doc_id, tpos),
    a token-granularity anti-join and a collect_list+sort groupBy
    over EVERY token in the corpus: 12 data Exchanges → 4, Window and
    LeftAnti nodes gone — plans/r17/substring_dedup_{before,after}.txt
    — measured 3.5 s → 1.3 s steady at sf0.1/local[32], values
    byte-identical on all three fixture SFs).  Nothing quadratic; hot
    boilerplate grams
    are content-addressed skew handled by AQE, same as
    paragraph_dedup.
    """
    km1 = k - 1
    return spark.sql(
        f"""
        WITH toks AS (
            SELECT doc_id, split(trim(lower(trim(text))), '\\\\s+') AS t
            FROM {{documents}}
        ),
        grams AS (
            SELECT doc_id, pos, md5(w) AS h
            FROM (SELECT doc_id, t FROM toks WHERE size(t) >= {k})
            LATERAL VIEW posexplode(
                transform(sequence(1, size(t) - {km1}),
                          i -> array_join(slice(t, i, {k}), ' '))) g AS pos, w
        ),
        freq AS (
            SELECT h, count(*) AS n_occ,
                   min_by(struct(doc_id, pos), struct(doc_id, pos)) AS owner
            FROM grams GROUP BY h
        ),
        dup AS (
            SELECT g.doc_id, g.pos
            FROM grams g JOIN freq f ON g.h = f.h
            WHERE f.n_occ > 1
              AND NOT (f.owner.doc_id = g.doc_id AND f.owner.pos = g.pos)
        ),
        -- one row per doc: sorted distinct token positions covered by
        -- >=1 duplicated non-owner window (the union of the windows IS
        -- the merged-span set); the shuffle carries window START
        -- positions only, expansion to covered positions happens after
        per_doc AS (
            SELECT doc_id,
                   array_sort(array_distinct(flatten(transform(
                       collect_list(pos),
                       p -> sequence(p, p + {km1}))))) AS cov
            FROM dup GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               -- a covered position starts a new maximal span iff it
               -- is not adjacent to the previous covered position
               CAST(IF(cov IS NULL, 0L,
                    size(filter(zip_with(slice(cov, 1, size(cov) - 1),
                                         slice(cov, 2, size(cov) - 1),
                                         (a, b) -> b > a + 1),
                                x -> x)) + 1L) AS BIGINT) AS n_dup_spans,
               n_dup AS n_dup_tokens,
               floor((n_dup * 20000 + n_tokens) / (n_tokens * 2))
                   / 10000.0D AS dup_token_ratio,
               CAST(coalesce(size(kept), 0) AS BIGINT) AS n_kept_tokens,
               -- null only when EVERY token sat in a duplicated span
               -- (the oracle's string_agg over zero rows is null too)
               IF(size(kept) = 0, NULL,
                  md5(array_join(transform(kept,
                                           i -> element_at(t, i + 1)),
                                 ' '))) AS dedup_md5,
               CAST(n_dup * 2 < n_tokens AS INT) AS substr_keep
        FROM (
            SELECT t.doc_id, t.t, p.cov,
                   CAST(size(t.t) AS BIGINT) AS n_tokens,
                   CAST(IF(p.cov IS NULL, 0L, size(p.cov)) AS BIGINT)
                       AS n_dup,
                   array_except(sequence(0, size(t.t) - 1),
                                coalesce(p.cov, array())) AS kept
            FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
        )
        """,
        documents=load(spark, sf_dir, "documents"),
    )


BPE_MERGES = 8  # merge rounds learned by bpe_merges
BPE_PASSES = 5  # fixed replace passes per round (see docstring)


def bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    passes: int = BPE_PASSES,
) -> DataFrame:
    """Distributed BPE vocabulary learning (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units",
    arXiv:1508.07909): iteratively merge the most frequent adjacent
    symbol pair, weighted by word frequency.  Returns the learned merge
    table — ``(rank, left_sym, right_sym, merged, pair_count)``.

    Scale shape: the corpus collapses to its word-frequency VOCABULARY
    first (one explode + one groupBy — the only corpus-sized work), and
    the merge loop runs on that vocab table, which is Zipf-small at any
    corpus size; per round one pair-count groupBy job, and the driver
    observes exactly one (pair, count) row.  This is why word-level
    pre-tokenized BPE scales: 100 TB of text is maybe 10M distinct
    words.

    Symbols ride in a ``|``-delimited string (``|h|i|</w>|``) and a
    merge applies as ``passes`` fixed iterations of plain
    ``replace(s, '|l|r|', '|lr|')`` — non-overlapping left-to-right
    replace has IDENTICAL semantics in Spark and DuckDB, which makes
    the whole learning loop oracle-recomputable.  Because consecutive
    eligible pairs share their middle delimiter, one pass merges
    alternate occurrences; the fixed extra passes reach the fixpoint
    (each pass at least halves the remainder; 5 covers 32-symbol
    words, and extra passes are no-ops).  Known deviation from
    reference BPE: inside a run of IDENTICAL symbols the grouping may
    differ from strictly-left-aligned pairing — deterministic, the
    same in both engines, and irrelevant for l != r.

    Tie-break: highest count, then lexicographically smallest (l, r) —
    exact integer counts, so cross-engine agreement is structural.
    Words containing the delimiter are excluded up front.
    """
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(_ws_tokens(F.lower(F.trim(F.col("text"))))).alias("w"))
        .filter((F.col("w") != "") & ~F.col("w").contains("|"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    sym0 = F.concat(
        F.lit("|"),
        F.expr(
            "array_join(transform(sequence(1, length(w)),"
            " i -> substr(w, i, 1)), '|')"
        ),
        F.lit("|</w>|"),
    )
    cur = words.select(sym0.alias("s"), "cnt")
    # Scale-adaptive vocab partitioning (r17, guide §2 — partitioning
    # must match the DATA, not the core count): the merge loop runs
    # n_merges sequential jobs against this persisted frame, so its
    # partition count is each round's task count.  A fixed
    # defaultParallelism fan-out made every round a 32-task stage over
    # a Zipf-small vocab (the sf0.1 fixture's vocab is 31 rows —
    # measured 2.2 s for 8 rounds of pure task-launch overhead);
    # deriving the count from the corpus' on-disk size gives 1
    # partition at fixture scale and the full parallelism cap for any
    # corpus big enough that its vocabulary needs it (vocab grows
    # sublinearly with corpus bytes, so 64 MB of corpus per vocab
    # partition is conservative).
    from hadoop_logfile_inputformat_spark.operators.tables import (
        _default_parallelism,
        _table_sizes,
    )

    target = _default_parallelism(spark)
    try:
        _, corpus_bytes = _table_sizes(
            spark, os.path.join(sf_dir, "documents.parquet")
        )
        vocab_parts = max(1, min(target, corpus_bytes // (64 << 20)))
    except OSError:
        vocab_parts = target  # unlistable path: keep the wide default
    cur = scoped_persist(cur.repartition(vocab_parts), "bpe_vocab")
    merges = []
    # Per-round query stays in the DATAFRAME API on purpose: a
    # parameterized ``spark.sql("... FROM {vocab}", vocab=cur)`` twin
    # was measured 5x SLOWER per round — the substituted plan misses
    # the CacheManager lookup for the scoped-persisted vocab and every
    # round re-derived the vocabulary from the corpus (round jobs
    # 0.13 s -> 0.6-1.0 s).  selectExpr strings keep the py4j cost of
    # the Column chain down without changing the plan.  Adjacent pairs
    # via zip_with over two slices: a fully-merged word (single
    # symbol) yields an EMPTY pair array.  The earlier
    # sequence(1, size(t) - 1) construction inferred step -1 when
    # size(t) == 1 (sequence(1, 0) == [1, 0]) and crashed
    # element_at(t, 2) — found by the x10 scale soak, where a word
    # fully merged mid-loop.
    for rank in range(n_merges):
        pairs = cur.selectExpr(
            "filter(split(s, '\\\\|'), x -> x <> '') AS t", "cnt"
        ).selectExpr(
            "explode(zip_with(slice(t, 1, size(t) - 1),"
            " slice(t, 2, size(t) - 1), (l, r) -> struct(l, r))) AS p",
            "cnt",
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:  # vocabulary fully merged — nothing left to learn
            break
        l, r, c = best[0]["l"], best[0]["r"], best[0]["c"]
        merges.append((rank, l, r, l + r, int(c)))
        # the `passes` fixed replace iterations as ONE expression text
        # (symbols never contain quotes — vocab filter — but escape
        # anyway, same as bpe_tokenize)
        pat = f"|{l}|{r}|".replace("\\", "\\\\").replace("'", "\\'")
        rep = f"|{l}{r}|".replace("\\", "\\\\").replace("'", "\\'")
        scol = "s"
        for _ in range(passes):
            scol = f"replace({scol}, '{pat}', '{rep}')"
        cur = cur.withColumn("s", F.expr(scol))
    return local_df(
        spark,
        merges,
        "rank int, left_sym string, right_sym string, merged string,"
        " pair_count long",
    )


def bpe_tokenize(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    passes: int = BPE_PASSES,
) -> DataFrame:
    """Apply a learned BPE merge table (the output of
    :func:`bpe_merges`, a DataFrame or ``(rank, l, r, ...)`` row list)
    to a document frame: per word, run the merge chain in rank order
    and count the resulting subword units.

    The merge table is a trained model — tiny by construction — so
    collecting it to the driver and compiling it into ONE chained
    column expression is the correct distributed shape: tokenization
    itself is a pure per-row projection (no shuffle, no Python), built
    from the same delimited-string replace chain the trainer used, so
    train and apply agree bit-for-bit.  Returns per-doc
    ``(doc_id, n_words, n_subwords, subwords_per_word)``.
    """
    if isinstance(merges, DataFrame):
        merges = [
            (r["rank"], r["left_sym"], r["right_sym"]) for r in merges.collect()
        ]
    else:
        merges = [(m[0], m[1], m[2]) for m in merges]
    merges = sorted(merges)
    sym = (
        "concat('|', array_join(transform(sequence(1, length(w)),"
        " i -> substr(w, i, 1)), '|'), '|</w>|')"
    )
    expr = sym
    for _rank, l, r in merges:
        # symbols never contain quotes (vocab filter) but escape anyway
        pat = f"|{l}|{r}|".replace("\\", "\\\\").replace("'", "\\'")
        rep = f"|{l}{r}|".replace("\\", "\\\\").replace("'", "\\'")
        for _ in range(passes):
            expr = f"replace({expr}, '{pat}', '{rep}')"
    per_word = f"size(filter(split({expr}, '\\\\|'), x -> x <> ''))"
    toks = _ws_tokens(F.lower(F.trim(F.col(text_col))))
    counts = F.expr(
        f"aggregate(transform(filter(tokens, w -> w <> '' AND NOT contains(w, '|')),"
        f" w -> {per_word}), 0L, (acc, x) -> acc + x)"
    )
    out = docs.select(
        "doc_id",
        toks.alias("tokens"),
    ).select(
        "doc_id",
        F.expr(
            "size(filter(tokens, w -> w <> '' AND NOT contains(w, '|')))"
        ).cast("long").alias("n_words"),
        counts.alias("n_subwords"),
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_subwords",
        _ratio4(F.col("n_subwords"), F.col("n_words")).alias("subwords_per_word"),
    )


PARA_MIN_CHARS = 10  # paragraphs shorter than this are skipped outright


def paragraph_dedup(
    spark: SparkSession, sf_dir: str, min_chars: int = PARA_MIN_CHARS
) -> DataFrame:
    """Paragraph-level exact deduplication — the Dolma / RefinedWeb
    granularity between document-exact and near-dup: boilerplate
    (headers, navigation, license blocks) repeats across documents
    whose full texts differ.

    Split on blank lines, hash each trimmed paragraph (md5 — the
    engine-portable exact-hash family of this codebase), count each
    hash's corpus frequency, and keep only the FIRST occurrence
    (lowest ``(doc_id, para_idx)``) of a repeated paragraph.  Returns
    one row per document: paragraph counts, how many were cross-corpus
    duplicates, the duplicated-character mass, and integer half-up
    ratios.

    Scale shape: one explode → hash-key shuffle for frequencies +
    first-owner (single ``min_by`` groupBy, map-side partials), one
    hash join back, one doc_id groupBy.  The hash key is
    content-addressed, so hot boilerplate paragraphs are the skew
    risk; the frequency table is tiny relative to the corpus (only
    repeated hashes matter) and AQE's skew-join split handles the
    pathological single-paragraph-everywhere case.
    """
    d = load(spark, sf_dir, "documents")
    paras = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\n\s*\n")).alias("para_idx", "para"),
        )
        .select("doc_id", "para_idx", F.trim("para").alias("para"))
        .filter(F.length("para") >= min_chars)
        .select(
            "doc_id",
            "para_idx",
            F.length("para").alias("n_chars"),
            F.md5(F.col("para")).alias("h"),
        )
    )
    freq = paras.groupBy("h").agg(
        F.count("*").alias("n_occ"),
        F.expr("min_by(struct(doc_id, para_idx), struct(doc_id, para_idx))").alias(
            "owner"
        ),
    )
    tagged = paras.join(freq, "h").select(
        "doc_id",
        "n_chars",
        (
            (F.col("n_occ") > 1)
            & ~(
                (F.col("owner.doc_id") == F.col("doc_id"))
                & (F.col("owner.para_idx") == F.col("para_idx"))
            )
        ).cast("long").alias("is_dup"),
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum("is_dup").alias("n_dup_paras"),
        F.sum("n_chars").cast("long").alias("para_chars"),
        F.sum(F.col("n_chars") * F.col("is_dup")).cast("long").alias("dup_chars"),
    )
    return per_doc.select(
        "doc_id",
        "n_paras",
        F.col("n_dup_paras").cast("long").alias("n_dup_paras"),
        "para_chars",
        "dup_chars",
        _ratio4(F.col("n_dup_paras"), F.col("n_paras")).alias("dup_para_ratio"),
        _ratio4(F.col("dup_chars"), F.col("para_chars")).alias("dup_char_ratio"),
        # keep when less than half the character mass is repeated
        (F.col("dup_chars") * 2 < F.col("para_chars")).cast("int").alias("para_keep"),
    )
