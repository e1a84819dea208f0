"""Parquet table access for the driver's TPC-H-ish testdata.

One place to attach scan-level scale decisions: every query goes
through ``load`` so column pruning and filter pushdown reach the
parquet reader (verify with ``.explain``: ``PushedFilters`` /
``ReadSchema``), and small dimensions are tagged for broadcast.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimensions small enough to broadcast at ANY scale factor (they grow
#: sublinearly or are bounded: 5 regions, 25 nations).  customer/part/
#: supplier grow with SF — those are broadcast per-query only when the
#: filtered side is provably small, otherwise left to AQE.
ALWAYS_BROADCAST = {"region", "nation"}

#: Tables feeding compute-dense per-row operators — see ``load``.
COMPUTE_HEAVY = {"documents", "embeddings"}


#: Money/measure columns in the testdata are 2-decimal values stored as
#: doubles.  Casting to DECIMAL(12,2) recovers the exact value in both
#: Spark and DuckDB, after which products/sums/rounding are EXACT and
#: bit-identical cross-engine.  Summing raw doubles instead makes the
#: 2-dp rounding of small-group sums nondeterministic: Spark's round()
#: goes through the double's shortest decimal repr (HALF_UP on
#: "...315") while DuckDB rounds the binary value ("...31499…" down) —
#: observed as ±0.01 flips on ~0.25% of groups.
MONEY = "decimal(12,2)"


def money(name: str):
    """Exact-decimal view of a 2-dp measure column."""
    return F.col(name).cast(MONEY)


def msum(expr, scale: int = 2):
    """Exact decimal sum rounded to ``scale``, emitted as double.

    The cast-to-double of the rounded decimal is deterministic (nearest
    double of the same decimal on both engines), so any downstream
    value-hash normalization matches.
    """
    return F.round(F.sum(expr), scale).cast("double")


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A tiny driver-local DataFrame planned as a JVM ``LocalTableScan``
    (Arrow conversion via pandas) instead of a pickled Python RDD
    (``Scan ExistingRDD``) — ``spark.createDataFrame(list)`` executes
    every downstream action of such a frame through a spawned Python
    worker, measured 1.6 s vs 0.19 s for one centroid-table write at
    bench scale (guide §4: eliminate the JVM↔Python boundary; these
    frames are bounded model/marker rows, never the corpus, so the
    literal lives happily inside the plan and broadcasts job-free).

    Bit-exact: rows convert with ``dtype=object`` so pandas can never
    coerce a NULL-bearing int64 column to float64 (the 2^53 precision
    trap); Arrow float64/int64/bool/string/list round-trip exactly.
    Falls back to plain ``createDataFrame`` for empty inputs (the
    Arrow path rejects 0-row frames — such frames execute no tasks
    worth saving anyway) or if pandas/Arrow is unavailable.
    """
    if rows:
        try:
            import pandas as pd

            pdf = pd.DataFrame(
                rows, columns=list(range(len(rows[0]))), dtype=object
            )
            return spark.createDataFrame(pdf, schema=schema)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


#: (query_key) → the last DataFrame persisted for that query.  Queries
#: that legitimately need a mid-plan ``persist`` (a small aggregate
#: consumed by both a scalar-threshold branch and the result branch,
#: where exchange reuse does not fire) register here so a long-lived
#: session holds at most ONE cached frame per query instead of
#: accumulating entries until memory pressure evicts them.
_QUERY_CACHE: dict = {}


def scoped_persist(df: DataFrame, key) -> DataFrame:
    """Persist ``df``, releasing whatever was previously cached under
    ``key`` — unless the previous frame computes the SAME result, in
    which case it is returned as-is so repeated invocations of one
    query hit the existing cache (Spark's CacheManager would dedupe
    the storage anyway; unpersisting it would throw the warm data away
    and force a recompute per invocation).

    The previous frame is reused only while it is still cached: a DROP
    TABLE of a table it reads uncaches it (cascade), and its analyzed
    plan still lists that table's deleted files — a rebuilt index's
    append would otherwise execute the stale plan and fail with
    FILE_NOT_EXIST."""
    prev = _QUERY_CACHE.get(key)
    if prev is not None:
        try:
            same = prev._jdf.queryExecution().analyzed().sameResult(
                df._jdf.queryExecution().analyzed()
            ) and prev.storageLevel != StorageLevel.NONE
        except Exception:
            same = False  # old session stopped / plan not analyzable
        if same:
            return prev
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session of the old frame may already be stopped
    _QUERY_CACHE[key] = df
    return df.persist()


#: Module-level memo dicts (e.g. dedup's converged-CC labels) register
#: here so one call releases every session-scoped cache.
_AUX_CACHES: list = []

#: Registered with ``static_input=True``: memos keyed PURELY on
#: immutable input corpora (parquet footer counts) that hold no Spark
#: resources.  A memory-pressure clear (``drop_static_memos=False``)
#: keeps them — re-deriving a footer count of a corpus that cannot
#: have changed is measurement noise, not reclaimable memory.  Callers
#: whose INPUTS changed must use the default full clear.
_STATIC_AUX_CACHES: list = []


def register_aux_cache(cache: dict, static_input: bool = False) -> dict:
    (_STATIC_AUX_CACHES if static_input else _AUX_CACHES).append(cache)
    return cache


def clear_query_caches(drop_static_memos: bool = True) -> None:
    """Release every scoped-persist entry and registered memo
    (bench/service shutdown, or after external inputs changed).

    ``drop_static_memos=False`` is the MEMORY-PRESSURE variant: it
    drops everything holding executor/driver memory (persisted frames,
    DataFrame-bearing memos) but KEEPS plain-scalar memos keyed on
    immutable inputs (the footer-count cache) — the bench's mid-run
    clear uses it so the adaptive geometry selectors don't re-pay a
    count job per measurement.  Anything that might reflect CHANGED
    input data must clear with the default full variant: keeping the
    static memos while the underlying corpus changed leaves adaptive
    geometry (LSH band width, IVF/PQ moduli) sized for the OLD corpus.
    """
    for df in _QUERY_CACHE.values():
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    _QUERY_CACHE.clear()
    for cache in _AUX_CACHES:
        cache.clear()
    if drop_static_memos:
        for cache in _STATIC_AUX_CACHES:
            cache.clear()


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: (sf_dir, name, target) → whether the scan needs a fan-out
#: repartition; computed once from on-disk file sizes (no Spark job,
#: no per-load RDD conversion).
_FANOUT_CACHE: dict = {}


#: Spark byte-size suffixes (SparkConf's JavaUtils.byteStringAs): bare
#: numbers are bytes, and k/m/g/t/p accept an optional trailing 'b'.
_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _parse_bytes(raw, default: int = 128 * 1024 * 1024) -> int:
    """Parse a Spark byte-size conf value ('128m', '1g', '134217728b').

    Unit-suffixed settings are valid session confs; falling back to the
    128 MiB Spark default on anything unparseable beats crashing the
    load path over a conf string.
    """
    s = str(raw).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    if not num or suffix not in _BYTE_SUFFIXES:
        return default
    return int(num) * _BYTE_SUFFIXES[suffix]


def _table_sizes(spark: SparkSession, path: str):
    """(n_files, total_bytes) of a parquet table path — local or remote.

    Local paths use ``os`` directly (no JVM round-trip).  Anything else
    (``hdfs://``, ``s3a://``, …) goes through Spark's Hadoop FileSystem
    so the heuristic keeps working on a real cluster instead of
    crashing ``load()`` with FileNotFoundError.  Raises OSError-family
    errors for the caller to interpret.
    """
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    if os.path.isdir(path):
        # Recursive: a Hive-partitioned table (key=value/ subdirs, e.g.
        # the corpus sink's batch_id=*/ layout) keeps its data files one
        # or more levels down — counting only direct children read such
        # tables as 0 files, and _needs_fanout would bolt a repartition
        # onto an arbitrarily large table.
        n, total = 0, 0
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for f in filenames:
                if f.endswith(".parquet"):
                    n += 1
                    total += os.path.getsize(os.path.join(dirpath, f))
        return n, total
    # Remote path: Hadoop FS via the JVM gateway (absent under Spark
    # Connect — the except in _needs_fanout covers that too).  The
    # recursive listFiles iterator walks partition subdirectories the
    # same way the local branch does.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(jpath).toUri().getPath().rstrip("/")
    it = fs.listFiles(jpath, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        fname = p.getName()
        # Every path component BETWEEN the table root and the file must
        # be visible, mirroring the local os.walk dirnames pruning: a
        # crashed writer's `_temporary/0/task_x/part-*.parquet` sits
        # several levels deep with a non-hidden immediate parent, so
        # checking only getParent() would count in-flight/temp files.
        ppath = p.toUri().getPath()
        rel = ppath[len(root) :].lstrip("/") if ppath.startswith(root) else ppath
        hidden = any(c.startswith((".", "_")) for c in rel.split("/") if c)
        if fname.endswith(".parquet") and not hidden:
            n += 1
            total += st.getLen()
    return n, total


def managed_table_location(spark: SparkSession, table: str) -> str:
    """The warehouse path a MANAGED create of ``table`` would claim —
    resolved against the current database (a non-default db's tables
    live under ``{warehouse}/{db}.db/``; the bare
    ``{warehouse}/{table}`` guess both misses the real location and
    can point at an unrelated same-named directory).  Shared by
    :func:`clear_orphaned_table` and ``maintenance.vacuum_index``'s
    orphan scan (r15 ADVICE: the two previously resolved differently,
    so vacuum could miss real orphans in non-default dbs)."""
    name = table
    db = None
    if "." in table:
        db, name = table.rsplit(".", 1)
    if db is None:
        db = spark.catalog.currentDatabase()
    wh = spark.conf.get("spark.sql.warehouse.dir")
    prefix = "" if db == "default" else f"{db.lower()}.db/"
    return f"{wh.rstrip('/')}/{prefix}{name.lower()}"


def clear_orphaned_table(spark: SparkSession, table: str) -> None:
    """Make ``saveAsTable(mode("overwrite"))`` safe across sessions.

    A managed table's LOCATION can outlive its catalog entry (the
    metastore here is session-scoped): the next session's overwrite
    then fails with LOCATION_ALREADY_EXISTS.  If no catalog entry
    claims the table, remove the orphaned warehouse directory; a LIVE
    entry is left alone — ``mode("overwrite")`` handles it.

    The location is resolved against the CURRENT database (a
    non-default db's tables live under ``{warehouse}/{db}.db/``, where
    the bare ``{warehouse}/{table}`` guess would both miss the real
    orphan and point at an unrelated path), and the directory is only
    deleted if it LOOKS like a table remnant — contains a parquet part,
    a ``_SUCCESS`` marker, a ``_temporary`` staging subtree (a write
    that crashed BEFORE committing any part file leaves only that —
    the exact orphan this helper exists for), or nothing at all (an
    empty directory cannot be user data).  A same-named directory
    holding anything else was never a table and is left alone: the
    subsequent ``saveAsTable`` then fails loudly instead of this
    helper silently eating user data.

    The recursive scan tolerates entries VANISHING mid-iteration: the
    debris this helper clears is by definition left by a dying writer,
    and that writer's own JVM may still be tearing down its
    ``_temporary`` staging while we list it (observed: SIGKILL the
    Python driver, the orphaned JVM keeps committing/cleaning for a few
    seconds — ``listFiles`` then throws on the vanished subdir).  A
    vanished entry means the directory is CHANGING, so the scan
    re-lists for a consistent view; a vanished root means nothing left
    to clear.  If it still cannot get a stable listing after a few
    tries, a writer is actively working there — deleting under it would
    be wrong, so the error propagates.  Only IOException-family
    failures are retried (r16 ADVICE): FileNotFoundException and
    friends are exactly the vanished-mid-scan race, while permission /
    connectivity / py4j protocol errors are not transient and re-raise
    immediately instead of burning five sleeps.
    """
    if spark.catalog.tableExists(table):
        return
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(managed_table_location(spark, table))
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(jpath).toUri().getPath().rstrip("/")
    last_exc = None
    for _ in range(5):
        if not fs.exists(jpath):
            return
        any_file = False
        looks_like_table = False
        try:
            it = fs.listFiles(jpath, True)
            while it.hasNext():
                any_file = True
                p = it.next().getPath()
                fname = p.getName()
                ppath = p.toUri().getPath()
                rel = (
                    ppath[len(root):].lstrip("/")
                    if ppath.startswith(root) else ppath
                )
                dirs = [c for c in rel.split("/") if c][:-1]
                if (
                    fname.endswith(".parquet")
                    or fname == "_SUCCESS"
                    or "_temporary" in dirs
                ):
                    looks_like_table = True
                    break
        except Exception as exc:  # noqa: BLE001 - inspected below
            # transient only if some cause in the JVM chain is a
            # java.io.IOException (FileNotFoundException et al — the
            # vanished-mid-scan race this loop exists for); anything
            # else (permissions, protocol, Python-side) re-raises now
            jexc = getattr(exc, "java_exception", None)
            transient = False
            if jexc is not None:
                io_cls = jvm.java.lang.Class.forName("java.io.IOException")
                j = jexc
                while j is not None:
                    if io_cls.isInstance(j):
                        transient = True
                        break
                    j = j.getCause()
            if not transient:
                raise
            last_exc = exc
            time.sleep(0.2)
            continue
        # zero files at all (empty dir, or empty _temporary/ scaffolding
        # left by a crash before the first task wrote) is equally a remnant
        if looks_like_table or not any_file:
            fs.delete(jpath, True)
        return
    raise last_exc


def _needs_fanout(spark: SparkSession, path: str, target: int) -> bool:
    key = (path, target)
    if key not in _FANOUT_CACHE:
        try:
            n_files, total = _table_sizes(spark, path)
        except Exception:
            # Unlistable path (remote FS without a gateway, permissions,
            # Spark Connect).  The heuristic only matters for a SMALL
            # single-file corpus pinned to one task; a 100 TB dataset is
            # already multi-file/multi-split, so the safe default is no
            # extra shuffle.
            _FANOUT_CACHE[key] = False
            return False
        mpb_raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        mpb = _parse_bytes(mpb_raw)
        # the scan parallelism Spark will plan: at least one split per
        # file, more for multi-split files
        est_parts = max(n_files, -(-total // mpb))
        _FANOUT_CACHE[key] = est_parts < max(2, target // 2)
    return _FANOUT_CACHE[key]


#: (path, content signature) -> StructType; static corpora make the
#: schema safe to memoize for a session.  Without it EVERY ``load``
#: call runs a schema-inference job against the parquet footer
#: (~60-100 ms of job submission per call on an idle box — a 4-table
#: join paid four such jobs per invocation); with it the read carries
#: an explicit schema and plans straight from the listing.  The
#: os-level signature in the key (r17, ADVICE fix) makes an IN-PLACE
#: rewrite of a local table re-infer automatically; remote paths have
#: no cheap signature (sig None) and keep the documented contract:
#: rewriting a table in place requires a full ``clear_query_caches``
#: before the next ``load``.  static_input=True: the bench's mid-run
#: memory clear keeps it, a full clear_query_caches re-infers.
_SCHEMA_CACHE: dict = register_aux_cache({}, static_input=True)


def _local_signature(path: str):
    """Cheap os-level content fingerprint of a LOCAL table path:
    ``(n_parquet_files, total_bytes, max_mtime_ns)`` — ~100 µs of
    syscalls, no JVM round-trip.  Any local rewrite (new part files,
    appended batch, touched footer) changes it, which is what lets the
    schema/DataFrame memos below invalidate themselves instead of
    serving a stale file listing.  Returns ``None`` for non-local
    paths (hdfs://, s3a://, …) or on any OS error — callers then fall
    back to the session-lifetime contract (full ``clear_query_caches``
    after any in-place rewrite)."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (1, st.st_size, st.st_mtime_ns)
        if not os.path.isdir(path):
            return None
        n = tot = mt = 0
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for f in filenames:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(dirpath, f))
                    n += 1
                    tot += st.st_size
                    mt = max(mt, st.st_mtime_ns)
        return (n, tot, mt)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str, sig=None) -> DataFrame:
    key = (path, sig)
    sch = _SCHEMA_CACHE.get(key)
    if sch is not None:
        return spark.read.schema(sch).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


#: (session id, path, fanout-mode, fanout-decision, content signature)
#: -> (session, DataFrame): the constructed per-table DataFrame, memoized
#: for the session (r17, guide §4 — the py4j control plane IS the Python
#: boundary here).  A DataFrame is an immutable logical plan, so handing
#: the same object to every caller is semantics-free; what the memo
#: skips is ~13 py4j round-trips of reader/schema/path construction per
#: table per build (measured: 4,908 → far fewer build calls per warm
#: headline pass).  NOT result caching: every action still computes
#: from the parquet input.  Keyed on the os-level content signature so
#: local in-place rewrites miss automatically, on the fanout MODE and
#: the resolved fanout DECISION (a conf change that flips
#: ``_needs_fanout`` misses too), and on the session (the stored
#: session object is identity-checked to defeat id() reuse).
#: static_input=True: plan objects hold no executor memory, and the
#: signature key already handles input changes for local paths.
_DF_MEMO: dict = register_aux_cache({}, static_input=True)

#: id(session) -> (session, defaultParallelism): one py4j call per
#: session instead of one per load().
_PARALLELISM_CACHE: dict = register_aux_cache({}, static_input=True)


#: (id(session), tag) -> (session, Column/list-of-Columns): unresolved
#: expression templates memoized per session (r17, guide §4 — each
#: ``F.expr`` costs ~3 py4j round-trips, and the wide operators build
#: 32-64 of them per invocation: dedup_simhash's bit sums alone were
#: ~190 round-trips per warm build).  Unresolved Columns are reusable
#: across DataFrames; they die with their SparkContext, hence the
#: session-identity check.  Registered non-static: rebuilt in one call
#: batch after any clear.
_COLUMN_CACHE: dict = register_aux_cache({})


def cached_columns(spark: SparkSession, tag, builder):
    """Session-memoized expression template(s): ``builder()`` runs once
    per (session, tag); later calls reuse the parsed Column objects."""
    key = (id(spark), tag)
    hit = _COLUMN_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    cols = builder()
    _COLUMN_CACHE[key] = (spark, cols)
    return cols


def _default_parallelism(spark: SparkSession) -> int:
    hit = _PARALLELISM_CACHE.get(id(spark))
    if hit is not None and hit[0] is spark:
        return hit[1]
    n = spark.sparkContext.defaultParallelism
    _PARALLELISM_CACHE[id(spark)] = (spark, n)
    return n


def load(
    spark: SparkSession, sf_dir: str, name: str, fanout: "bool | str" = True
) -> DataFrame:
    """Read one corpus table; ``fanout`` controls the guarded scan
    fan-out.  ``True`` (default) fans out only the COMPUTE_HEAVY
    corpora; ``"wide"`` extends the same ``_needs_fanout``-guarded
    repartition to THIS call site — for fact scans feeding
    compute-dense, low-cardinality aggregation pipelines (q1/q7/q9
    class) whose single-row-group parquet would otherwise pin scan +
    joins + partial agg to one task (measured q9 2.25 s → 1.33 s at
    sf0.1/local[32]).  ``"wide:<col>"`` hashes on the named column,
    which MUST be near-unique in the read set (a low-cardinality
    column would recreate the skew this exists to remove) — call
    sites name a high-cardinality measure/key column they read
    anyway.  The guard makes it scale-adaptive: a multi-split scan
    (the 100 TB case) plans ≥ target/2 partitions and gets NO extra
    exchange.  Queries whose downstream agg/join keys are
    high-cardinality (q5's o⋈c chain) must either hash the fan-out on
    the DOWNSTREAM key so the exchange is the one the agg/join needs
    anyway, or not fan out at all — a round-robin/mismatched-key
    exchange there is pure overhead (measured +0.4 s); ``False``
    skips every fan-out (tiny filtered sides).

    The returned DataFrame is memoized per (session, path, fanout
    mode, fanout decision, content signature) — see ``_DF_MEMO``."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    wide = isinstance(fanout, str) and fanout.startswith("wide")
    fan = False
    target = 0
    if fanout and (name in COMPUTE_HEAVY or wide):
        target = _default_parallelism(spark)
        fan = _needs_fanout(spark, path, target)
    sig = _local_signature(path)
    key = (id(spark), path, str(fanout), fan, sig)
    hit = _DF_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = _load_uncached(spark, path, name, fanout, wide, fan, target, sig)
    _DF_MEMO[key] = (spark, df)
    return df


def _load_uncached(
    spark: SparkSession,
    path: str,
    name: str,
    fanout: "bool | str",
    wide: bool,
    fan: bool,
    target: int,
    sig=None,
) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects
        # outright; read it as raw nanos and downcast to a micros
        # timestamp (Spark's native precision).  The legacy conf has no
        # per-read option, so set it only around the (eager) footer
        # read and restore the caller's value after — execution plans
        # capture the conf at read time, so the returned DataFrame
        # stays valid while the shared session's setting is untouched.
        prior = spark.conf.get(_NANOS_CONF, None)
        spark.conf.set(_NANOS_CONF, "true")
        try:
            df = _read_parquet(spark, path, sig)
        finally:
            if prior is None:
                spark.conf.unset(_NANOS_CONF)
            else:
                spark.conf.set(_NANOS_CONF, prior)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer `div`, not `/`: float division of 1e18-scale nanos
            # loses precision and lands ±1 µs off the truncation DuckDB
            # (and any nanos→micros reader) applies.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = _read_parquet(spark, path, sig)
    if fan:
        # documents/embeddings feed compute-dense per-row operators
        # (shingling, 32-way hashing, vector math).  A small corpus in
        # one parquet file would otherwise pin that work to ONE task;
        # fan it out to the cluster.  Guarded (from file sizes, cached
        # — ``fan`` is the resolved ``_needs_fanout`` decision) so it
        # never adds a shuffle when the scan is already parallel (the
        # 100 TB case).  Callers that only skim the table (a filtered
        # collect of a tiny query side) pass fanout=False to skip the
        # repartition exchange entirely.
        #
        # "wide:<col>" sites hash on a near-unique column of their
        # own read set, NOT round-robin: plain repartition(n)
        # first SORTS every row locally (sortBeforeRepartition,
        # the retry-determinism guard), measured 1.07 s vs 0.54 s
        # for the same 600k-row fan-out.  A column hash is uniform
        # when the column is near-unique, deterministic under task
        # retry, and — unlike a monotonically_increasing_id
        # expression, which is a nondeterministic projection
        # BARRIER — transparent to filter pushdown
        # (plan-asserted).  The partitioning column does join the
        # scan's ReadSchema, so call sites name a column they read
        # anyway (q1/q7/q9 pass l_extendedprice), keeping the
        # pruned-scan contract of
        # test_q1_filter_pushdown_and_column_pruning intact.  The
        # COMPUTE_HEAVY corpora keep round-robin: their fan-out
        # moves ≤1 MB (the sort penalty is noise) and an
        # id-hash exchange would be indistinguishable from the
        # regroup-by-vec_id anti-pattern
        # test_lloyd_training_iteration guards against.
        if wide and ":" in fanout:
            df = df.repartition(target, F.col(fanout.split(":", 1)[1]))
        else:
            df = df.repartition(target)
    if name in ALWAYS_BROADCAST:
        return F.broadcast(df)
    return df


#: (sf_dir, table) -> row count; static test/bench corpora make this
#: safe to memoize for a session, and the adaptive geometry selectors
#: (_effective_modulus / _lsh_geometry / simhash key-family pick) call
#: it once per OPERATOR INVOCATION — without the memo a bench's
#: cold+3-warm loop pays four footer-scan jobs per query.  Cleared with
#: the rest of the session caches (register_aux_cache).
_COUNT_CACHE: dict = register_aux_cache({}, static_input=True)


def cached_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Session-memoized ``load(...).count()`` (parquet footer read)."""
    key = (sf_dir, name)
    if key not in _COUNT_CACHE:
        _COUNT_CACHE[key] = load(spark, sf_dir, name, fanout=False).count()
    return _COUNT_CACHE[key]
