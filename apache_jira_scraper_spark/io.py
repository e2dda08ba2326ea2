"""Session state and table loading for the engine.

The session store is the package's one container of state that outlives
a call. Its contract:

- **One dict, one key shape.** ``_STORE`` maps (applicationId, name,
  *key) to a value. ``name`` is a string literal at the call site
  ("dedup.shingles", "text.bm25_topk", "pipeline.issues"), and
  tests/test_cache_inventory.py pins the full list of names.
- **What may be stored.** Input-side silver tables (eager
  localCheckpoints), trained model objects, and prepared-query frame
  memos (lazy DataFrame objects; no data). Never a gate's answer
  (RESULT_GRAIN_BANNED): reuse inputs and indexes across a session,
  never answers.
- **Writes.** ``session_cached`` builds an entry once per session and
  returns it on every later call (per-entry build locks, so independent
  builds overlap and racing first calls build once).
  ``session_replace`` swaps in a per-call entry and frees the one it
  replaces. Nothing else writes to the store.
- **Lifetime.** An entry lives until its application dies (dropped on
  the next miss, without a free) or until ``drain_session`` frees its
  checkpoints and drops it. Both go through ``_evict``, which skips an
  entry whose build is in flight.

The table loaders read the driver's synthetic parquet tables
(TESTDATA.md) with plain ``spark.read.parquet``: columnar scan with
column pruning and predicate pushdown. At 100 TB the same call reads a
partitioned lakehouse layout; nothing here assumes single-file inputs.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

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

def sf_dir_from_env(default: str = "/root/testdata/sf0.1") -> str:
    """THE SPARK_GRAFT_SF_DIR lookup — bench.py and ad-hoc callers share
    it so the default scale factor lives in exactly one place (the test
    suite's separate SPARK_GRAFT_TEST_SF_DIR knob intentionally defaults
    smaller)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def pin_utc_session(spark: SparkSession, why: str) -> None:
    """The engine's timestamp contract: gate outputs are compared against a
    DuckDB oracle that sees NAIVE wall-clock values, and Spark renders
    TIMESTAMP through the session time zone (toPandas, date_trunc, window
    all consult it) — so correctness REQUIRES a UTC session wherever an NTZ
    source column is cast to TIMESTAMP. The driver builds its own session,
    hence this runtime pin; it is deliberately loud (a warning, not a
    silent config rewrite) when it actually changes a non-UTC session.

    Why not a non-mutating per-column conversion instead? There isn't one
    that satisfies the oracle contract: convert_timezone('UTC', session_tz,
    ntz) preserves the INSTANT but shifts the wall values date_trunc/window
    render (diverging from the naive oracle), while reinterpreting the
    walls in the session zone preserves rendering but corrupts interval
    arithmetic across DST transitions (an hour vanishes or doubles), and
    keeping TIMESTAMP_NTZ end-to-end is rejected by watermarks/windows.
    Computing in a fixed zone — this pin — is the only shape where wall
    values, interval math, and the naive oracle all agree; the warning
    makes the one global side effect explicit instead of silent."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        import warnings

        warnings.warn(
            f"pinning spark.sql.session.timeZone=UTC (was {tz!r}): {why}; "
            "all query outputs assume a UTC session",
            stacklevel=3,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def free_local_checkpoint(df: DataFrame | None) -> None:
    """Best-effort deterministic unpersist of a localCheckpoint's storage
    blocks. Dataset.unpersist only clears cacheManager entries — the
    checkpoint RDD otherwise waits for driver GC + ContextCleaner, which
    can pin superseded iterative/ingest state in executor storage
    indefinitely on an idle driver heap (review r08). Reaches through the
    analyzed LogicalRDD (verified on this Spark: getPersistentRDDs drops
    immediately); the freed DataFrame is UNUSABLE afterward (truncated
    lineage cannot recompute), so call only on state that has been
    replaced. Failures are swallowed — the fallback is exactly the GC
    path this accelerates — but NOT silently: with a live SparkContext,
    the first failure per process warns once and every failure
    increments FREE_CHECKPOINT_FAILURES (ADVICE r08: a Spark upgrade
    that changes the analyzed-plan shape would otherwise silently demote
    the entire storage-hygiene mechanism to GC-paced eviction). Benign
    non-failures stay silent: freeing a never-checkpointed frame (no
    LogicalRDD to reach), and any failure after the process-global
    context stopped (teardown-time best-effort frees)."""
    global FREE_CHECKPOINT_FAILURES
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        try:
            # A frame that never was a localCheckpoint has no LogicalRDD
            # to reach — a benign call (shutdown/best-effort paths free
            # whatever handle they hold), not a mechanism failure.
            node = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            if "RDD" not in node:
                return
        except Exception:
            # Cannot even inspect the plan. With the process-global
            # SparkContext gone/stopped this is a teardown-time
            # best-effort free — benign, and the GC fallback is moot.
            # With a LIVE context it is indistinguishable from an
            # upgrade that renamed the inspection accessors themselves,
            # so it COUNTS (review r09 follow-up: err on detectability —
            # the r08 contract is that live-session breakage never goes
            # silent).
            try:
                from pyspark import SparkContext

                sc = SparkContext._active_spark_context
                if sc is None or sc._jsc.sc().isStopped():
                    return
            except Exception:
                return
        # Locked read-modify-write: frees run concurrently from the
        # streaming legs' foreachBatch threads, and an unsynchronized
        # increment can undercount (losing the ==1 warn entirely) or
        # double-warn (ADVICE r09).
        with _FREE_FAILURES_LOCK:
            FREE_CHECKPOINT_FAILURES += 1
            first = FREE_CHECKPOINT_FAILURES == 1
        if first:
            import warnings

            warnings.warn(
                "io.free_local_checkpoint reach-through failed "
                f"({type(exc).__name__}: {exc}); falling back to GC-paced "
                "eviction for ALL checkpoint frees this process — probably "
                "a Spark upgrade changed the analyzed-plan Py4J shape",
                stacklevel=2,
            )


# Monotonic count of free_local_checkpoint reach-through failures — a
# nonzero value means deterministic storage hygiene has degraded to the
# GC path (see free_local_checkpoint docstring). Guarded by
# _FREE_FAILURES_LOCK (concurrent foreachBatch frees).
FREE_CHECKPOINT_FAILURES = 0
_FREE_FAILURES_LOCK = threading.Lock()

# Serializes the save-narrow-restore windows over the session-global
# spark.sql.shuffle.partitions conf (multimodal._build_clusters and
# extended.q_stream_stateful's streaming-leg window): if two such windows
# ever overlapped, the save/restore would race and the session could be
# left compiled at the narrowed width (ADVICE r09). Gate execution is
# single-threaded today — this is cheap insurance, not a hot lock.
SHUFFLE_CONF_LOCK = threading.RLock()


@contextmanager
def narrowed_shuffle_partitions(spark: SparkSession, n: int):
    """THE save-narrow-restore window over the session-global shuffle
    conf — one definition for every caller (review r10: two hand-rolled
    copies needed the same two exception-safety fixes applied twice).
    Serialized by SHUFFLE_CONF_LOCK; the conf get/set live INSIDE the
    try so a Py4J failure cannot leak the lock, and the restore is
    wrapped so the release runs even when the restore itself raises.
    old=None marks "nothing to restore"."""
    SHUFFLE_CONF_LOCK.acquire()
    old = None
    try:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        yield
    finally:
        try:
            if old is not None:
                spark.conf.set("spark.sql.shuffle.partitions", old)
        finally:
            SHUFFLE_CONF_LOCK.release()


# THE session store (see the module docstring) and its per-entry build
# locks, keyed like the store (see session_cached). The process-wide
# RLock guards both dicts; it is re-entrant because a builder may
# consult another entry.
_STORE: dict = {}
_BUILD_LOCKS: dict = {}
_SESSION_CACHE_LOCK = threading.RLock()

# Monotonic count of session_cached() calls (hits AND builds). bench.py
# snapshots it around each gate's samples to mark gates whose benched plan
# may be a scan of a pre-materialized artifact (ADVICE r06: min-of-N over
# cached checkpoints reads as an engine win when it's a cache-warm win).
SESSION_CACHE_TOUCHES = 0


def _free_value(value) -> None:
    """Free every checkpointed DataFrame a store value holds — the value
    itself or the members of a tuple value. Model objects (weight lists,
    numpy arrays) hold no blocks; lazy frame memos are a benign no-op in
    free_local_checkpoint."""
    for x in value if isinstance(value, tuple) else (value,):
        if isinstance(x, DataFrame):
            free_local_checkpoint(x)


def _evict(key: tuple, free: bool) -> None:
    """Drop one store entry — THE eviction rule, shared by session_cached's
    dead-app pass and drain_session. The caller holds _SESSION_CACHE_LOCK.

    review r13: never drop an entry whose build lock is HELD — a builder
    still in flight would otherwise (a) store its result after this
    eviction (one leaked checkpointed frame until the next pass) and (b)
    leave same-key waiters minting a SECOND lock, re-creating the r09
    double-build / overwritten-checkpoint leak. A skipped entry goes on a
    later pass once its builder releases. ``free`` unpersists the entry's
    checkpoints; dead-app entries pass False (their blocks died with
    their SparkContext)."""
    lk = _BUILD_LOCKS.get(key)
    if lk is not None and not lk.acquire(blocking=False):
        return
    try:
        value = _STORE.pop(key, None)
        _BUILD_LOCKS.pop(key, None)
    finally:
        if lk is not None:
            lk.release()
    if free:
        _free_value(value)


def session_cached(name: str, spark: SparkSession, extra_key: tuple, build):
    """Return this session's (name, *extra_key) entry, building it with
    ``build()`` on the first call — THE memoization for the per-session
    silver tables (shingle index, pair table, simhash sketch, issues
    table, embedding projections), trained models and prepared-query
    frame memos. Entries from OTHER applicationIds are evicted on a miss:
    they reference stopped SparkContexts whose checkpoint blocks are
    already gone, and would otherwise accumulate one dead DataFrame per
    session restart for the process lifetime.

    Locking (r13 — per-entry build locks, VERDICT r12 item 4): the
    process-wide RLock guards only store get/put and the lock map; each
    entry's builder runs under its own RLock. Concurrent first calls for
    the SAME entry still build exactly once (the r09 contract — losers
    wait, then read the winner's entry; no overwritten-checkpoint leak),
    while INDEPENDENT cold builds (e.g. q_two_stage_topk's
    ts-spine/pq/opq, ~15.5 s back-to-back under one global lock) overlap
    on concurrent driver threads. Re-entrant both levels down because
    builders may themselves consult another entry (the dependency graph
    is layered/acyclic — a cycle would deadlock, and would also be an
    infinite build recursion under any locking)."""
    global SESSION_CACHE_TOUCHES
    with _SESSION_CACHE_LOCK:
        SESSION_CACHE_TOUCHES += 1
        app = spark.sparkContext.applicationId
        key = (app, name, *extra_key)
        got = _STORE.get(key)
        if got is not None:
            return got
        for k in [k for k in _STORE if k[0] != app]:
            _evict(k, free=False)
        build_lock = _BUILD_LOCKS.get(key)
        if build_lock is None:
            build_lock = _BUILD_LOCKS[key] = threading.RLock()
    with build_lock:
        with _SESSION_CACHE_LOCK:
            got = _STORE.get(key)
        if got is None:
            got = build()
            with _SESSION_CACHE_LOCK:
                _STORE[key] = got
    return got


def session_replace(name: str, spark: SparkSession, extra_key: tuple, value) -> None:
    """Make ``value`` this session's (name, *extra_key) entry and free the
    checkpoints of the entry it replaces. For the checkpoints backing a
    per-call lazy result: they stay live until the same call runs again,
    so repeated calls pin one call's worth instead of one set per call.
    The entry is never read back — nothing is reused across calls."""
    with _SESSION_CACHE_LOCK:
        key = (spark.sparkContext.applicationId, name, *extra_key)
        old = _STORE.get(key)
        _STORE[key] = value
    _free_value(old)


def drain_session() -> None:
    """Free every checkpointed DataFrame in the store (tuple values
    included) and drop every entry; the next call rebuilds. Entries of a
    dead application are dropped without a free. Draining everything at
    once keeps each prepared-query memo in step with the checkpoints its
    lazy plan scans (ADVICE r13)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    with _SESSION_CACHE_LOCK:
        for k in list(_STORE):
            _evict(k, free=k[0] == app)


def normalize_events_ts(df: DataFrame, spark: SparkSession, context: str) -> DataFrame:
    """Normalize events.ts to a plain µs TimestampType whatever the file
    stores — THE ts dispatch, shared by the batch loader and the streaming
    source builder (extended._events_stream) so the two read identical
    wall-clock values:

      - legacy testdata: TIMESTAMP(NANOS) read as raw nanos via the
        nanosAsLong conf → DIV 1000 truncates exactly like Spark's own
        ns→µs handling would
      - current testdata: TIMESTAMP(MICROS) without timezone → Spark reads
        TIMESTAMP_NTZ, which watermarks/windows reject; cast to TIMESTAMP
        under a UTC session so the wall-clock values the DuckDB oracle
        sees in the naive column are preserved

    DuckDB-oracle queries never compare sub-second. Works on batch and
    streaming DataFrames alike (only the schema is consulted)."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        pin_utc_session(spark, context)
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
        # rejects outright. Set the legacy conf here (runtime-settable) rather
        # than only in session.py's builder, so queries work on ANY session —
        # the correctness driver constructs its own SparkSession.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(
            df,
            spark,
            "events.ts is TIMESTAMP_NTZ and must keep its wall-clock values "
            "through the TIMESTAMP cast",
        )
    return df


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str, partitions: int | None = None
) -> DataFrame:
    """Load + round-robin repartition to the full core count.

    A small single-file parquet table arrives as ONE scan partition, so any
    compute-heavy projection over it (per-shingle md5, vector folds, Pandas
    UDF decode) runs on one core. Fanning out first costs a tiny shuffle of
    the small table and buys core-count parallelism for the expensive stage.
    On a real cluster the same call is cheap insurance against skewed file
    layouts; explicit numPartitions is preserved by AQE (no re-coalesce).
    """
    df = load_table(spark, sf_dir, name)
    n = partitions or spark.sparkContext.defaultParallelism
    # Only fan out when the scan is actually under-parallel (small/few files).
    # A big table already scans with >= core-count partitions, and a blanket
    # repartition there would be a full shuffle of the corpus — the opposite
    # of cheap insurance.
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
