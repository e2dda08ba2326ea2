"""Directed tests for the io session store — session_cached, the
silver-table memoization every session entry (shingle index, pair
tables, phash tables, clusters leg, models, frame memos) rides on, and
drain_session, its one bulk free. The review-found race (two concurrent
first calls both running the builder, the loser's checkpoints leaking)
is pinned here against the per-entry build locks.

Every test runs against an empty store (conftest's session_store), so
a drain here never frees another test's session checkpoints."""

from __future__ import annotations

import threading
import time

from apache_jira_scraper_spark.io import drain_session, session_cached, session_replace
from tests.conftest import store_entries


def _persistent_rdd_ids(spark) -> set:
    ids = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_session_cached_memoizes_and_keys_by_app(spark, session_store):
    builds = []

    def build():
        builds.append(1)
        return object()

    got1 = session_cached("t.memo", spark, ("k",), build)
    got2 = session_cached("t.memo", spark, ("k",), build)
    assert got1 is got2 and len(builds) == 1
    # a different extra_key builds separately
    session_cached("t.memo", spark, ("other",), build)
    assert len(builds) == 2
    # entries from a DEAD application are evicted on the next miss: they
    # reference stopped contexts whose checkpoint blocks are gone
    session_store[("dead-app", "t.memo", "stale")] = object()
    session_cached("t.memo", spark, ("third",), build)
    assert ("dead-app", "t.memo", "stale") not in session_store
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in store_entries(session_store, "t.memo"))


def test_session_cached_concurrent_first_calls_build_once(spark, session_store):
    """Review r09: without the lock, two threads racing a cold entry both
    ran the builder and the losing eager checkpoints leaked. With a slow
    builder and a barrier start, exactly ONE build must run and every
    thread must get the same object."""
    builds = []
    barrier = threading.Barrier(4)
    results = []

    def build():
        builds.append(1)
        time.sleep(0.3)  # widen the race window
        return object()

    def worker():
        barrier.wait()
        results.append(session_cached("t.race", spark, ("race",), build))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1, f"builder ran {len(builds)} times"
    assert len(results) == 4 and all(r is results[0] for r in results)


def test_session_cached_reentrant_builder(spark, session_store):
    """Builders may consult another store entry (e.g. a pair table
    builder reading the cached embedding projection) — the locks are
    re-entrant, so a nested call from inside a builder must not
    deadlock."""

    def build_inner():
        return "inner-value"

    def build_outer():
        return session_cached("t.inner", spark, ("i",), build_inner) + "+outer"

    assert (
        session_cached("t.outer", spark, ("o",), build_outer) == "inner-value+outer"
    )
    assert len(store_entries(session_store, "t.inner")) == 1
    assert len(store_entries(session_store, "t.outer")) == 1


def test_session_cached_independent_builds_overlap(spark, session_store):
    """r13 (VERDICT r12 item 4): builds for DIFFERENT keys must run
    concurrently — the global lock only guards store get/put. Two 0.4 s
    builders started together must finish in well under 0.8 s."""
    t0 = time.time()
    barrier = threading.Barrier(2)

    def build_slow(tag):
        def b():
            time.sleep(0.4)
            return tag

        return b

    def worker(tag):
        barrier.wait()
        session_cached("t.overlap", spark, (tag,), build_slow(tag))

    threads = [threading.Thread(target=worker, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.time() - t0
    assert elapsed < 0.7, f"independent builds serialized: {elapsed:.2f}s"
    assert len(store_entries(session_store, "t.overlap")) == 2


def test_session_cached_same_key_still_builds_once_per_key(spark, session_store):
    """The per-entry locks preserve the r09 leak contract per key while
    two different keys race concurrently: exactly one build per key."""
    builds: list = []
    barrier = threading.Barrier(6)

    def build_for(tag):
        def b():
            builds.append(tag)
            time.sleep(0.2)
            return object()

        return b

    results: dict = {}

    def worker(i):
        tag = "x" if i % 2 == 0 else "y"
        barrier.wait()
        results.setdefault(
            i, session_cached("t.per_key", spark, (tag,), build_for(tag))
        )

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(builds) == ["x", "y"], builds
    xs = [results[i] for i in range(6) if i % 2 == 0]
    ys = [results[i] for i in range(6) if i % 2 == 1]
    assert all(v is xs[0] for v in xs) and all(v is ys[0] for v in ys)


def test_drain_session_frees_every_entry_and_next_call_rebuilds(spark, session_store):
    """drain_session frees every checkpoint the store holds — tuple values
    member by member, model objects skipped — drops every entry, and the
    next call builds again. The frame memo is a lazy plan over the tuple
    entry's first checkpoint, so it must drain with it."""
    builds: list = []

    def build_tuple():
        builds.append("tuple")
        return (
            spark.range(10).localCheckpoint(eager=True),
            ["model", "weights"],
            spark.range(5).localCheckpoint(eager=True),
        )

    def build_memo():
        builds.append("memo")
        leg = session_cached("t.tuple", spark, ("k",), build_tuple)[0]
        return leg.select((leg["id"] * 2).alias("x"))

    baseline = _persistent_rdd_ids(spark)
    memo = session_cached("t.memo", spark, ("k",), build_memo)
    held = session_cached("t.tuple", spark, ("k",), build_tuple)
    assert memo.count() == 10 and builds == ["memo", "tuple"]
    ours = {_rdd_id(held[0]), _rdd_id(held[2])}
    assert ours <= _persistent_rdd_ids(spark)

    drain_session()
    after = _persistent_rdd_ids(spark)
    assert not (ours & after), "drained checkpoints still persisted"
    assert len(after) <= len(baseline), "persistent-RDD count above baseline"
    assert not session_store

    assert session_cached("t.memo", spark, ("k",), build_memo).count() == 10
    assert builds == ["memo", "tuple", "memo", "tuple"]
    drain_session()


def test_session_replace_frees_the_entry_it_replaces(spark, session_store):
    """A per-call entry (dedup_clusters' converged checkpoints) keeps one
    call's worth live: storing the next call's set frees the previous."""
    a = spark.range(3).localCheckpoint(eager=True)
    b = spark.range(4).localCheckpoint(eager=True)
    session_replace("t.per_call", spark, ("k",), (a,))
    session_replace("t.per_call", spark, ("k",), (b,))
    live = _persistent_rdd_ids(spark)
    assert _rdd_id(a) not in live and _rdd_id(b) in live
    assert list(store_entries(session_store, "t.per_call").values()) == [(b,)]
    drain_session()
