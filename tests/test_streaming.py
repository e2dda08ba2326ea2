"""Structured Streaming tests (T4-T5): drive each pipeline with a bounded
file-source stream over the events parquet and check results against the
equivalent batch computation — watermark semantics can't drop anything in
a single ordered replay, so stream results must equal batch results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_jira_scraper_spark.io import load_table
from apache_jira_scraper_spark.streaming import pipelines
from tests.conftest import TEST_SF_DIR


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_table(spark, TEST_SF_DIR, "events")


@pytest.fixture(scope="module")
def events_stream(spark, events_batch, tmp_path_factory):
    # re-land the parquet WITHOUT nanos (µs timestamps) so the streaming
    # file source reads it with a plain schema
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    events_batch.write.mode("overwrite").parquet(path)
    schema = events_batch.schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "4").parquet(path)


def _run(spark, sdf, name: str, mode: str = "append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _pgm(img):
    """Binary P5 payload for a numpy grayscale image — shared by the
    media-ingest tests (review r09: was three inline copies)."""
    h, w = img.shape
    return f"P5\n{w} {h}\n255\n".encode() + img.tobytes()


def test_tumbling_counts_match_batch(spark, events_batch, events_stream):
    out = _run(spark, pipelines.tumbling_counts(events_stream), "t_tumbling", "append")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value_cents"])
        for r in out.collect()
    }
    exp = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value_cents"])
        for r in (
            events_batch.groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (F.sum(F.col("value").cast("decimal(14,2)")) * 100).cast("bigint").alias("total_value_cents"),
            )
            .select(F.col("window.start").alias("window_start"), "event_type", "n", "total_value_cents")
        ).collect()
    }
    # append mode emits only watermark-closed windows; every emitted window
    # must match batch exactly, and most windows must have been emitted
    assert got
    for k, v in got.items():
        assert exp[k] == v, k
    assert len(got) >= len(exp) * 0.8


def test_sliding_windows_match_batch(spark, events_batch, events_stream):
    """Every emitted sliding frame must equal the batch twin; each event
    lands in window/slide = 2 overlapping frames."""
    out = _run(spark, pipelines.sliding_avg(events_stream), "t_sliding", "append")
    got = {
        (r["window_start"], r["user_id"]): r["n"] for r in out.collect()
    }
    exp = {
        (r["window_start"], r["user_id"]): r["n"]
        for r in (
            events_batch.groupBy(F.window("ts", "10 minutes", "5 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"), "user_id", "n")
        ).collect()
    }
    assert got
    for k, v in got.items():
        assert exp[k] == v, k
    assert len(got) >= len(exp) * 0.8


def test_session_windows_close(spark, events_stream, events_batch):
    out = _run(spark, pipelines.session_counts(events_stream), "t_sessions", "append")
    rows = out.collect()
    assert rows
    # session event totals per user can't exceed the user's event count
    per_user = {r["user_id"]: r["n"] for r in events_batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    from collections import defaultdict

    sess_events = defaultdict(int)
    for r in rows:
        assert r["session_end"] > r["session_start"]
        sess_events[r["user_id"]] += r["n_events"]
    for uid, n in sess_events.items():
        assert n <= per_user[uid]


def test_stream_dedup_drops_replayed_rows(spark, events_batch, events_stream, tmp_path):
    # duplicate the stream by unioning it with itself: dedup must halve it
    doubled = events_stream.union(events_stream)
    out = _run(spark, pipelines.stream_dedup(doubled), "t_dedup", "append")
    n_batch = events_batch.count()
    assert out.select("event_id").distinct().count() == out.count()
    assert out.count() == n_batch


def test_idempotent_sink_replay_safe(spark, events_stream, events_batch, tmp_path):
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = pipelines.write_idempotent_parquet(events_stream, out_dir, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out_dir)
    assert first.drop("batch_id").count() == events_batch.count()
    # replay: restarting with the same checkpoint must not duplicate rows
    q2 = pipelines.write_idempotent_parquet(events_stream, out_dir, ckpt)
    q2.awaitTermination(120)
    again = spark.read.parquet(out_dir)
    assert again.count() == first.count()


def test_stateful_user_stats_match_batch(spark, events_batch, events_stream):
    """applyInPandasWithState lifetime counters: after draining the bounded
    stream, the LAST emitted row per user must equal the batch aggregate."""
    out = _run(spark, pipelines.stateful_user_stats(events_stream), "t_stateful", "update")
    # update mode appends a row per user per batch -> keep the final row
    # (monotone counters: the max n_events row is the last state)
    final = {}
    for r in out.collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    exp = {
        r["user_id"]: r
        for r in (
            events_batch.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum((F.col("value").cast("decimal(14,2)") * 100).cast("bigint")).alias(
                    "total_value_cents"
                ),
                F.max(F.unix_timestamp("ts")).alias("last_seen_s"),
            )
        ).collect()
    }
    assert set(final) == set(exp)
    for uid, r in final.items():
        e = exp[uid]
        assert (r["n_events"], r["total_value_cents"], r["last_seen_s"]) == (
            e["n_events"], e["total_value_cents"], e["last_seen_s"]
        ), uid


def test_watermark_drops_late_rows(spark, events_batch, tmp_path):
    """Genuine late-data drop: land a second file whose rows are far behind
    the watermark after the first batch advanced it; with a tumbling-window
    APPEND-mode agg, the late window must never be emitted."""
    path = str(tmp_path / "landing")
    early = events_batch.filter(F.col("event_id") % 2 == 0)
    late = (
        events_batch.filter(F.col("event_id") % 2 == 1)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 365 DAYS"))
    )
    early.write.parquet(f"{path}/f0")
    stream = (
        spark.readStream.schema(events_batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/f*")
    )
    agg = pipelines.tumbling_counts(stream, window="5 minutes", watermark="10 minutes")
    name = "t_latedrop"
    q = (
        agg.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(processingTime="1 second").start()
    )
    try:
        # first file processed -> watermark advances to max(early.ts) - 10m
        import time as _t

        deadline = _t.time() + 60
        while _t.time() < deadline and not spark.table(name).count():
            _t.sleep(1)
        late.write.parquet(f"{path}/f1")
        _t.sleep(8)  # several triggers to process the late file
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.table(name)
    year_ago = emitted.filter(F.col("window_start") < F.lit("2000-01-01").cast("timestamp"))
    # none of the year-old windows may close into the append output
    min_early_year = 2000  # sanity floor; real data is recent
    assert emitted.count() > 0
    assert year_ago.count() == 0


def test_stream_interval_join_matches_batch(spark, events_batch, events_stream):
    """Stream-stream interval join on bounded input == batch self-join with
    the same predicate (single replay, nothing droppable by watermark)."""
    out = _run(
        spark,
        pipelines.stream_interval_join(events_stream),
        "t_ssjoin",
        "append",
    )
    got = {(r["l_id"], r["r_id"]): r["purchase_cents"] for r in out.collect()}

    l = events_batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("l_id"), F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    r = events_batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_id"), F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"), F.col("value").alias("r_value"),
    )
    # cents computed DRIVER-SIDE with Python Decimal — genuinely independent
    # of the pipeline's Spark expression (a mirrored Spark expression would
    # pass even if the shared cents math were wrong; this catches both the
    # round(double)*100 truncation class (0.29 -> 28) and any future drift
    # in the engine-side decimal cast)
    from decimal import ROUND_HALF_UP, Decimal

    def py_cents(v: float) -> int:
        return int(
            (Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
            .to_integral_value(ROUND_HALF_UP)
        )

    exp = {
        (row["l_id"], row["r_id"]): py_cents(row["r_value"])
        for row in l.join(
            r,
            F.expr("l_user = r_user AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL 30 minutes"),
        )
        .select("l_id", "r_id", "r_value")
        .collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_dedup_ingest_cross_batch_state(spark, tmp_path):
    """Two micro-batches of documents through streaming_dedup_ingest: the
    second batch must dedupe against the FIRST batch's kept index (custom
    cross-batch state), and the landed output must equal the two-call
    incremental_dedup result."""
    import os
    import time

    from apache_jira_scraper_spark.operators.dedup import incremental_dedup
    from apache_jira_scraper_spark.streaming.pipelines import streaming_dedup_ingest

    base = lambda i: " ".join(f"d{i}w{j}" for j in range(12))  # noqa: E731
    batch_a = [(0, base(0)), (1, base(0) + " tail"), (2, base(2))]
    batch_b = [(10, base(0) + " x"), (11, base(11)), (12, base(2) + " y")]

    landing = str(tmp_path / "docs")
    os.makedirs(landing)
    schema = "doc_id long, text string"
    spark.createDataFrame(batch_a, schema).coalesce(1).write.parquet(f"{landing}/a")
    time.sleep(1.1)  # distinct mtimes -> deterministic micro-batch order
    spark.createDataFrame(batch_b, schema).coalesce(1).write.parquet(f"{landing}/b")
    for d, ts in (("a", 1_000), ("b", 2_000)):
        for f in os.listdir(f"{landing}/{d}"):
            os.utime(f"{landing}/{d}/{f}", (ts, ts))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{landing}/*")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = streaming_dedup_ingest(stream, out_dir, ckpt)
    q.awaitTermination()

    landed = {
        (r["doc_id"], r["batch_id"]) for r in spark.read.parquet(out_dir).collect()
    }
    landed_ids = {d for d, _ in landed}

    ka, idx = incremental_dedup(spark.createDataFrame(batch_a, schema))
    kb, _ = incremental_dedup(spark.createDataFrame(batch_b, schema), idx)
    expect = {r["doc_id"] for r in ka.collect()} | {r["doc_id"] for r in kb.collect()}
    assert landed_ids == expect
    # 10 dupes batch-A doc 0 and 12 dupes doc 2 — dropped ONLY if the index
    # actually crossed the batch boundary
    assert 10 not in landed_ids and 12 not in landed_ids and 11 in landed_ids
    assert {b for _, b in landed} == {0, 1}


def test_streaming_media_dedup_ingest_cross_batch_state(spark, tmp_path):
    """r08: two micro-batches of REAL image payloads through
    streaming_media_dedup_ingest — batch B near-dups against batch A's
    KEPT phash index (never re-decoded), within-batch near-dups drop the
    larger id, undecodable payloads are kept (perceptual policy has no
    opinion), and a restart-time rebuild reproduces the index."""
    import os
    import time

    import numpy as np

    from apache_jira_scraper_spark.streaming.pipelines import (
        rebuild_media_ingest_state,
        streaming_media_dedup_ingest,
    )

    rng = np.random.default_rng(71)
    a = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    a_near = a.copy()
    a_near[0, 0] ^= 1
    c = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    d = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    batch_a = [
        (10, bytearray(_pgm(a))),
        (11, bytearray(_pgm(a_near))),  # within-batch near-dup of 10
        (12, bytearray(_pgm(c))),
    ]
    batch_b = [
        (20, bytearray(_pgm(a))),  # exact dup of KEPT index doc 10
        (21, bytearray(_pgm(d))),  # new content
        (22, bytearray(_pgm(c))),  # dup of kept index doc 12
        (23, bytearray(b"not an image at all")),  # undecodable: kept
        (10, bytearray(_pgm(a))),  # at-least-once id replay: dropped
    ]
    landing = str(tmp_path / "media")
    os.makedirs(landing)
    schema = "doc_id long, content binary"
    spark.createDataFrame(batch_a, schema).coalesce(1).write.parquet(f"{landing}/a")
    time.sleep(1.1)
    spark.createDataFrame(batch_b, schema).coalesce(1).write.parquet(f"{landing}/b")
    for sub, ts in (("a", 1_000), ("b", 2_000)):
        for f in os.listdir(f"{landing}/{sub}"):
            os.utime(f"{landing}/{sub}/{f}", (ts, ts))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{landing}/*")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = streaming_media_dedup_ingest(stream, out_dir, ckpt)
    q.awaitTermination()

    landed = {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert landed == {(10, 0), (12, 0), (21, 1), (23, 1)}

    # restart-time rebuild: kept ids cover EVERY survivor (incl. the
    # undecodable 23, so the id-replay guard can see it); the phash
    # segments hold exactly the kept DECODABLE docs' hashes
    kept_ids, segments = rebuild_media_ingest_state(spark, out_dir)
    assert {r["doc_id"] for r in kept_ids.collect()} == {10, 12, 21, 23}
    assert len(segments) == 1
    assert {r["doc_id"] for r in segments[0].collect()} == {10, 12, 21}


def test_free_local_checkpoint_drops_storage(spark):
    """_free_local_checkpoint releases a localCheckpoint's persisted
    blocks immediately (Dataset.unpersist wouldn't — the RDD otherwise
    waits on driver GC + ContextCleaner), and swallows objects it cannot
    reach through."""
    from apache_jira_scraper_spark.streaming.pipelines import (
        _free_local_checkpoint,
    )

    def persistent_ids():
        # track SPECIFIC RDD ids, not counts: the shared session's async
        # ContextCleaner may reclaim unrelated leaked checkpoints between
        # snapshots (review r08 flake)
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = persistent_ids()
    df = spark.range(10).localCheckpoint(eager=True)
    new_ids = persistent_ids() - before
    assert len(new_ids) == 1
    _free_local_checkpoint(df)
    assert not (new_ids & persistent_ids())
    _free_local_checkpoint(None)  # no-op
    _free_local_checkpoint(spark.range(3))  # not checkpointed: swallowed


def test_free_local_checkpoint_failure_is_detectable(spark):
    """ADVICE r08: a Spark upgrade that breaks the Py4J reach-through must
    be DETECTABLE, not a silent revert to GC-paced eviction. A
    checkpoint-backed plan (LogicalRDD) whose rdd() accessor raises in a
    LIVE session increments FREE_CHECKPOINT_FAILURES and warns once per
    process; a never-checkpointed frame stays a benign swallow (previous
    test), and a fully-uninspectable frame (stopped context at teardown)
    is also benign (review r09)."""
    import warnings

    from apache_jira_scraper_spark import io as io_mod

    class _BrokenAnalyzed:
        # plan IS inspectable (live session, LogicalRDD) but the
        # unpersist reach-through accessor is gone — the upgrade scenario
        def rdd(self):
            raise RuntimeError("accessor renamed")

        def getClass(self):
            class _Cls:
                def getSimpleName(self):
                    return "LogicalRDD"

            return _Cls()

    class _BrokenQE:
        def analyzed(self):
            return _BrokenAnalyzed()

    class _BrokenJdf:
        def queryExecution(self):
            return _BrokenQE()

    class _BrokenFrame:
        _jdf = _BrokenJdf()

    class _DeadJdf:  # stopped context: nothing is inspectable
        def queryExecution(self):
            raise RuntimeError("SparkContext was shut down")

    class _DeadFrame:
        _jdf = _DeadJdf()

    before = io_mod.FREE_CHECKPOINT_FAILURES
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        io_mod.free_local_checkpoint(_BrokenFrame())
    assert io_mod.FREE_CHECKPOINT_FAILURES == before + 1
    # warns on the FIRST process-wide failure only; later ones just count
    if before == 0:
        assert any("reach-through failed" in str(w.message) for w in caught)
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        io_mod.free_local_checkpoint(_BrokenFrame())
    assert io_mod.FREE_CHECKPOINT_FAILURES == before + 2
    assert not any("reach-through failed" in str(w.message) for w in caught2)
    # never-checkpointed frame: benign
    n = io_mod.FREE_CHECKPOINT_FAILURES
    io_mod.free_local_checkpoint(spark.range(2))
    assert io_mod.FREE_CHECKPOINT_FAILURES == n
    # fully-uninspectable frame with a LIVE context: indistinguishable
    # from a renamed inspection accessor -> COUNTS (err on detectability)
    io_mod.free_local_checkpoint(_DeadFrame())
    assert io_mod.FREE_CHECKPOINT_FAILURES == n + 1
    # same frame with the process-global context gone: teardown-time
    # best-effort free -> benign
    from pyspark import SparkContext

    real_sc = SparkContext._active_spark_context
    try:
        SparkContext._active_spark_context = None
        io_mod.free_local_checkpoint(_DeadFrame())
    finally:
        SparkContext._active_spark_context = real_sc
    assert io_mod.FREE_CHECKPOINT_FAILURES == n + 1


def test_streaming_media_dedup_ingest_segment_compaction(spark, tmp_path):
    """Three micro-batches with compact_every=2: the segment compaction
    path runs mid-stream and cross-batch dedup still holds across the
    compaction boundary (batch C dupes batch A content AFTER batches A+B
    merged into one segment)."""
    import os
    import time

    import numpy as np

    from apache_jira_scraper_spark.streaming.pipelines import (
        streaming_media_dedup_ingest,
    )

    rng = np.random.default_rng(73)
    a = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    b = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    c = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    landing = str(tmp_path / "media")
    os.makedirs(landing)
    schema = "doc_id long, content binary"
    batches = [
        ("x", 1_000, [(1, bytearray(_pgm(a)))]),
        ("y", 2_000, [(2, bytearray(_pgm(b)))]),
        ("z", 3_000, [(3, bytearray(_pgm(a))), (4, bytearray(_pgm(c)))]),
    ]
    for sub, ts, rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{landing}/{sub}"
        )
        time.sleep(0.05)
        for f in os.listdir(f"{landing}/{sub}"):
            os.utime(f"{landing}/{sub}/{f}", (ts, ts))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{landing}/*")
    )
    q = streaming_media_dedup_ingest(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        compact_every=2,
    )
    q.awaitTermination()
    landed = {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # doc 3 dupes batch-0 content and must drop via the COMPACTED segment
    assert landed == {(1, 0), (2, 1), (4, 2)}


def test_media_ingest_restart_continues_from_rebuilt_state(spark, tmp_path):
    """Restart continuation under the tiered store (r09): a second stream
    fed rebuild_media_ingest_state's (kept_ids, segments) — which enter
    the tier store at level 1 — still drops re-delivered ids (replay
    guard) and near-dups of PRE-restart content, and keeps new content.
    (rebuild_media_ingest_state normalizes frame_idx itself, so the
    sink's own normalization branch is NOT on this path — it has its own
    directed test below: test_media_ingest_normalizes_bare_segments.)"""
    import os

    import numpy as np

    from apache_jira_scraper_spark.streaming.pipelines import (
        rebuild_media_ingest_state,
        streaming_media_dedup_ingest,
    )

    rng = np.random.default_rng(91)
    a = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    b = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    schema = "doc_id long, content binary"

    landing = str(tmp_path / "land")
    os.makedirs(landing)

    def run(initial_state):
        # SAME landing/out/checkpoint across runs — true restart shape:
        # the restarted stream resumes from the checkpoint and assigns
        # the new file the next batch_id
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{landing}/*")
        )
        q = streaming_media_dedup_ingest(
            stream,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            initial_state=initial_state,
        )
        q.awaitTermination()

    spark.createDataFrame([(1, bytearray(_pgm(a)))], schema).coalesce(
        1
    ).write.parquet(f"{landing}/x")
    for f in os.listdir(f"{landing}/x"):
        os.utime(f"{landing}/x/{f}", (1_000, 1_000))
    run(None)
    # crash: in-memory state lost; rebuild from committed output dirs
    state = rebuild_media_ingest_state(spark, str(tmp_path / "out"))
    assert state is not None
    a_near = a.copy()
    a_near[0, 0] ^= 1
    spark.createDataFrame(
        [
            (1, bytearray(_pgm(a))),  # id replay of a pre-restart keeper
            (2, bytearray(_pgm(a_near))),  # near-dup of pre-restart content
            (3, bytearray(_pgm(b))),  # new content
        ],
        schema,
    ).coalesce(1).write.parquet(f"{landing}/y")
    for f in os.listdir(f"{landing}/y"):
        os.utime(f"{landing}/y/{f}", (2_000, 2_000))
    run(state)
    landed = {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert landed == {(1, 0), (3, 1)}


def test_media_ingest_normalizes_bare_segments(spark, tmp_path):
    """The sink's OWN initial-state normalization branch (review r09: it
    was previously claimed-covered but unreachable via rebuild, which
    normalizes first): a caller-supplied image-hash segment WITHOUT
    frame_idx is re-checkpointed to a bare LogicalRDD with frame_idx 0 —
    the index join still drops a near-dup of the indexed content — and
    the caller's original checkpoint is freed (ownership transfer)."""
    import os

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import image_phash
    from apache_jira_scraper_spark.streaming.pipelines import (
        streaming_media_dedup_ingest,
    )

    rng = np.random.default_rng(97)
    a = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    b = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    schema = "doc_id long, content binary"
    indexed = spark.createDataFrame([(1, bytearray(_pgm(a)))], schema)
    seg = image_phash(indexed).localCheckpoint(eager=True)  # no frame_idx
    assert "frame_idx" not in seg.columns
    seg_rdd_id = seg._jdf.queryExecution().analyzed().rdd().id()
    ids = indexed.select("doc_id").localCheckpoint(eager=True)

    landing = str(tmp_path / "land")
    os.makedirs(landing)
    a_near = a.copy()
    a_near[0, 0] ^= 1
    spark.createDataFrame(
        [(2, bytearray(_pgm(a_near))), (3, bytearray(_pgm(b)))], schema
    ).coalesce(1).write.parquet(f"{landing}/x")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{landing}/*")
    )
    q = streaming_media_dedup_ingest(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        initial_state=(ids, [seg]),
    )
    # normalization happens at sink construction: the caller's bare
    # segment must already be freed (specific RDD id, review-r08 style)
    live = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
    while it.hasNext():
        live.add(it.next())
    assert seg_rdd_id not in live, "caller's bare segment not freed"
    q.awaitTermination()
    kept = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert kept == {3}, kept  # 2 dropped via the normalized index segment


def test_tiered_segments_compaction_touches_only_merged_tier(spark):
    """VERDICT r08 item 3: the LSM-style tier store merges ONLY the tier
    that filled — higher-level segments are neither rewritten nor freed
    by a lower-level compaction — and a full cascade merges upward one
    level at a time. Freed segments are tracked by SPECIFIC RDD id
    (asserting counts on the shared session flakes, review r08)."""
    from apache_jira_scraper_spark.streaming.pipelines import _TieredSegments

    def rdd_id(df):
        return df._jdf.queryExecution().analyzed().rdd().id()

    def persisted(ids):
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        live = set()
        while it.hasNext():
            live.add(it.next())
        return ids & live

    def seg(lo, hi):
        return spark.range(lo, hi).localCheckpoint(eager=True)

    tiers = _TieredSegments(fanout=2)
    tiers.add(seg(0, 1))
    tiers.add(seg(1, 2))  # level-0 full -> merge to level 1
    assert [lvl for lvl, dfs in sorted(tiers.tiers.items()) if dfs] == [1]
    l1 = tiers.tiers[1][0][0]  # entries are (df, durable_path) since r10
    l1_id = rdd_id(l1)
    s2 = seg(2, 3)
    s2_id = rdd_id(s2)
    tiers.add(s2)  # level 0 holds one segment; level 1 untouched
    assert tiers.tiers[1][0][0] is l1, "level-1 segment rewritten by level-0 add"
    assert persisted({l1_id, s2_id}) == {l1_id, s2_id}
    union_rows = {r["id"] for r in tiers.union().collect()}
    assert union_rows == {0, 1, 2}
    # 4th segment: level 0 fills -> merge -> level 1 fills -> cascade to 2
    tiers.add(seg(3, 4))
    assert [lvl for lvl, dfs in sorted(tiers.tiers.items()) if dfs] == [2]
    assert {r["id"] for r in tiers.union().collect()} == {0, 1, 2, 3}
    # the cascade consumed and freed the old level-1 and level-0 segments
    assert not persisted({l1_id, s2_id})


def test_tiered_segments_preserves_content_and_bounds_branches(spark):
    """_TieredSegments invariants over a long add sequence at two
    fanouts: the lazy union always equals exactly the rows added so far
    (no row lost or duplicated across cascaded merges), and the branch
    count the read side pays stays <= fanout * n_levels."""
    import math

    from apache_jira_scraper_spark.streaming.pipelines import _TieredSegments

    for fanout in (2, 3):
        tiers = _TieredSegments(fanout=fanout)
        expected: set[int] = set()
        for i in range(10):
            lo, hi = i * 7, i * 7 + (i % 3) + 1  # ragged segment sizes
            tiers.add(spark.range(lo, hi).localCheckpoint(eager=True))
            expected |= set(range(lo, hi))
            got = {r["id"] for r in tiers.union().collect()}
            assert got == expected, (fanout, i, got ^ expected)
            n_levels = math.floor(math.log(i + 1, fanout)) + 1
            assert len(tiers.dataframes()) <= fanout * n_levels, (
                fanout,
                i,
                len(tiers.dataframes()),
            )


def test_media_ingest_min_matching_frames_threshold(spark, tmp_path):
    """ADVICE r08: with a frame-level hash_fn, the DEFAULT policy drops a
    new video on ANY single frame collision; min_matching_frames=2 keeps
    a video that shares only one coincidental frame with the index while
    still dropping a true near-dup sharing two."""
    import os

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import frame_phash
    from apache_jira_scraper_spark.streaming.pipelines import (
        streaming_media_dedup_ingest,
    )

    w, h = 24, 16
    rng = np.random.default_rng(79)
    fr = [rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(7)]

    def y4m(frames):
        out = f"YUV4MPEG2 W{w} H{h} F25:1 Cmono\n".encode()
        for f in frames:
            out += b"FRAME\n" + f.tobytes()
        return bytearray(out)

    vid_a = y4m([fr[0], fr[1], fr[2]])
    vid_b = y4m([fr[1], fr[3], fr[4]])  # 1 shared frame with A
    vid_c = y4m([fr[0], fr[2], fr[5]])  # 2 shared frames with A
    schema = "doc_id long, content binary"

    def run(sub, **kw):
        landing = str(tmp_path / sub / "land")
        os.makedirs(landing)
        spark.createDataFrame([(1, vid_a)], schema).coalesce(1).write.parquet(
            f"{landing}/a"
        )
        spark.createDataFrame(
            [(2, vid_b), (3, vid_c)], schema
        ).coalesce(1).write.parquet(f"{landing}/b")
        for d, ts in (("a", 1_000), ("b", 2_000)):
            for f in os.listdir(f"{landing}/{d}"):
                os.utime(f"{landing}/{d}/{f}", (ts, ts))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{landing}/*")
        )
        q = streaming_media_dedup_ingest(
            stream,
            str(tmp_path / sub / "out"),
            str(tmp_path / sub / "ckpt"),
            hash_fn=frame_phash,
            **kw,
        )
        q.awaitTermination()
        return {
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / sub / "out")).collect()
        }

    # default: one colliding frame discards the whole doc (documented)
    assert run("default") == {1}
    # threshold 2: the single-frame coincidence survives, the true
    # near-dup (2 matching frames) still drops
    assert run("thresh", min_matching_frames=2) == {1, 2}


def test_stream_stateful_media_leg_fixture_premises(spark, tmp_path):
    """r09 media-ingest leg premise pin (agreement-only-oracle defense):
    on the actual testdata the leg must exercise the CROSS-BATCH drop —
    every complete group's m=1 near-copy (landing in batch 1) drops
    against batch 0's kept index, and any m=3 decorrelated control
    survives. Runs the REAL sink over the REAL fixture split, not the
    gate, so it stays cheap and failure points at the data premise."""
    import os

    from pyspark.sql import functions as F

    from apache_jira_scraper_spark.operators.multimodal import (
        PHASH_GROUP,
        PHASH_SAMPLE_MOD,
        image_phash,
        phash_image_fixture,
    )
    from apache_jira_scraper_spark.streaming.pipelines import (
        streaming_media_dedup_ingest,
    )
    from tests.conftest import TEST_SF_DIR

    media = phash_image_fixture(spark, TEST_SF_DIR)
    parity = F.expr(f"(doc_id % {PHASH_GROUP}) DIV {PHASH_SAMPLE_MOD} % 2")
    landing = str(tmp_path / "mland")
    os.makedirs(landing)
    media.filter(parity == 0).coalesce(1).write.parquet(f"{landing}/a")
    media.filter(parity == 1).coalesce(1).write.parquet(f"{landing}/b")
    for d, ts in (("a", 1_000), ("b", 2_000)):
        for f in os.listdir(f"{landing}/{d}"):
            os.utime(f"{landing}/{d}/{f}", (ts, ts))
    stream = (
        spark.readStream.schema("doc_id long, content binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{landing}/*")
    )
    q = streaming_media_dedup_ingest(
        stream, str(tmp_path / "mout"), str(tmp_path / "mckpt")
    )
    q.awaitTermination()
    kept = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "mout")).collect()
    }
    hashes = {
        r["doc_id"]: r["phash"] for r in image_phash(media).collect()
    }
    m1_checked = m3_present = 0
    for g in sorted(d for d in hashes if d % PHASH_GROUP == 0):
        m1 = g + PHASH_SAMPLE_MOD
        if m1 in hashes and hashes[g] != 0:
            # m1's hash equals SOME kept batch-0 doc's hash within 3
            # (m0's, or whatever m0 itself matched), so it must drop
            assert m1 not in kept, f"group {g}: m=1 survived the index"
            m1_checked += 1
        m3 = g + 3 * PHASH_SAMPLE_MOD
        if m3 in hashes:
            m3_present += 1
            assert m3 in kept, f"group {g}: decorrelated control dropped"
    assert m1_checked, "no complete groups: cross-batch premise untested"


def test_streaming_dedup_ingest_replay_preserves_committed_batch(spark, tmp_path):
    """The crash-replay case the r04 review caught: the batch-N write
    COMMITTED but the streaming checkpoint did not. On restart the state
    is rebuilt from the kept output (which already contains batch N) and
    batch N replays. The sink must SKIP the committed directory — the old
    behavior re-deduped the replayed docs against an index that already
    held them, classified every one as an id-replay, and overwrote the
    committed survivors with an empty directory."""
    import os

    from apache_jira_scraper_spark.streaming.pipelines import (
        rebuild_dedup_ingest_state,
        streaming_dedup_ingest,
    )

    base = lambda i: " ".join(f"d{i}w{j}" for j in range(12))  # noqa: E731
    batch = [(0, base(0)), (1, base(1))]
    schema = "doc_id long, text string"

    landing = str(tmp_path / "docs")
    os.makedirs(landing)
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(f"{landing}/a")
    out_dir = str(tmp_path / "out")

    # run 1: lands batch 0, commits its directory
    q = streaming_dedup_ingest(
        spark.readStream.schema(schema).parquet(f"{landing}/*"),
        out_dir,
        str(tmp_path / "ckpt1"),
    )
    q.awaitTermination()
    first = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert first == {0, 1}
    assert os.path.exists(f"{out_dir}/batch_id=0/_SUCCESS")

    # simulated restart-after-crash-before-checkpoint-commit: rebuild the
    # index from the committed output, then REPLAY the same batch with a
    # FRESH checkpoint (same batch_id=0)
    state = rebuild_dedup_ingest_state(spark, out_dir)
    assert state is not None
    q2 = streaming_dedup_ingest(
        spark.readStream.schema(schema).parquet(f"{landing}/*"),
        out_dir,
        str(tmp_path / "ckpt2"),
        initial_index=state,
    )
    q2.awaitTermination()
    replayed = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert replayed == {0, 1}  # the committed batch survives the replay


class _RaisingJob:
    """Stands in for one of the text sink's per-batch frames: the job the
    sink runs on it (segment checkpoint or survivor write) raises."""

    def __init__(self, df):
        self._df, self.write = df, self

    def __getattr__(self, name):
        return getattr(self._df, name)

    def mode(self, _mode):
        return self

    def localCheckpoint(self, *_):
        raise RuntimeError("injected sink failure")

    parquet = localCheckpoint


@pytest.mark.parametrize("failing", ["shingle_segment", "signature_segment", "write"])
def test_streaming_dedup_ingest_failed_batch_frees_checkpoints(
    spark, tmp_path, monkeypatch, failing
):
    """ADVICE r14 #2: whichever of the sink's three concurrent jobs raises,
    the query fails, every checkpoint the batch made (the other segment,
    incremental_dedup's scratch) is freed — getPersistentRDDs() is back at
    its pre-batch count — and a restart lands the batch exactly once."""
    from apache_jira_scraper_spark.operators import dedup as D
    from apache_jira_scraper_spark.streaming.pipelines import (
        rebuild_dedup_ingest_state,
        streaming_dedup_ingest,
    )

    base = lambda i: " ".join(f"d{i}w{j}" for j in range(12))  # noqa: E731
    batch = [(0, base(0)), (1, base(0) + " tail"), (2, base(2))]
    schema = "doc_id long, text string"
    landing = str(tmp_path / "docs")
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(f"{landing}/a")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    real = D.incremental_dedup

    def injected(*args, **kwargs):
        kept, index = real(*args, **kwargs)
        parts = kwargs["kept_parts_out"]
        if failing == "write":
            return _RaisingJob(kept), index
        i = 0 if failing == "shingle_segment" else 1
        parts[i] = _RaisingJob(parts[i])
        return kept, index

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def run(initial_index=None):
        stream = spark.readStream.schema(schema).parquet(f"{landing}/*")
        streaming_dedup_ingest(stream, out_dir, ckpt, initial_index).awaitTermination()

    monkeypatch.setattr(D, "incremental_dedup", injected)
    before = n_persistent()
    with pytest.raises(Exception, match="injected sink failure"):
        run()
    assert n_persistent() <= before, "failed batch leaked checkpoints"
    monkeypatch.undo()
    # restart on the same checkpoint: batch 0 replays against the state
    # rebuilt from whatever committed (the concurrent write may have)
    run(rebuild_dedup_ingest_state(spark, out_dir))
    landed = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    kept, _ = real(spark.createDataFrame(batch, schema))
    assert landed == sorted(r["doc_id"] for r in kept.collect())


def test_rebuild_state_excludes_partial_batch_dirs(spark, tmp_path):
    """A batch directory without _SUCCESS (partial write from the crash)
    must not enter the rebuilt index: its batch will replay and write from
    scratch, and pre-indexing its docs would replay-kill them."""
    import os

    from apache_jira_scraper_spark.streaming.pipelines import (
        rebuild_dedup_ingest_state,
    )

    out_dir = str(tmp_path / "out")
    # mirrors the sink's on-disk shape: batch_id is the DIRECTORY name
    # only, never a data column (r06: the duplicate column warned on read)
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(0, "a b c d e f")], schema
    ).coalesce(1).write.parquet(f"{out_dir}/batch_id=0")
    spark.createDataFrame(
        [(5, "p q r s t u")], schema
    ).coalesce(1).write.parquet(f"{out_dir}/batch_id=1")
    os.remove(f"{out_dir}/batch_id=1/_SUCCESS")  # simulate the partial write

    sh, sig = rebuild_dedup_ingest_state(spark, out_dir)
    ids = {r["doc_id"] for r in sig.select("doc_id").distinct().collect()}
    assert ids == {0}  # committed batch only


def test_trending_terms_stream_matches_batch(spark, events_batch, events_stream):
    """The incremental (window, term) counts + sink-side rank equal the
    identical two stages over the bounded batch table — the batch-twin
    contract every streaming operator here carries."""
    from apache_jira_scraper_spark.streaming.pipelines import (
        rank_trending,
        trending_terms,
    )

    stream_counts = trending_terms(events_stream)
    name = "trend_sink"
    q = (
        stream_counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["rank"]): (r["term"], r["n"])
        for r in rank_trending(spark.table(name)).collect()
    }
    want = {
        (r["window_start"], r["rank"]): (r["term"], r["n"])
        for r in rank_trending(trending_terms(events_batch)).collect()
    }
    assert got == want and got
    # every window's ranks are 1..k dense and counts non-increasing
    import collections

    per_w = collections.defaultdict(list)
    for (ws, rank), (_, n) in got.items():
        per_w[ws].append((rank, n))
    for ws, rows in per_w.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        ns = [n for _, n in rows]
        assert ns == sorted(ns, reverse=True)


def test_media_ingest_durable_state_resumes_without_rehash(spark, tmp_path):
    """r10 (VERDICT r09 item 4): with durable_state_dir set, restart
    recovery is a manifest read + parquet segment scans — the second run
    must (a) drop an id-replay and a near-dup of pre-restart content via
    the RESUMED state, (b) keep new content, and (c) not re-hash the
    pre-restart corpus (asserted by poisoning the batch-0 output payloads
    on disk AFTER the manifests committed: a re-hash would read them —
    and crash the decode or change the index — while a segment scan
    never touches payload bytes)."""
    import os

    import numpy as np

    from apache_jira_scraper_spark.streaming.pipelines import (
        streaming_media_dedup_ingest,
    )

    rng = np.random.default_rng(113)
    a = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    b = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    schema = "doc_id long, content binary"
    landing = str(tmp_path / "land")
    durable = str(tmp_path / "durable")
    os.makedirs(landing)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{landing}/*")
        )
        q = streaming_media_dedup_ingest(
            stream,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            durable_state_dir=durable,
        )
        q.awaitTermination()

    spark.createDataFrame([(1, bytearray(_pgm(a)))], schema).coalesce(
        1
    ).write.parquet(f"{landing}/x")
    for f in os.listdir(f"{landing}/x"):
        os.utime(f"{landing}/x/{f}", (1_000, 1_000))
    run()
    assert os.path.isdir(f"{durable}/kept_ids") and os.path.isdir(
        f"{durable}/phash"
    )
    # poison the committed batch-0 payloads: resume must NOT re-read them
    out0 = str(tmp_path / "out" / "batch_id=0")
    for f in os.listdir(out0):
        if f.endswith(".parquet"):
            with open(f"{out0}/{f}", "r+b") as fh:
                fh.write(b"\x00" * 16)

    a_near = a.copy()
    a_near[0, 0] ^= 1
    spark.createDataFrame(
        [
            (1, bytearray(_pgm(a))),  # id replay of a pre-restart keeper
            (2, bytearray(_pgm(a_near))),  # near-dup of pre-restart content
            (3, bytearray(_pgm(b))),  # new content
        ],
        schema,
    ).coalesce(1).write.parquet(f"{landing}/y")
    for f in os.listdir(f"{landing}/y"):
        os.utime(f"{landing}/y/{f}", (2_000, 2_000))
    run()  # fresh sink instance: in-memory state gone, durable state resumed
    landed = {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(
            str(tmp_path / "out" / "batch_id=1")
        ).withColumn("batch_id", F.lit(1)).select("doc_id", "batch_id").collect()
    }
    assert landed == {(3, 1)}


def test_media_ingest_durable_tops_up_uncovered_batch(spark, tmp_path):
    """The write-then-crash window: batch output committed (_SUCCESS) but
    the durable manifests never saw it. Resume must re-hash ONLY that
    batch (top-up) so its content still dedups the next batch. Simulated
    by running batch 0 WITHOUT durable state (no manifests at all), then
    restarting WITH durable_state_dir — the migration path exercises the
    same top-up code."""
    import os

    import numpy as np

    from apache_jira_scraper_spark.streaming.pipelines import (
        streaming_media_dedup_ingest,
    )

    rng = np.random.default_rng(117)
    a = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    b = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    schema = "doc_id long, content binary"
    landing = str(tmp_path / "land")
    os.makedirs(landing)

    def run(durable):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{landing}/*")
        )
        q = streaming_media_dedup_ingest(
            stream,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            durable_state_dir=durable,
        )
        q.awaitTermination()

    spark.createDataFrame([(1, bytearray(_pgm(a)))], schema).coalesce(
        1
    ).write.parquet(f"{landing}/x")
    for f in os.listdir(f"{landing}/x"):
        os.utime(f"{landing}/x/{f}", (1_000, 1_000))
    run(None)  # batch 0 lands with NO durable store — uncovered

    a_near = a.copy()
    a_near[0, 0] ^= 1
    spark.createDataFrame(
        [(2, bytearray(_pgm(a_near))), (3, bytearray(_pgm(b)))], schema
    ).coalesce(1).write.parquet(f"{landing}/y")
    for f in os.listdir(f"{landing}/y"):
        os.utime(f"{landing}/y/{f}", (2_000, 2_000))
    run(str(tmp_path / "durable"))  # resume: top-up re-hashes batch 0 only
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert kept == {1, 3}, kept  # 2 dropped via the topped-up index


def test_text_ingest_durable_state_cross_run(spark, tmp_path):
    """Text-side durable mode: near-dup text landed in run 1 still drops
    a near-copy delivered in run 2 through the resumed shingle/signature
    segment scans; passing initial_index alongside durable_state_dir is
    rejected (state must have exactly one source of truth)."""
    import os

    import pytest as _pytest

    from apache_jira_scraper_spark.streaming.pipelines import (
        streaming_dedup_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "and the crowd watches the long parade through the old town square"
    )
    near = base.replace("crowd", "crowds")
    other = (
        "completely different content about spark structured streaming "
        "state stores and log structured merge trees for index segments"
    )
    schema = "doc_id long, text string, n_chars long"
    landing = str(tmp_path / "land")
    durable = str(tmp_path / "durable")
    os.makedirs(landing)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{landing}/*")
        )
        q = streaming_dedup_ingest(
            stream,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            durable_state_dir=durable,
        )
        q.awaitTermination()

    spark.createDataFrame([(1, base, len(base))], schema).coalesce(
        1
    ).write.parquet(f"{landing}/x")
    for f in os.listdir(f"{landing}/x"):
        os.utime(f"{landing}/x/{f}", (1_000, 1_000))
    run()
    spark.createDataFrame(
        [(2, near, len(near)), (3, other, len(other))], schema
    ).coalesce(1).write.parquet(f"{landing}/y")
    for f in os.listdir(f"{landing}/y"):
        os.utime(f"{landing}/y/{f}", (2_000, 2_000))
    run()
    kept = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert kept == {1, 3}, kept

    with _pytest.raises(ValueError, match="durable_state_dir"):
        streaming_dedup_ingest(
            spark.readStream.schema(schema).parquet(f"{landing}/*"),
            str(tmp_path / "out2"),
            str(tmp_path / "ckpt2"),
            initial_index=(None, None),
            durable_state_dir=durable,
        )


def test_durable_store_skips_foreign_manifest_without_destroying_it(
    spark, tmp_path
):
    """Review r10 pass 3: a manifest the current build cannot read (a
    newer/legacy format — wrong columns, or not parquet at all) must be
    SKIPPED, never deleted: on a version rollback it is the newer
    build's live state. load() falls back to the older readable
    manifest, suppresses the orphan sweep (the foreign version's
    segments must survive), and bumps version/counter past everything
    on disk so later commits/persists can't overwrite foreign files."""
    import os

    from apache_jira_scraper_spark.streaming.pipelines import (
        DurableSegmentStore,
    )

    root = str(tmp_path / "store")
    s1 = DurableSegmentStore(spark, root)
    seg = spark.range(0, 3).localCheckpoint(eager=True)
    p = s1.persist(seg, 0)
    s1.commit([(p, 0)], batch_id=0)

    # a "newer build" writes a manifest with a different schema plus a
    # segment file only it references
    spark.range(0, 1).select(
        F.lit("seg").alias("kind"), F.lit("x").alias("path")
    ).write.parquet(f"{root}/manifest_v000000099")
    spark.range(7, 9).write.parquet(f"{root}/seg_000000050_L0")

    s2 = DurableSegmentStore(spark, root)
    entries = s2.load()
    assert entries is not None and len(entries) == 1
    df, path, lvl = entries[0]
    assert lvl == 0 and {r["id"] for r in df.collect()} == {0, 1, 2}
    assert s2.batches == {0}
    # the foreign manifest and its segment survived the load
    assert os.path.isdir(f"{root}/manifest_v000000099")
    assert os.path.isdir(f"{root}/seg_000000050_L0")
    # version/counter bumped past the foreign files: a new commit/persist
    # must not overwrite them
    assert s2.version >= 99 and s2.counter >= 50
    seg2 = spark.range(3, 5).localCheckpoint(eager=True)
    p2 = s2.persist(seg2, 0)
    assert p2.rsplit("/", 1)[-1] != "seg_000000050_L0"
    s2.commit([(path, 0), (p2, 0)], batch_id=1)
    assert os.path.isdir(f"{root}/manifest_v000000099"), (
        "commit GC destroyed the foreign manifest"
    )

    # a corrupt (non-parquet) newest manifest dir is also skipped
    os.makedirs(f"{root}/manifest_v000000200")
    with open(f"{root}/manifest_v000000200/_SUCCESS", "w"):
        pass
    with open(f"{root}/manifest_v000000200/part-00000.parquet", "wb") as fh:
        fh.write(b"not parquet")
    s3 = DurableSegmentStore(spark, root)
    entries3 = s3.load()
    assert entries3 is not None and len(entries3) == 2
    assert s3.batches == {0, 1}


def test_durable_store_random_crash_resume_model(spark, tmp_path):
    """Model-based randomized check of the durable tier store (r10): a
    random interleaving of segment adds, simulated crashes (fresh store
    + load — in-memory state discarded), compactions (small fanout) and
    a foreign-manifest injection must always satisfy the model: the
    resumed union contains exactly the rows of every committed add, and
    the covered-batch set equals the added batch_ids. Deterministic
    seed — this is a model test, not a fuzz lottery."""
    import random

    from apache_jira_scraper_spark.streaming.pipelines import (
        DurableSegmentStore,
        _TieredSegments,
    )

    rng = random.Random(20260815)
    root = str(tmp_path / "store")

    def fresh():
        store = DurableSegmentStore(spark, root)
        loaded = store.load() or []
        return _TieredSegments(3, loaded, store=store)

    tier = fresh()
    expected_rows: set[int] = set()
    expected_batches: set[int] = set()
    next_row = 0
    for step in range(18):
        action = rng.random()
        if action < 0.55 or not expected_batches:
            # add one batch segment (1-3 rows)
            n = rng.randint(1, 3)
            seg = spark.range(next_row, next_row + n).localCheckpoint(
                eager=True
            )
            bid = len(expected_batches)
            tier.add(seg, bid)
            expected_rows |= set(range(next_row, next_row + n))
            expected_batches.add(bid)
            next_row += n
        elif action < 0.85:
            # crash + resume: all in-memory state discarded
            tier = fresh()
        else:
            # foreign manifest lands (newer build) mid-life, then crash +
            # resume: must be skipped, not break recovery
            spark.range(0, 1).select(F.lit("zz").alias("weird")).write.mode(
                "overwrite"
            ).parquet(f"{root}/manifest_v{900 + step:09d}")
            tier = fresh()
        got = {r["id"] for r in tier.union().collect()} if tier.union() is not None else set()
        assert got == expected_rows, (step, got ^ expected_rows)
        assert tier.store.batches == expected_batches, (
            step,
            tier.store.batches ^ expected_batches,
        )
