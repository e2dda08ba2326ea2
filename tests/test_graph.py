"""graph.pagerank: fixed-point integer PageRank vs an independent Python
reference (adjacency-dict power iteration — no shared code with the Spark
loop or the SQL CTE chain), plus the gate-level keeper contract."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from apache_jira_scraper_spark.operators.graph import (
    DAMP_PPB,
    MASS_PPB,
    PAGERANK_ITERS,
    TELEPORT_PPB,
    pagerank,
)


def _py_pagerank(edges: list[tuple[int, int]], iters: int = PAGERANK_ITERS) -> dict[int, int]:
    """Independent reference: plain-dict integer power iteration."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    rank = {v: MASS_PPB // n for v in adj}
    base = TELEPORT_PPB // n
    for _ in range(iters):
        share = {v: rank[v] // len(adj[v]) for v in adj}
        rank = {
            v: base + (DAMP_PPB * sum(share[u] for u in adj[v])) // MASS_PPB
            for v in adj
        }
    return rank


def _spark_pagerank(spark, edges: list[tuple[int, int]], **kw) -> dict[int, int]:
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    return {
        r["doc_id"]: r["pagerank_ppb"] for r in pagerank(df, **kw).collect()
    }


CRAFTED = [(0, 1), (1, 2), (0, 2), (3, 4), (5, 6), (6, 7), (7, 8), (8, 5), (2, 9)]


def test_pagerank_matches_reference_crafted(spark):
    """Triangle + isolated pair + 4-cycle + pendant: exercises deg 1..3,
    multiple components, and a hub (node 2) that must outrank its
    satellites."""
    got = _spark_pagerank(spark, CRAFTED)
    assert got == _py_pagerank(CRAFTED)
    # sanity on the semantics, not just twin agreement: the hub outranks
    # its triangle peers and the pendant; mass never exceeds 1e9 (floors
    # only shrink it)
    assert got[2] > got[0] == got[1] > got[9]
    assert sum(got.values()) <= MASS_PPB


def test_pagerank_matches_reference_random(spark):
    """Seeded 200-node / ~400-edge random graph — enough collisions and
    degree spread that an arithmetic-order or floor-placement drift
    between engines cannot hide."""
    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(200), 2))) for _ in range(400)})
    assert _spark_pagerank(spark, edges) == _py_pagerank(edges)


def test_pagerank_exact_at_10x_volume(spark):
    """Volume-evidence discipline (the phash/LSH 10x pins): at 10x the
    node/edge volume the result stays EXACTLY the reference's — integer
    arithmetic means a partition-order or combine-order change at larger
    volume cannot silently perturb ranks, and the loop stays the same
    one-lazy-chain plan (join count is iteration-bound, not data-bound).
    The returned frame is checkpoint-backed, so the join shape isn't
    introspectable here — it's pinned at build time in
    test_pagerank_plan_is_equi_join_chain instead."""
    rng = random.Random(11)
    edges = sorted({tuple(sorted(rng.sample(range(2000), 2))) for _ in range(4000)})
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    out = pagerank(df)
    assert {r["doc_id"]: r["pagerank_ppb"] for r in out.collect()} == _py_pagerank(edges)


def test_pagerank_plan_is_equi_join_chain(spark):
    """Pin the PRE-checkpoint plan shape: K iterations compile to exactly
    K (edges ⋈ ranks) + K (ranks ⋈ deg) equi-joins and zero cartesian /
    broadcast-nested-loop nodes — the banned-shape sweep can't see inside
    the checkpoint, so this rebuilds the lazy chain the way the loop does."""
    from apache_jira_scraper_spark.operators.graph import symmetric_edges

    df = spark.createDataFrame(CRAFTED, "d1 long, d2 long").localCheckpoint(eager=True)
    sym = symmetric_edges(df)
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select("node", F.lit(100_000_000).cast("long").alias("r"))
    iters = 5
    for _ in range(iters):
        shares = ranks.join(deg, "node").select(
            "node", F.expr("r div deg").alias("share")
        )
        ranks = (
            sym.join(shares, "node")
            .groupBy("nbr")
            .agg(F.sum("share").alias("r"))
            .select(F.col("nbr").alias("node"), "r")
        )
    plan = ranks._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join Inner") == 2 * iters, plan
    assert "Cartesian" not in plan and "Nested" not in plan, plan


def test_pagerank_clique_is_uniform_and_deterministic(spark):
    """On a k-clique every node is symmetric, so ranks must be exactly
    equal — and two independent runs must be bit-identical (integer
    arithmetic has no accumulation-order noise)."""
    k = 6
    clique = [(i, j) for i in range(k) for j in range(i + 1, k)]
    a = _spark_pagerank(spark, clique)
    b = _spark_pagerank(spark, clique)
    assert a == b
    assert len(set(a.values())) == 1


def test_pagerank_empty_edges(spark):
    """The empty branch must return a frame that is READABLE — with AQE
    disabled, so its empty-partition coalescing can't mask a result built
    over a freed checkpoint (review r10: the original branch selected
    from the freed deg checkpoint and threw
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on any non-AQE read)."""
    df = spark.createDataFrame([], "d1 long, d2 long")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = pagerank(df)
        assert out.collect() == []
        assert [f.name for f in out.schema.fields] == ["doc_id", "pagerank_ppb"]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_pagerank_shared_edge_checkpoint_contract(spark):
    """own_edges=False: the result must be checkpoint-backed so the
    caller can free the shared edge checkpoint immediately after the
    build (the dedup_clusters gate's pattern) and still read the result."""
    from apache_jira_scraper_spark.io import free_local_checkpoint

    df = spark.createDataFrame(CRAFTED, "d1 long, d2 long").localCheckpoint(eager=True)
    ranks = pagerank(df, own_edges=False)
    free_local_checkpoint(df)
    assert {r["doc_id"]: r["pagerank_ppb"] for r in ranks.collect()} == _py_pagerank(
        CRAFTED
    )


def test_cluster_gate_keeper_by_rank_contract(spark, sf_dir):
    """Exactly one keeper_by_rank per cluster, and it is the argmax-rank /
    min-id member — recomputed here from the gate's own collected rows,
    independent of the window that produced the flag."""
    from apache_jira_scraper_spark.operators.dedup import q_dedup_clusters

    rows = q_dedup_clusters(spark, sf_dir).collect()
    assert rows, "fixture premise: the near-dup graph must be non-empty"
    clusters: dict[int, list] = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, members in clusters.items():
        keepers = [r["doc_id"] for r in members if r["keeper_by_rank"] == 1]
        expect = min(
            (r for r in members), key=lambda r: (-r["pagerank_ppb"], r["doc_id"])
        )["doc_id"]
        assert keepers == [expect], (cid, keepers, expect)
        # every member of a multi-doc cluster has >= 2 neighbors' worth of
        # structure behind its rank; at minimum ranks are positive
        assert all(r["pagerank_ppb"] > 0 for r in members)


def _py_pagerank_weighted(
    edges: list[tuple[int, int, int]], iters: int = PAGERANK_ITERS
) -> dict[int, int]:
    """Independent reference for the weighted variant (per-edge shares)."""
    adj: dict[int, dict[int, int]] = {}
    for a, b, w in edges:
        adj.setdefault(a, {})[b] = w
        adj.setdefault(b, {})[a] = w
    n = len(adj)
    rank = {v: MASS_PPB // n for v in adj}
    base = TELEPORT_PPB // n
    for _ in range(iters):
        wsum = {v: sum(adj[v].values()) for v in adj}
        rank = {
            v: base
            + (
                DAMP_PPB
                * sum((rank[u] * w) // wsum[u] for u, w in adj[v].items())
            )
            // MASS_PPB
            for v in adj
        }
    return rank


def test_pagerank_weighted_matches_reference(spark):
    from apache_jira_scraper_spark.operators.graph import pagerank_weighted

    rng = random.Random(13)
    edges = [
        (a, b, rng.randint(500_000, 1_000_000))
        for a, b in sorted({tuple(sorted(rng.sample(range(100), 2))) for _ in range(250)})
    ]
    df = spark.createDataFrame(edges, "d1 long, d2 long, w_ppm long")
    got = {r["doc_id"]: r["pagerank_ppb"] for r in pagerank_weighted(df).collect()}
    assert got == _py_pagerank_weighted(edges)


def test_pagerank_weighted_constant_weights_equal_unweighted(spark):
    """floor((r*c)/(deg*c)) == floor(r/deg): constant weights must
    reproduce the unweighted ranks BIT-FOR-BIT, so the two loops cannot
    drift apart — and a weight that matters must CHANGE the ranking
    (non-vacuity: doubling one pendant edge's weight reroutes mass)."""
    from apache_jira_scraper_spark.operators.graph import pagerank_weighted

    const = [(a, b, 700_000) for a, b in CRAFTED]
    df_u = spark.createDataFrame(CRAFTED, "d1 long, d2 long")
    df_w = spark.createDataFrame(const, "d1 long, d2 long, w_ppm long")
    unweighted = {r["doc_id"]: r["pagerank_ppb"] for r in pagerank(df_u).collect()}
    weighted = {
        r["doc_id"]: r["pagerank_ppb"] for r in pagerank_weighted(df_w).collect()
    }
    assert weighted == unweighted

    skew = [
        (a, b, 1_000_000 if (a, b) == (2, 9) else 200_000) for a, b in CRAFTED
    ]
    df_s = spark.createDataFrame(skew, "d1 long, d2 long, w_ppm long")
    skewed = {r["doc_id"]: r["pagerank_ppb"] for r in pagerank_weighted(df_s).collect()}
    assert skewed != unweighted
    assert skewed[9] > unweighted[9]  # the upweighted pendant pulls more mass


@pytest.mark.parametrize(
    "bad_w",
    [0, -3, None],
    ids=["zero", "negative", "null"],
)
def test_pagerank_weighted_rejects_nonpositive_weights(spark, bad_w):
    """ADVICE r10: a NULL/zero/negative weight makes (r*w) div wsum yield
    NULL, which sum() silently skips — so bad weights must fail LOUDLY
    instead of silently dropping rank mass."""
    from apache_jira_scraper_spark.operators.graph import pagerank_weighted

    edges = [(0, 1, 500_000), (1, 2, bad_w), (0, 2, 700_000)]
    df = spark.createDataFrame(edges, "d1 long, d2 long, w_ppm long")
    with pytest.raises(ValueError, match="positive integer"):
        pagerank_weighted(df)


def test_pagerank_weighted_rejects_fractional_weights(spark):
    """Fractional weights would be silently truncated by the BIGINT cast
    (0.9 -> 0: a strong edge becomes a dropped edge) — fail loudly."""
    from apache_jira_scraper_spark.operators.graph import pagerank_weighted

    edges = [(0, 1, 0.9), (1, 2, 0.7)]
    df = spark.createDataFrame(edges, "d1 long, d2 long, w_ppm double")
    with pytest.raises(ValueError, match="positive integer"):
        pagerank_weighted(df)


def test_pagerank_weighted_rejects_oversized_weights(spark):
    """ADVICE r11: weights above (2^63-1) div MASS_PPB can wrap r*w in
    int64 — silently in non-ANSI Spark while DuckDB raises, so the twins
    would diverge instead of failing loudly. The bound itself must pass."""
    from apache_jira_scraper_spark.operators.graph import (
        MASS_PPB,
        pagerank_weighted,
    )

    w_max = (2**63 - 1) // MASS_PPB
    bad = spark.createDataFrame(
        [(0, 1, w_max + 1), (1, 2, 500_000)], "d1 long, d2 long, w_ppm long"
    )
    with pytest.raises(ValueError, match="overflow bound"):
        pagerank_weighted(bad)
    ok = spark.createDataFrame(
        [(0, 1, w_max), (1, 2, 500_000)], "d1 long, d2 long, w_ppm long"
    )
    assert pagerank_weighted(ok).count() == 3


def test_pagerank_weighted_sql_ctes_match_spark(spark):
    """The prw_* DuckDB CTE chain (the dedup_clusters oracle's weighted
    half) reproduces pagerank_weighted BIT-FOR-BIT on a random weighted
    graph — the same cross-engine pin pagerank_sql_ctes has via the gate,
    checked here standalone so a CTE edit can't drift before gate time."""
    import duckdb

    from apache_jira_scraper_spark.operators.graph import (
        PAGERANK_W_FINAL_CTE,
        pagerank_weighted,
        pagerank_weighted_sql_ctes,
    )

    rng = random.Random(41)
    edges = [
        (a, b, rng.randint(1, 1_000_000))
        for a, b in sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(150)})
    ]
    df = spark.createDataFrame(edges, "d1 long, d2 long, w_ppm long")
    got = {r["doc_id"]: r["pagerank_ppb"] for r in pagerank_weighted(df).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pairs(d1 BIGINT, d2 BIGINT, w BIGINT)"
    )
    con.executemany("INSERT INTO pairs VALUES (?, ?, ?)", edges)
    rows = con.execute(
        f"""
WITH we AS (
  SELECT d1 AS node, d2 AS nbr, w FROM pairs
  UNION ALL
  SELECT d2 AS node, d1 AS nbr, w FROM pairs
),
{pagerank_weighted_sql_ctes()}
SELECT node, r FROM {PAGERANK_W_FINAL_CTE}
"""
    ).fetchall()
    assert {n: r for n, r in rows} == got


def test_cluster_gate_weighted_keeper_contract(spark, sf_dir):
    """r11 gate fold: exactly one keeper_by_weighted_rank per cluster, it
    argmaxes pagerank_w_ppb (ties to lowest doc_id), weighted ranks are
    positive, and the weighted ranking genuinely differs somewhere from
    the unweighted one at this SF (non-vacuity: real jaccard weights must
    MATTER, or the gate is certifying a constant-weight clone)."""
    from apache_jira_scraper_spark.operators.dedup import q_dedup_clusters

    out = q_dedup_clusters(spark, sf_dir).collect()
    assert out
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        keepers = [r for r in members if r["keeper_by_weighted_rank"] == 1]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-r["pagerank_w_ppb"], r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]
        assert all(r["pagerank_w_ppb"] > 0 for r in members)
    assert any(
        r["pagerank_w_ppb"] != r["pagerank_ppb"] for r in out
    ), "weighted ranks identical to unweighted everywhere — weights vacuous"


def test_dedup_clusters_repeated_calls_pin_one_calls_checkpoints(spark, sf_dir):
    """ADVICE r14 #1: each q_dedup_clusters call leaves three converged
    checkpoints (labels, pagerank, weighted pagerank) behind its lazy
    result. Three calls — results all still referenced, so nothing is left
    to GC — must leave at most one call's worth live: each call frees the
    previous call's set."""
    from apache_jira_scraper_spark.operators.dedup import (
        minhash_pairs,
        q_dedup_clusters,
    )

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    minhash_pairs(spark, sf_dir)  # the session entries the gate reads
    q_dedup_clusters(spark, sf_dir).collect()  # frees any earlier call's set
    base = n_persistent()
    results = []
    for _ in range(3):
        results.append(q_dedup_clusters(spark, sf_dir))
        assert results[-1].collect()
    assert n_persistent() - base <= 0, "dedup_clusters checkpoints accumulate"
