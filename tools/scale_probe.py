"""10x relational scale probe (VERDICT r09 item 3).

The dedup/phash families have measured 10x volume-linearity pins; this
script builds the RELATIONAL analog: deterministically explode the fact
tables (lineitem / orders / customer / events) 10x with consistent key
remaps (new_key = old_key*10 + replica, so joins stay aligned and key
cardinality grows like a real TPC-H scale-up — duplicating keys verbatim
would instead grow per-key density and push user-keyed operators
quadratic), keep the dimensions fixed, then time the most expensive
UNBOUNDED relational/event gates at 1x vs 10x and diff their executed
plan shapes.

Bounded-by-design gates (fuzzy_name_join's FUZZY_GATE_MAX_KEY cap,
interval_overlap's INTERVAL_GATE_MAX_USER cap) are excluded: their gate
input is constant across SF — that IS their documented scale contract.

Pass criteria per gate (reported, and summarized for PERF.md):
  - time_10x <= SLOPE_CAP * time_1x   (SLOPE_CAP = 15, judge's bound)
  - no CartesianProduct / BroadcastNestedLoopJoin at either scale
  - no broadcast of an exploded-fact side at 10x that wasn't one at 1x
    (plan-shape summary printed for both scales)

Usage:  python tools/scale_probe.py [sf_dir] [out_dir]
        (defaults /root/testdata/sf0.1, /tmp/scale10)

r11 (VERDICT r10 item 5) — the TEXT/DEDUP twin:

        python tools/scale_probe.py text [sf_dir] [out_base]

explodes the documents corpus 10x under two disciplines and probes the
three most expensive text-family gates at 1x vs 10x with the same
ratio/plan-shape criteria:

  - `txt` dir (text_quality_signals, bm25_topk): documents AND embeddings
    duplicated verbatim with BLOCK id remap (id + k*N) — per-doc map work
    and term/posting statistics scale exactly 10x, and the "first 10 ids"
    query sets stay literally the originals (an interleaved *10+k remap
    would turn them into 10 replicas of doc 0).
  - `ded` dir (dedup_near_pairs): block id remap PLUS per-replica token
    tagging ('r{k}' prefixed to every space-token) — each replica's
    shingle space is disjoint from every other replica's, so near-dup
    pairs scale 10x LINEARLY (verbatim copies would make every 10-replica
    group a 45-pair clique: a duplication-rate probe, not a scale probe —
    the text analog of the relational probe's key-remap discipline).

Session-cache discipline: dedup_near_pairs and bm25_topk build
session-cached silver tables (pair table, shingle index, bm25 top-k,
exact cosine top-k) keyed (app, name, sf_dir) — every timed sample
drains the whole session store first (io.drain_session), so both scales
pay the FULL cold pipeline instead of a warm checkpoint scan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SLOPE_CAP = 15.0
GATES = [
    "returnflag_stats",
    "q1_pricing_summary",
    "rollup_cube",
    "event_funnel_retention",
    "above_avg_orders",
    "q3_shipping_priority",
]
EXPLODED = {"lineitem", "orders", "customer", "events"}


def build_exploded(sf_dir: str, out_dir: str, factor: int = 10) -> None:
    """DuckDB fan-out: CROSS JOIN range(factor), remap every key column
    that identifies a fact row or links two exploded tables. Dimensions
    are copied verbatim (dims grow far slower than facts at 100 TB)."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    remap = {
        "lineitem": f"l_orderkey * {factor} + k AS l_orderkey",
        "orders": f"o_orderkey * {factor} + k AS o_orderkey, "
        f"o_custkey * {factor} + k AS o_custkey",
        "customer": f"c_custkey * {factor} + k AS c_custkey",
        "events": f"event_id * {factor} + k AS event_id, "
        f"user_id * {factor} + k AS user_id",
    }
    for t in (
        "region nation supplier part documents embeddings "
        "lineitem orders customer events"
    ).split():
        src = f"{sf_dir}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        if os.path.exists(dst):
            # a stale/foreign dir must not silently demote the probe to
            # 1x-vs-1x (exactly what a leftover symlink dir did on the
            # first run): validate the row-count factor before reusing
            n_src = con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{src}')"
            ).fetchone()[0]
            n_dst = con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{dst}')"
            ).fetchone()[0]
            want = n_src * factor if t in EXPLODED else n_src
            if n_dst != want:
                raise SystemExit(
                    f"{dst} exists with {n_dst} rows (want {want}) — "
                    "stale out_dir, pick a fresh one"
                )
            continue
        if t in EXPLODED:
            cols = [
                r[0]
                for r in con.execute(
                    f"SELECT column_name FROM "
                    f"(DESCRIBE SELECT * FROM read_parquet('{src}'))"
                ).fetchall()
            ]
            remapped_targets = {
                frag.split(" AS ")[1].strip(): frag.strip()
                for frag in remap[t].split(",")
            }
            sel = ", ".join(remapped_targets.get(c, c) for c in cols)
            con.execute(
                f"COPY (SELECT {sel} FROM read_parquet('{src}'), "
                f"(SELECT unnest(range({factor})) AS k)) TO '{dst}' (FORMAT PARQUET)"
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO '{dst}' "
                "(FORMAT PARQUET)"
            )


def plan_shape(df) -> dict:
    """Execute, then summarize the EXECUTED plan (AQE-final): multiset of
    operator names, join strategies, exchange count."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    ops: dict[str, int] = {}
    for line in plan.splitlines():
        m = re.search(r"^[\s:+\-*(\d)]*([A-Za-z]+[A-Za-z0-9]*)", line)
        if not m:
            continue
        name = m.group(1)
        if name in ("Arguments", "Input", "Output", "Condition", "Results"):
            continue
        ops[name] = ops.get(name, 0) + 1
    joins = {k: v for k, v in ops.items() if "Join" in k}
    return {
        "exchanges": sum(v for k, v in ops.items() if "Exchange" in k),
        "joins": joins,
        "cartesian": any(k.startswith("CartesianProduct") for k in ops),
    }


def time_gate(fn, spark, sf_dir: str, samples: int = 3) -> float:
    best = float("inf")
    for _ in range(samples):
        t0 = time.time()
        fn(spark, sf_dir).collect()
        best = min(best, time.time() - t0)
    return best


TEXT_GATES = {
    "text_quality_signals": "txt",
    "bm25_topk": "txt",
    "dedup_near_pairs": "ded",
}


def build_exploded_docs(sf_dir: str, out_base: str, factor: int = 10) -> dict[str, str]:
    """Build the `txt` (verbatim x10, block id remap) and `ded` (block id
    remap + per-replica token tagging) document corpora. Returns
    {"txt": dir, "ded": dir}. Embeddings ride the txt dir (bm25's rrf leg
    joins the cosine top-k over vec_id == doc_id); every other table is
    untouched by these gates and not copied."""
    import duckdb

    con = duckdb.connect()
    dirs = {}
    n_docs = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    n_vecs = con.execute(
        f"SELECT MAX(vec_id) + 1 FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    doc_cols = [
        r[0]
        for r in con.execute(
            f"SELECT column_name FROM (DESCRIBE SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet'))"
        ).fetchall()
    ]
    for tag in ("txt", "ded"):
        d = f"{out_base}_{tag}" if factor == 10 else f"{out_base}_{tag}{factor}"
        os.makedirs(d, exist_ok=True)
        dirs[tag] = d
        dst = f"{d}/documents.parquet"
        if not os.path.exists(dst):
            if tag == "txt":
                text_expr = "text"
            else:
                # tag every space-token with the replica id: replica
                # shingle spaces become pairwise disjoint, so the pair
                # graph scales 10x linearly instead of quadratically
                text_expr = (
                    "'r' || k || replace(text, ' ', ' r' || k) AS text"
                )
            sel = ", ".join(
                f"doc_id * 0 + doc_id + k * {n_docs} AS doc_id"
                if c == "doc_id"
                else (text_expr if c == "text" else c)
                for c in doc_cols
            )
            con.execute(
                f"COPY (SELECT {sel} FROM "
                f"read_parquet('{sf_dir}/documents.parquet'), "
                f"(SELECT unnest(range({factor})) AS k)) TO '{dst}' (FORMAT PARQUET)"
            )
    edst = f"{dirs['txt']}/embeddings.parquet"
    if not os.path.exists(edst):
        con.execute(
            f"COPY (SELECT vec_id + k * {n_vecs} AS vec_id, "
            f"* EXCLUDE (vec_id) FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet'), "
            f"(SELECT unnest(range({factor})) AS k)) TO '{edst}' (FORMAT PARQUET)"
        )
    return dirs


def main_text() -> int:
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_base = sys.argv[3] if len(sys.argv) > 3 else "/tmp/scale10"
    factor = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    samples = int(os.environ.get("SCALE_PROBE_SAMPLES", "3"))
    only = set(os.environ.get("SCALE_PROBE_GATES", "").split(",")) - {""}
    print(
        f"building {factor}x document corpora under {out_base}_{{txt,ded}} ...",
        flush=True,
    )
    dirs = build_exploded_docs(sf_dir, out_base, factor)

    from pyspark.sql import SparkSession

    from apache_jira_scraper_spark import registry
    from apache_jira_scraper_spark.io import drain_session

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .appName("scale_probe_text")
        .getOrCreate()
    )
    qs = registry.queries()
    spark.range(1000).count()

    results = {}
    ok = True
    for g, tag in TEXT_GATES.items():
        if only and g not in only:
            continue
        fn = qs[g]
        dir10 = dirs[tag]

        def cold(d):
            drain_session()
            t0 = time.time()
            fn(spark, d).collect()
            return time.time() - t0

        # untimed warmup at both scales (plan compile + JIT off the clock)
        cold(sf_dir), cold(dir10)
        t1 = min(cold(sf_dir) for _ in range(samples))
        drain_session()
        s1 = plan_shape(fn(spark, sf_dir))
        t10 = min(cold(dir10) for _ in range(samples))
        drain_session()
        s10 = plan_shape(fn(spark, dir10))
        ratio = t10 / t1 if t1 > 0 else float("inf")

        # r13 (100x dedup run): AQE demotes the pair-graph BHJs to
        # SortMergeJoin once the build side outgrows the broadcast
        # threshold — the scale-CORRECT adaptation (the relational
        # probe's q3 precedent), but each demoted join re-plans up to 2
        # exchanges (one per side). The contract is therefore
        # directional like main()'s: no promotion toward broadcast,
        # join count unchanged, exchange growth bounded by the
        # demotion accounting, never cartesian.
        def n(shape, key):
            return sum(v for k, v in shape["joins"].items() if key in k)

        demoted = max(0, n(s1, "BroadcastHashJoin") - n(s10, "BroadcastHashJoin"))
        gate_ok = (
            ratio <= SLOPE_CAP
            and s10["exchanges"] <= s1["exchanges"] + 2 * demoted
            and sum(s10["joins"].values()) == sum(s1["joins"].values())
            and n(s10, "BroadcastHashJoin") <= n(s1, "BroadcastHashJoin")
            and n(s10, "BroadcastNestedLoop") <= n(s1, "BroadcastNestedLoop")
            and not s1["cartesian"]
            and not s10["cartesian"]
        )
        ok &= gate_ok
        results[g] = {
            "t_1x": round(t1, 3),
            "t_10x": round(t10, 3),
            "ratio": round(ratio, 2),
            "shape_1x": s1,
            "shape_10x": s10,
            "ok": gate_ok,
        }
        print(
            f"{g}: 1x={t1:.2f}s 10x={t10:.2f}s ratio={ratio:.2f} "
            f"exch {s1['exchanges']}->{s10['exchanges']} "
            f"joins {s1['joins']}->{s10['joins']} "
            f"{'OK' if gate_ok else 'FAIL'}",
            flush=True,
        )
    print(json.dumps(results))
    return 0 if ok else 1


STREAM_GATES = ["stream_tumbling_counts", "stream_stateful"]


def main_stream() -> int:
    """10x STREAMING scale probe (VERDICT r11 item 6): events exploded 10x
    with the same key-remap discipline as the relational probe (event_id /
    user_id * 10 + k — user cardinality grows 10x, per-user event density
    stays constant, so per-key state size is flat BY CONSTRUCTION and the
    probe measures whether the machinery honors that), then the two
    streaming gates timed at 1x vs 10x.

    What is (and is not) pinned:
      - wall ratio <= SLOPE_CAP (the relational probe's bound);
      - micro-batch count is STRUCTURAL here — the events stream is one
        landing file (one availableNow batch) and the ingest legs land
        exactly two files — so the probe asserts output-row growth is
        sane instead: stream_stateful rows scale ~10x (per-user/per-event
        legs), tumbling-count rows stay constant (same time span, same
        window grid — only counts grow).
    Per-batch state-advance flatness over a LONG run is the ingest
    flatness probe's job (tools/ingest_flatness_probe.py — run it with
    --docs-per-batch 400 for the 10x-volume variant); this probe covers
    the driver-gate path end-to-end.
    """
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/scale10"
    factor = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    samples = int(os.environ.get("SCALE_PROBE_SAMPLES", "2"))
    print(f"building {factor}x exploded tables under {out_dir} ...", flush=True)
    build_exploded(sf_dir, out_dir, factor)

    from pyspark.sql import SparkSession

    from apache_jira_scraper_spark import registry

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .appName("scale_probe_stream")
        .getOrCreate()
    )
    qs = registry.queries()
    spark.range(1000).count()

    results = {}
    ok = True
    for g in STREAM_GATES:
        fn = qs[g]
        # untimed warmup at both scales (plan compile + JIT off the clock)
        n1 = fn(spark, sf_dir).count()
        n10 = fn(spark, out_dir).count()
        t1 = min(time_gate(fn, spark, sf_dir, samples=1) for _ in range(samples))
        t10 = min(time_gate(fn, spark, out_dir, samples=1) for _ in range(samples))
        ratio = t10 / t1 if t1 > 0 else float("inf")
        row_ratio = n10 / n1 if n1 else float("inf")
        if g == "stream_tumbling_counts":
            rows_ok = n10 == n1  # same window grid, only counts grow
        else:
            # per-key legs scale ~factor-x
            rows_ok = factor * 0.5 <= row_ratio <= factor * 1.5
        # the slope bound scales with the explosion factor: SLOPE_CAP is
        # the judge's 10x bound (15 = 1.5x super-linearity headroom);
        # at factor 100 a LINEAR operator hits ~100x, so the same
        # per-unit headroom is factor * 1.5
        slope_cap = SLOPE_CAP * factor / 10.0
        gate_ok = ratio <= slope_cap and rows_ok
        ok &= gate_ok
        results[g] = {
            "t_1x": round(t1, 3),
            "t_10x": round(t10, 3),
            "ratio": round(ratio, 2),
            "rows_1x": n1,
            "rows_10x": n10,
            "ok": gate_ok,
        }
        print(
            f"{g}: 1x={t1:.2f}s {factor}x={t10:.2f}s ratio={ratio:.2f} "
            f"(cap {slope_cap:.0f}) rows {n1}->{n10} "
            f"{'OK' if gate_ok else 'FAIL'}",
            flush=True,
        )
    print(json.dumps(results))
    return 0 if ok else 1


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale10"
    # r13: factor argument completes the relational ladder (10x default;
    # the stale-dir row-count validation above already scales with it)
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    print(f"building {factor}x exploded tables under {out_dir} ...", flush=True)
    build_exploded(sf_dir, out_dir, factor)

    from pyspark.sql import SparkSession

    from apache_jira_scraper_spark import registry

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .appName("scale_probe")
        .getOrCreate()
    )
    qs = registry.queries()
    # warm the JVM off the measured path
    spark.range(1000).count()

    results = {}
    ok = True
    only = set(os.environ.get("SCALE_PROBE_GATES", "").split(",")) - {""}
    for g in GATES:
        if only and g not in only:
            continue
        fn = qs[g]
        # untimed warmup at BOTH scales first: the first execution of a
        # gate pays plan compile + JIT, which otherwise lands entirely on
        # the 1x sample and understates the ratio
        fn(spark, sf_dir).collect()
        fn(spark, out_dir).collect()
        t1 = time_gate(fn, spark, sf_dir)
        s1 = plan_shape(fn(spark, sf_dir))
        t10 = time_gate(fn, spark, out_dir)
        s10 = plan_shape(fn(spark, out_dir))
        ratio = t10 / t1 if t1 > 0 else float("inf")
        # BNLJ appears in two gates as the documented 1-row broadcast
        # total (above_avg_orders, funnel conversion denominator) — the
        # probe's contract is therefore a shape DIFF, directional: no
        # NEW exchanges at 10x, no PROMOTION toward broadcast (BHJ/BNLJ
        # counts may only fall as AQE demotes grown sides to shuffle
        # joins — q3 does exactly this, the scale-correct adaptation),
        # total join count unchanged, and never a CartesianProduct.
        def n(shape, key):
            return sum(v for k, v in shape["joins"].items() if key in k)

        gate_ok = (
            ratio <= SLOPE_CAP
            and s10["exchanges"] <= s1["exchanges"]
            and sum(s10["joins"].values()) == sum(s1["joins"].values())
            and n(s10, "BroadcastHashJoin") <= n(s1, "BroadcastHashJoin")
            and n(s10, "BroadcastNestedLoop") <= n(s1, "BroadcastNestedLoop")
            and not s1["cartesian"]
            and not s10["cartesian"]
        )
        ok &= gate_ok
        results[g] = {
            "t_1x": round(t1, 3),
            "t_10x": round(t10, 3),
            "ratio": round(ratio, 2),
            "shape_1x": s1,
            "shape_10x": s10,
            "ok": gate_ok,
        }
        print(
            f"{g}: 1x={t1:.2f}s 10x={t10:.2f}s ratio={ratio:.2f} "
            f"exch {s1['exchanges']}->{s10['exchanges']} "
            f"joins {s1['joins']}->{s10['joins']} "
            f"{'OK' if gate_ok else 'FAIL'}",
            flush=True,
        )
    print(json.dumps(results))
    return 0 if ok else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["text"]:
        raise SystemExit(main_text())
    if sys.argv[1:2] == ["stream"]:
        raise SystemExit(main_stream())
    raise SystemExit(main())
