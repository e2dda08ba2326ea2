"""The workloads: inputs, one iteration through the package's public
functions, and the output check of each iteration.

A workload object is built once per benchmark process. ``prepare`` makes
the seeded inputs (not timed, not part of set-up), ``iterate`` runs one
iteration and returns its timed wall seconds, and ``check`` returns the
problems found in that iteration's output (run outside the timed region).
``layer_metrics`` turns the traced iterations into the per-layer numbers.
"""

from __future__ import annotations

import os
import statistics
import time
from functools import reduce

from . import checks, gen
from .trace import ENGINE_FIELDS

PAGE_SIZE = 50  # the source's default page size, config.py:32


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


CURATE_OPS = (
    "dedup.incremental_dedup",
    "dedup.exact_substring_dedup",
    "text.gopher_rules",
    "text.repetition_signals",
    "text.bm25_topk",
)


def engine_names(prefix: str) -> tuple[str, ...]:
    return tuple(f"{prefix}.{k}" for k in ENGINE_FIELDS)


class Workload:
    """``records`` holds one dict per iteration, appended by the caller and
    filled by ``iterate`` (left empty when the iteration raised)."""

    name: str
    WARM_ITERATIONS = 1  # after the cold one; fixed, so runs compare
    LAYERS: tuple[str, ...]  # the per-layer metrics it reports

    def __init__(self):
        self.records: list[dict] = []

    def warm_indices(self) -> list[int]:
        """Iterations that count towards cpu_s."""
        return list(range(1, len(self.records)))

    def after_traced(self, tracer) -> None:
        """Collect numbers that need the finished traced iteration."""

    def close(self) -> None:
        """Release what prepare() opened."""


class EtlBatch(Workload):
    """Raw Jira JSON-array files -> read_raw_json -> run_pipeline ->
    write_zones (bronze, silver, gold, stats): the reference job."""

    N_ISSUES = 2000
    ZONES = {"bronze": "/bronze/", "silver": "/silver/", "gold": "/gold/", "stats": "/stats/"}
    LAYERS = (
        "pipeline.read_raw_json_s", "pipeline.run_pipeline_build_s",
        "pipeline.run_pipeline_build_cold_s", "pipeline.write_zones_s",
        *(f"zone.{z}_{m}" for z in ZONES for m in ("s", "output_bytes")),
        *engine_names("pipeline.write_zones"),
    )

    def prepare(self, seed: int, work: str) -> None:
        self.issues = gen.etl_inputs(seed, self.N_ISSUES)
        self.paths = gen.write_raw_files(self.issues, os.path.join(work, "raw"))
        self.expected = checks.expected_etl(self.issues)
        self.base = os.path.join(work, "zones")

    def iterate(self, spark, tracer, rec: dict) -> float:
        from apache_jira_scraper_spark.pipeline import read_raw_json, run_pipeline, write_zones

        t0 = time.perf_counter()
        with tracer.span("pipeline.read_raw_json"):
            raw = reduce(
                lambda a, b: a.unionByName(b),
                [read_raw_json(spark, path, project=p) for p, path in self.paths.items()],
            )
        t1 = time.perf_counter()
        with tracer.span("pipeline.run_pipeline"):
            result = run_pipeline(raw)
        t2 = time.perf_counter()
        with tracer.span("pipeline.write_zones") as span:
            write_zones(result, self.base)
        t3 = time.perf_counter()
        rec.update(read_s=t1 - t0, build_s=t2 - t1, write_s=t3 - t2, span=span)
        return t3 - t0

    def check(self, spark) -> list[str]:
        return checks.check_etl(self.base, self.expected)

    def after_traced(self, tracer) -> None:
        self.records[-1]["zones"] = tracer.collect_writes(self.ZONES, self.records[-1]["span"])

    def layer_metrics(self, tracer, traced: list[int]) -> dict:
        recs = [self.records[i] for i in traced]
        warm = [r for i, r in zip(traced, recs) if i > 0] or recs
        out = {
            "pipeline.read_raw_json_s": _median(r["read_s"] for r in warm),
            "pipeline.run_pipeline_build_s": _median(r["build_s"] for r in warm),
            "pipeline.run_pipeline_build_cold_s": self.records[0]["build_s"],
            "pipeline.write_zones_s": _median(r["write_s"] for r in warm),
        }
        for zone in self.ZONES:
            out[f"zone.{zone}_s"] = _median(r["zones"][zone]["s"] for r in warm)
            out[f"zone.{zone}_output_bytes"] = _median(r["zones"][zone]["output_bytes"] for r in warm)
        out.update(_engine(tracer, "pipeline.write_zones", [r["span"] for r in warm]))
        return out


class CorpusCurate(Workload):
    """A (doc_id, text) corpus with planted duplicates -> incremental_dedup,
    exact_substring_dedup, gopher_rules, repetition_signals, bm25_topk.

    Each result is forced by collecting it: the collected rows are what the
    check compares, so the check needs no second execution."""

    N_DOCS = 1000
    LAYERS = (
        *(f"{op}_s" for op in CURATE_OPS), "dedup.kept", "dedup.dropped",
        *(n for op in CURATE_OPS for n in engine_names(op)),
    )
    SUBSTRING_SPAN = 50
    BM25_QUERIES = 10
    BM25_TOP_K = 5

    def prepare(self, seed: int, work: str) -> None:
        from apache_jira_scraper_spark.operators import dedup, text

        self.docs, self.planted = gen.corpus(seed, self.N_DOCS)
        self.path = os.path.join(work, "corpus")
        gen.write_corpus(self.docs, self.path)
        self.expected = checks.duckdb_twins(os.path.join(self.path, "*.jsonl"), {
            "exact_substring_dedup": dedup.exact_substring_dedup_sql(self.SUBSTRING_SPAN),
            "gopher_rules": text.gopher_rules_sql(),
            "repetition_signals": text.REPETITION_SQL,
            "bm25_topk": text.bm25_topk_sql(self.BM25_QUERIES, self.BM25_TOP_K),
        })
        self._rows: dict[str, list] = {}  # last iteration's result rows per call
        self._scratch: list = []  # incremental_dedup's internal checkpoints

    def iterate(self, spark, tracer, rec: dict) -> float:
        from apache_jira_scraper_spark.operators import dedup, text

        self._free()
        t0 = time.perf_counter()
        docs = spark.read.schema("doc_id long, text string").json(self.path)
        calls = {
            "dedup.incremental_dedup": lambda: dedup.incremental_dedup(
                docs, None, scratch_out=self._scratch)[0],
            "dedup.exact_substring_dedup": lambda: dedup.exact_substring_dedup(
                docs, self.SUBSTRING_SPAN),
            "text.gopher_rules": lambda: text.gopher_rules(docs),
            "text.repetition_signals": lambda: text.repetition_signals(docs),
            "text.bm25_topk": lambda: text.bm25_topk(docs, self.BM25_QUERIES, self.BM25_TOP_K),
        }
        rec.update(spans={}, s={})
        for name in CURATE_OPS:
            t = time.perf_counter()
            with tracer.span(name) as span:
                self._rows[name] = calls[name]().collect()
            rec["s"][name] = time.perf_counter() - t
            rec["spans"][name] = span
        return time.perf_counter() - t0

    def _free(self) -> None:
        from apache_jira_scraper_spark.io import free_local_checkpoint

        for df in self._scratch:
            free_local_checkpoint(df)
        self._scratch = []

    def check(self, spark) -> list[str]:
        kept_ids = [r["doc_id"] for r in self._rows["dedup.incremental_dedup"]]
        digests = {name.split(".", 1)[1]: checks.rows_digest(self._rows[name])
                   for name in CURATE_OPS[1:]}
        rec = self.records[-1]
        rec["kept"] = len(set(kept_ids))
        rec["dropped"] = self.N_DOCS - rec["kept"]
        return checks.check_curate(kept_ids, self.N_DOCS, self.planted, digests, self.expected)

    def layer_metrics(self, tracer, traced: list[int]) -> dict:
        recs = [self.records[i] for i in traced]
        warm = [r for i, r in zip(traced, recs) if i > 0] or recs
        out = {f"{name}_s": _median(r["s"][name] for r in warm) for name in CURATE_OPS}
        out["dedup.kept"] = _median(r.get("kept", 0) for r in warm)
        out["dedup.dropped"] = _median(r.get("dropped", 0) for r in warm)
        for name in CURATE_OPS:
            out.update(_engine(tracer, name, [r["spans"][name] for r in warm]))
        return out

    def close(self) -> None:
        self._free()


class EtlCurate(Workload):
    """The batch workload: the reference job (EtlBatch) and then corpus
    curation (CorpusCurate) in each iteration, on their own seeded inputs.
    The iteration's wall is the sum of the two."""

    name = "etl_curate"
    LAYERS = EtlBatch.LAYERS + CorpusCurate.LAYERS

    def __init__(self):
        super().__init__()
        self.etl, self.curate = EtlBatch(), CorpusCurate()

    def prepare(self, seed: int, work: str) -> None:
        self.etl.prepare(seed, work)
        self.curate.prepare(seed, work)

    def iterate(self, spark, tracer, rec: dict) -> float:
        rec.update(etl={}, curate={})
        self.etl.records.append(rec["etl"])
        self.curate.records.append(rec["curate"])
        wall = self.etl.iterate(spark, tracer, rec["etl"])
        return wall + self.curate.iterate(spark, tracer, rec["curate"])

    def check(self, spark) -> list[str]:
        return self.etl.check(spark) + self.curate.check(spark)

    def after_traced(self, tracer) -> None:
        self.etl.after_traced(tracer)

    def layer_metrics(self, tracer, traced: list[int]) -> dict:
        return {**self.etl.layer_metrics(tracer, traced),
                **self.curate.layer_metrics(tracer, traced)}

    def close(self) -> None:
        self.curate.close()


class RestIncremental(Workload):
    """Scheduled runs against the benchmark's mock Jira server: each run is
    one availableNow start of readStream.format("jira") -> from_json ->
    extract_issues -> issue text -> streaming_dedup_ingest with durable
    state, resuming from the checkpoint. The server grows every project's
    total by GROWTH issues between runs, more than one capped batch
    (MAX_PAGES_PER_TRIGGER pages), so every run lands a full batch."""

    name = "rest_incremental"
    PROJECTS = ("KAFKA", "SPARK")
    MAX_PAGES_PER_TRIGGER = 1
    INITIAL_TOTAL = 150
    GROWTH = 100
    FAIL_SHARE = 0.10
    RETRY_BASE_S = 0.01
    LAYERS = (
        "sources.requests", "sources.retried", "sources.issues_per_request",
        "sources.latest_offset_s", "streaming.start_s", "streaming.add_batch_s",
        "streaming.commit_s", "streaming.batch_rows", *engine_names("streaming.run"),
    )

    def prepare(self, seed: int, work: str) -> None:
        from .server import JiraServer

        self.server = JiraServer(seed, self.PROJECTS, self.INITIAL_TOTAL, self.GROWTH,
                                 self.FAIL_SHARE).__enter__()
        self.out_dir = os.path.join(work, "ingest", "out")
        self.ckpt = os.path.join(work, "ingest", "ckpt")
        self.state = os.path.join(work, "ingest", "state")
        self.cap = self.MAX_PAGES_PER_TRIGGER * PAGE_SIZE
        self.offsets = {p: 0 for p in self.PROJECTS}
        self.expected: set[int] = set()

    def _docs(self, spark):
        from pyspark.sql import functions as F

        from apache_jira_scraper_spark.operators.extract import extract_issues
        from apache_jira_scraper_spark.schemas import RAW_ISSUE

        raw = (
            spark.readStream.format("jira")
            .option("base_url", self.server.url)
            .option("projects", ",".join(self.PROJECTS))
            .option("page_size", PAGE_SIZE)
            .option("max_pages_per_trigger", self.MAX_PAGES_PER_TRIGGER)
            .option("retry_base_s", self.RETRY_BASE_S)
            .load()
        )
        parsed = raw.select("project", F.from_json("payload", RAW_ISSUE).alias("issue")).select(
            "project", "issue.*"
        )
        issues = extract_issues(parsed, base_url=self.server.url)
        return issues.select(
            F.col("issue_id").cast("long").alias("doc_id"),
            F.trim(F.concat_ws(" ", "title", "description")).alias("text"),
        )

    def iterate(self, spark, tracer, rec: dict) -> float:
        from apache_jira_scraper_spark.streaming.pipelines import streaming_dedup_ingest

        if len(self.records) > 1:
            self.server.advance()
        before = self.server.counters()
        t0 = time.perf_counter()
        call = time.time()
        with tracer.span("streaming.run") as span:
            q = streaming_dedup_ingest(self._docs(spark), self.out_dir, self.ckpt,
                                       durable_state_dir=self.state)
            if span is not None:
                span["attrs"]["stream_run_id"] = str(q.runId)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"scheduled run failed: {q.exception()}")
        after = self.server.counters()
        n_before = len(self.expected)
        for p in self.PROJECTS:
            end = min(self.server.totals[p], self.offsets[p] + self.cap)
            base = (gen.PROJECTS.index(p) + 1) * 1_000_000
            self.expected.update(range(base + self.offsets[p], base + end))
            self.offsets[p] = end
        rec.update({
            "call": call, "span": span,
            "full": len(self.expected) - n_before == self.cap * len(self.PROJECTS),
            "progress": [
                {"timestamp": p["timestamp"], "durationMs": dict(p["durationMs"]),
                 "numInputRows": p["numInputRows"]}
                for p in q.recentProgress
            ],
            "requests": after["requests"] - before["requests"],
            "retried": after["retried"] - before["retried"],
            "issues_served": after["issues_served"] - before["issues_served"],
        })
        return wall

    def check(self, spark) -> list[str]:
        return checks.check_ingest(
            checks.landed_doc_ids(self.out_dir), self.server.served_ids, self.expected
        )

    def warm_indices(self) -> list[int]:
        return [i for i, r in enumerate(self.records) if i > 0 and r.get("full")]

    def layer_metrics(self, tracer, traced: list[int]) -> dict:
        from datetime import datetime

        warm = [self.records[i] for i in traced if i > 0] or [self.records[i] for i in traced]

        def dur(r, *keys):
            return sum(p["durationMs"].get(k, 0) for p in r["progress"] for k in keys) / 1000.0

        def start_s(r):
            if not r["progress"]:
                return 0.0
            ts = datetime.fromisoformat(r["progress"][0]["timestamp"].replace("Z", "+00:00"))
            return ts.timestamp() - r["call"]

        out = {
            "streaming.batch_rows": _median(
                sum(p["numInputRows"] for p in r["progress"]) for r in warm),
            "sources.requests": _median(r["requests"] for r in warm),
            "sources.retried": _median(r["retried"] for r in warm),
            "sources.issues_per_request": _median(
                r["issues_served"] / r["requests"] for r in warm if r["requests"]),
            "sources.latest_offset_s": _median(dur(r, "latestOffset") for r in warm),
            "streaming.start_s": _median(start_s(r) for r in warm),
            "streaming.add_batch_s": _median(dur(r, "addBatch") for r in warm),
            "streaming.commit_s": _median(dur(r, "walCommit", "commitOffsets") for r in warm),
        }
        out.update(_engine(tracer, "streaming.run", [r["span"] for r in warm]))
        return out

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.__exit__(None, None, None)
            self.server = None


def _engine(tracer, prefix: str, spans: list[dict]) -> dict:
    per = [tracer.engine_metrics(s) for s in spans if s is not None]
    return {f"{prefix}.{k}": _median(m[k] for m in per) for k in ENGINE_FIELDS}


WORKLOADS = {w.name: w for w in (EtlCurate, RestIncremental)}

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "cpu_s": "s", "cold_cpu_s": "s",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order. A traced run reports all of
    them; a layer the workload does not reach reports 0."""
    return ["session.get_spark_s", "iteration.wall_s", "iteration.cold_s",
            "host.reference_loop_s",
            *(n for w in WORKLOADS.values() for n in w.LAYERS),
            "trace.overhead_frac"]


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac") or name.endswith("_per_request"):
        return "ratio"
    return "count"
