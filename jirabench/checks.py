"""Output checks, computed outside Spark.

Each check returns a list of problems (empty when the output is right).
Expected values come from the generator's records in plain Python, or
from the package's own DuckDB twins of the text and dedup operators.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import duckdb

MAX_DESCRIPTION_LENGTH = 20_000  # extract stage caps, config.py:43-44
MAX_COMMENT_LENGTH = 10_000


def _clean(s: str | None, cap: int | None = None) -> str:
    """The extract stage's whitespace normalisation (utils.py:84-105)."""
    if s is None:
        return ""
    c = " ".join(s.split())
    if cap is not None and len(c) > cap:
        c = c[:cap] + "..."
    return c


def _user(u: dict | None) -> str:
    if u is None:
        return "Unknown"
    return u.get("displayName") or u.get("name") or "Unknown"


def expected_examples(issue: dict, project: str) -> list[tuple]:
    """The gold rows one raw issue yields, as (issue_key, project,
    task_type, question_type, output): the reference's transform_issue
    gates (transformer.py:240-269) restated in plain Python."""
    f = issue["fields"]
    title = _clean(f.get("summary"))
    desc = _clean(f.get("description"), MAX_DESCRIPTION_LENGTH)
    status = (f.get("status") or {}).get("name") or "Unknown"
    priority = (f.get("priority") or {}).get("name") or "Unknown"
    assignee = _user(f.get("assignee"))
    comments = ((f.get("comment") or {}).get("comments")) or []
    kept = [b for b in (_clean(c.get("body"), MAX_COMMENT_LENGTH) for c in comments) if b]
    key = issue["key"]
    rows = []

    def add(task, qtype, output):
        rows.append((key, project, task, qtype, output))

    if desc or kept:
        add("summarization", None, f"{title} (Status: {status}, Priority: {priority})")
    if title and priority:
        add("classification", None, priority)
    if title and status:
        add("status_prediction", None, status)
    add("question_answering", "summary", title)
    add("question_answering", "status", status)
    if assignee and assignee != "Unknown":
        add("question_answering", "assignee", assignee)
    if kept and status in ("Resolved", "Closed"):
        add("issue_resolution", None, "\n".join(kept[-2:])[:500])
    return rows


def expected_etl(issues: dict[str, list[dict]]) -> dict:
    rows = [r for p, lst in issues.items() for i in lst for r in expected_examples(i, p)]
    return {
        "n_issues": sum(len(v) for v in issues.values()),
        "per_project": {p: len(v) for p, v in issues.items()},
        "gold": Counter(rows),
        "by_task": Counter(r[2] for r in rows),
    }


def _read_jsonl(pattern: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            out.extend(json.loads(line) for line in fh if line.strip())
    return out


def check_etl(base_dir: str, expected: dict) -> list[str]:
    """All four zones: bronze and silver row counts, gold rows per issue
    and task, and stats totals equal to the gold count."""
    problems = []
    con = duckdb.connect()
    try:
        n_bronze = con.execute(
            f"SELECT count(*) FROM read_parquet('{base_dir}/bronze/raw/*.parquet')"
        ).fetchone()[0]
        silver = dict(con.execute(
            f"SELECT project, count(DISTINCT issue_key) FROM read_parquet("
            f"'{base_dir}/silver/issues/*/*.parquet', hive_partitioning = true) GROUP BY 1"
        ).fetchall())
        n_silver = con.execute(
            f"SELECT count(*) FROM read_parquet('{base_dir}/silver/issues/*/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()
    if n_bronze != expected["n_issues"]:
        problems.append(f"bronze rows {n_bronze} != {expected['n_issues']}")
    if n_silver != expected["n_issues"] or silver != expected["per_project"]:
        problems.append(f"silver rows {n_silver} / per project {silver} != {expected['per_project']}")
    gold = Counter(
        (
            r["metadata"]["issue_key"],
            r["metadata"]["project"],
            r["task_type"],
            r["metadata"].get("question_type"),
            r["output"],
        )
        for r in _read_jsonl(f"{base_dir}/gold/examples/task=*/*.json")
    )
    if gold != expected["gold"]:
        missing = sum((expected["gold"] - gold).values())
        extra = sum((gold - expected["gold"]).values())
        problems.append(f"gold rows: {missing} missing, {extra} unexpected")
    n_gold = sum(gold.values())
    summary = _read_jsonl(f"{base_dir}/stats/summary/*.json")
    if len(summary) != 1 or summary[0].get("total_examples") != n_gold:
        problems.append(f"stats summary {summary[:1]} != gold count {n_gold}")
    dist = {r["task_type"]: r["n"] for r in _read_jsonl(f"{base_dir}/stats/distribution/*.json")}
    if dist != dict(expected["by_task"]) or sum(dist.values()) != n_gold:
        problems.append(f"stats distribution {dist} != {dict(expected['by_task'])}")
    return problems


def rows_digest(rows) -> str:
    """Order-independent digest of result rows (values rendered with repr,
    so 1 and 1.0 differ)."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def duckdb_twins(corpus_path: str, queries: dict[str, str]) -> dict[str, str]:
    """Row digests of the package's DuckDB twin queries over the corpus
    file, keyed like ``queries``."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM read_json("
            f"'{corpus_path}', format = 'newline_delimited', "
            "columns = {'doc_id': 'BIGINT', 'text': 'VARCHAR'})"
        )
        return {name: rows_digest(con.execute(sql).fetchall()) for name, sql in queries.items()}
    finally:
        con.close()


def check_curate(kept_ids: list[int], n_docs: int, planted: dict,
                 digests: dict[str, str], expected_digests: dict[str, str]) -> list[str]:
    problems = []
    kept = set(kept_ids)
    if len(kept) != len(kept_ids):
        problems.append(f"dedup kept {len(kept_ids) - len(kept)} duplicate doc_ids")
    if not kept <= set(range(n_docs)):
        problems.append("dedup kept doc_ids that are not in the input")
    dropped = n_docs - len(kept)
    if len(kept) + dropped != n_docs or not kept:
        problems.append(f"kept {len(kept)} + dropped {dropped} != input {n_docs}")
    survivors = [d for d in planted["exact"] if d in kept]
    if survivors:
        problems.append(f"{len(survivors)} planted exact-duplicate copies kept, e.g. {survivors[:3]}")
    for name, want in expected_digests.items():
        if digests.get(name) != want:
            problems.append(f"{name} output differs from its DuckDB twin")
    return problems


def check_ingest(landed_ids: list[int], served_ids: list[int], expected_ids: set[int]) -> list[str]:
    """Every served issue lands exactly once, and exactly the issues the
    capped offsets admit were served."""
    problems = []
    landed = Counter(landed_ids)
    dups = [i for i, c in landed.items() if c > 1]
    if dups:
        problems.append(f"{len(dups)} issues landed more than once, e.g. {dups[:3]}")
    served = set(served_ids)
    if set(landed) != served:
        problems.append(
            f"landed/served mismatch: {len(served - set(landed))} served not landed, "
            f"{len(set(landed) - served)} landed not served"
        )
    if served != expected_ids:
        problems.append(
            f"served {len(served)} issues, offsets admit {len(expected_ids)} "
            f"({len(expected_ids - served)} missing)"
        )
    return problems


def landed_doc_ids(out_dir: str) -> list[int]:
    files = glob.glob(os.path.join(out_dir, "batch_id=*", "*.parquet"))
    if not files:
        return []
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{out_dir}/batch_id=*/*.parquet')"
        ).fetchall()]
    finally:
        con.close()
