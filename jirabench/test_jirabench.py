"""Self-tests of the benchmark: seeded inputs, the output checks, the mock
server and the metric names.

    python3 -m pytest jirabench -q            # fast tests, no Spark
    JIRABENCH_E2E=1 python3 -m pytest jirabench -q   # plus one real run

Every check is shown to fail on a deliberately corrupted output.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from collections import Counter

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from jirabench import checks, gen, workloads  # noqa: E402
from jirabench.run import ReferenceLoop, TreeCpu  # noqa: E402
from jirabench.server import JiraServer  # noqa: E402


def _read_bytes(paths):
    return [open(p, "rb").read() for p in sorted(paths)]


# -- seeded inputs --------------------------------------------------------
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    def etl(seed, d):
        return _read_bytes(gen.write_raw_files(gen.etl_inputs(seed, 300), str(d)).values())

    def corpus(seed, d):
        return _read_bytes(gen.write_corpus(gen.corpus(seed, 300)[0], str(d)))

    assert etl(1, tmp_path / "a") == etl(1, tmp_path / "b")
    assert etl(1, tmp_path / "c") != etl(2, tmp_path / "d")
    assert corpus(1, tmp_path / "e") == corpus(1, tmp_path / "f")
    assert corpus(1, tmp_path / "g") != corpus(2, tmp_path / "h")
    assert gen.rest_issue(1, "KAFKA", 7) == gen.rest_issue(1, "KAFKA", 7)
    assert gen.rest_issue(1, "KAFKA", 7) != gen.rest_issue(2, "KAFKA", 7)


def test_inputs_exercise_every_gate():
    issues = gen.etl_inputs(3, 2000)
    flat = [i["fields"] for v in issues.values() for i in v]
    assert len({len(v) for v in issues.values()}) == len(issues)  # uneven projects
    assert any(f["description"] is None for f in flat)
    assert any(f["status"] is None for f in flat)
    assert any(f["assignee"] is None for f in flat)
    long = [f for f in flat if len(checks._clean(f["description"])) > checks.MAX_DESCRIPTION_LENGTH]
    assert len(long) == round(2000 * gen.P_LONG_DESCRIPTION)  # exact share, every seed
    counts = Counter(len((f["comment"] or {}).get("comments") or []) for f in flat)
    assert set(counts) == set(range(gen.MAX_COMMENTS + 1))
    tasks = checks.expected_etl(issues)["by_task"]
    assert set(tasks) == {"summarization", "classification", "status_prediction",
                          "question_answering", "issue_resolution"}


# -- etl check ------------------------------------------------------------
def _write_zones(base, issues, gold_rows):
    """A correct zones directory written without Spark."""
    con = duckdb.connect()
    os.makedirs(f"{base}/bronze/raw")
    keys = [(i["key"], p) for p, v in issues.items() for i in v]
    con.execute("CREATE TABLE t(issue_key VARCHAR, project VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", keys)
    con.execute(f"COPY t TO '{base}/bronze/raw/part-0.parquet' (FORMAT parquet)")
    for p in issues:
        os.makedirs(f"{base}/silver/issues/project={p}")
        con.execute(f"COPY (SELECT issue_key FROM t WHERE project = '{p}') "
                    f"TO '{base}/silver/issues/project={p}/part-0.parquet' (FORMAT parquet)")
    con.close()
    by_task: dict[str, list] = {}
    for key, project, task, qtype, output in gold_rows:
        meta = {"issue_key": key, "project": project}
        if qtype is not None:
            meta["question_type"] = qtype
        by_task.setdefault(task, []).append(
            {"task_type": task, "input": "", "output": output, "metadata": meta})
    for task, rows in by_task.items():
        os.makedirs(f"{base}/gold/examples/task={task}")
        with open(f"{base}/gold/examples/task={task}/part-0.json", "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
    os.makedirs(f"{base}/stats/summary")
    os.makedirs(f"{base}/stats/distribution")
    with open(f"{base}/stats/summary/part-0.json", "w") as fh:
        fh.write(json.dumps({"total_examples": len(gold_rows)}) + "\n")
    with open(f"{base}/stats/distribution/part-0.json", "w") as fh:
        for task, rows in sorted(by_task.items()):
            fh.write(json.dumps({"task_type": task, "n": len(rows)}) + "\n")


@pytest.fixture(scope="module")
def etl_case():
    issues = gen.etl_inputs(5, 200)
    expected = checks.expected_etl(issues)
    rows = sorted(expected["gold"].elements(), key=repr)
    return issues, expected, rows


def test_etl_check_passes_on_correct_zones(tmp_path, etl_case):
    issues, expected, rows = etl_case
    _write_zones(str(tmp_path), issues, rows)
    assert checks.check_etl(str(tmp_path), expected) == []


def test_etl_check_fails_on_altered_gold_row(tmp_path, etl_case):
    issues, expected, rows = etl_case
    key, project, task, qtype, output = rows[7]
    altered = rows[:7] + [(key, project, task, qtype, output + " ")] + rows[8:]
    _write_zones(str(tmp_path), issues, altered)
    assert any("gold" in p for p in checks.check_etl(str(tmp_path), expected))


def test_etl_check_fails_on_dropped_issue(tmp_path, etl_case):
    issues, expected, rows = etl_case
    fewer = {p: v[1:] if p == "KAFKA" else v for p, v in issues.items()}
    gone = issues["KAFKA"][0]["key"]
    _write_zones(str(tmp_path), fewer, [r for r in rows if r[0] != gone])
    problems = checks.check_etl(str(tmp_path), expected)
    assert any("silver" in p for p in problems) and any("gold" in p for p in problems)


def test_etl_check_fails_on_wrong_stats(tmp_path, etl_case):
    issues, expected, rows = etl_case
    _write_zones(str(tmp_path), issues, rows)
    with open(tmp_path / "stats/summary/part-0.json", "w") as fh:
        fh.write(json.dumps({"total_examples": len(rows) + 1}) + "\n")
    assert any("summary" in p for p in checks.check_etl(str(tmp_path), expected))


# -- curate check ---------------------------------------------------------
def test_curate_check():
    docs, planted = gen.corpus(4, 400)
    assert planted["exact"] and all(c > s for c, s in planted["exact"].items())
    kept = [d for d, _ in docs if d not in planted["exact"]]
    want = {"gopher_rules": "a"}
    assert checks.check_curate(kept, len(docs), planted, {"gopher_rules": "a"}, want) == []
    copy = next(iter(planted["exact"]))
    assert checks.check_curate(kept + [copy], len(docs), planted, want, want)
    assert checks.check_curate(kept + kept[:1], len(docs), planted, want, want)
    assert checks.check_curate(kept, len(docs), planted, {"gopher_rules": "b"}, want)


def test_duckdb_twin_digest_is_order_independent(tmp_path):
    paths = gen.write_corpus(gen.corpus(6, 50)[0], str(tmp_path))
    sql = {"n": "SELECT doc_id, length(text) FROM documents"}
    got = checks.duckdb_twins(os.path.join(str(tmp_path), "*.jsonl"), sql)
    rows = []
    for p in paths:
        for line in open(p):
            d = json.loads(line)
            rows.append((d["doc_id"], len(d["text"])))
    assert got["n"] == checks.rows_digest(reversed(rows))


# -- ingest check and server ---------------------------------------------
def test_ingest_check_fails_on_dropped_page_and_duplicate():
    ids = list(range(1_000_000, 1_000_200))
    assert checks.check_ingest(ids, ids, set(ids)) == []
    dropped_page = ids[:100] + ids[150:]
    assert checks.check_ingest(dropped_page, ids, set(ids))
    assert checks.check_ingest(ids + ids[3:4], ids, set(ids))
    assert checks.check_ingest(ids[:150], ids[:150], set(ids))  # never served


def _get(url, project, start, n):
    q = f"jql=project%20%3D%20{project}%20ORDER%20BY%20created%20ASC&startAt={start}&maxResults={n}"
    try:
        with urllib.request.urlopen(f"{url}/rest/api/2/search?{q}", timeout=10) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


def test_server_paging_growth_and_one_shot_failures():
    with JiraServer(9, ("KAFKA",), initial=120, growth=30, fail_share=0.5) as srv:
        first = [_get(srv.url, "KAFKA", s, 50) for s in (0, 50, 100)]
        failed = [s for s, _ in first if s != 200]
        assert failed and set(failed) <= {429, 503}
        # one-shot: repeating every request succeeds
        pages = [_get(srv.url, "KAFKA", s, 50) for s in (0, 50, 100)]
        assert [s for s, _ in pages] == [200, 200, 200]
        assert [len(b["issues"]) for _, b in pages] == [50, 50, 20]
        assert pages[0][1]["total"] == 120
        served_first = sum(len(b["issues"]) for s, b in first if s == 200)
        assert srv.counters() == {
            "requests": 6, "retried": len(failed), "issues_served": 120 + served_first}
        srv.advance()
        probe = _get(srv.url, "KAFKA", 0, 1)
        if probe[0] != 200:
            probe = _get(srv.url, "KAFKA", 0, 1)
        assert probe[1]["total"] == 150


# -- metric names ---------------------------------------------------------
def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(workloads.END_TO_END)
    assert [m["name"] for m in b["per_layer"]] == workloads.per_layer_names()
    for m in b["end_to_end"] + b["per_layer"]:
        assert m["unit"] == workloads.unit(m["name"]), m
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "jirabench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "jirabench/run.py", "--workload", "etl_curate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.skipif(not os.environ.get("JIRABENCH_E2E"), reason="set JIRABENCH_E2E=1")
@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metric_names_match_benchmark_json(trace):
    p = subprocess.run(
        [sys.executable, "jirabench/run.py", "--workload", "etl_curate", "--seed", "11",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _bench()[key]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


# -- CPU meter ------------------------------------------------------------
def test_tree_cpu_counts_children_and_skips_listed_threads():
    stop = threading.Event()

    def spin():
        while not stop.is_set():
            pass

    cpu = TreeCpu()
    before = cpu()
    subprocess.run([sys.executable, "-c", "import time\nend = time.process_time() + 0.5\n"
                    "while time.process_time() < end: pass"], check=True)
    assert cpu() - before >= 0.4  # a waited-for child's CPU counts

    spinner = threading.Thread(target=spin)
    spinner.start()
    try:
        skip = TreeCpu([spinner.native_id])
        before, before_all = skip(), cpu()
        time.sleep(0.5)
        assert skip() - before < 0.2  # the listed thread's CPU does not count
        assert cpu() - before_all >= 0.3
    finally:
        stop.set()
        spinner.join()


def test_reference_loop_is_fixed_work():
    a, b = ReferenceLoop(), ReferenceLoop()
    assert (a.ints, a.blob, a.text) == (b.ints, b.blob, b.text)  # not seeded by --seed
    assert 0 < a.run() < 10
