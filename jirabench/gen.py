"""Seeded inputs for the three benchmark workloads.

Everything here is plain Python driven by one ``random.Random`` per input,
so the same seed gives byte-identical files and server responses. The
package under test never sees the seed: it reads the generated files and
talks to the benchmark's mock server.

Shapes:
  * ``jira_issue``: the raw Jira REST envelope (``key``/``id``/``fields``),
    the reference's ``data/raw/{PROJECT}_raw.json`` element. NULL fields,
    whitespace-only bodies, 0-8 comments and descriptions over the
    20 000-char cap are drawn at fixed shares so every default and gate of
    the extract and task stages fires.
  * ``corpus``: ``(doc_id, text)`` documents built from issue text, with a
    planted exact-duplicate share, a near-duplicate share and a repeated
    boilerplate passage (the exact-substring dedup target).
"""

from __future__ import annotations

import json
import os
import random

PROJECTS = ("KAFKA", "SPARK", "HADOOP", "FLINK")
# uneven project sizes: shares of the issue count, in PROJECTS order
PROJECT_SHARES = (0.45, 0.30, 0.15, 0.10)
STATUSES = ("Open", "In Progress", "Resolved", "Closed", "Reopened")
PRIORITIES = ("Blocker", "Critical", "Major", "Minor", "Trivial")
ISSUE_TYPES = ("Bug", "Task", "Improvement", "New Feature")
# the text operators' stopword list, so Gopher's stopword rule is live
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "for")

# field shares for the raw issues (each a probability per issue)
P_NULL_SUMMARY = 0.03
P_NULL_DESCRIPTION = 0.10
P_EMPTY_DESCRIPTION = 0.05
P_BLANK_DESCRIPTION = 0.03  # whitespace only: cleans to ''
P_LONG_DESCRIPTION = 0.03  # cleaned length over the 20 000-char cap
P_NULL_ENUM = 0.05  # status / priority / issuetype -> 'Unknown'
P_NULL_ASSIGNEE = 0.20
P_NAME_ONLY_USER = 0.10  # displayName NULL, name set
P_NULL_COMMENT_FIELD = 0.05
P_BLANK_COMMENT = 0.08  # NULL or whitespace-only body: dropped
P_LONG_COMMENT = 0.02  # issues whose first comment is over the 10 000-char cap
MAX_COMMENTS = 8

# corpus shares (of all documents)
EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.08
BOILERPLATE_SHARE = 0.10
BOILERPLATE_WORDS = 60


def _vocabulary() -> list[str]:
    """A fixed 2 000-word pseudo-vocabulary (independent of the seed)."""
    rng = random.Random(0)
    syll = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < 2000:
        words.add("".join(rng.choice(syll) for _ in range(rng.choice((1, 2, 2, 3, 3, 4)))))
    return sorted(words)


VOCAB = _vocabulary()


def _words(rng: random.Random, n: int) -> list[str]:
    return [
        rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(VOCAB)
        for _ in range(n)
    ]


def _noisy(rng: random.Random, words: list[str]) -> str:
    """Join words with occasional tab/newline/double-space runs, which the
    extract stage's whitespace normalisation must collapse."""
    out = []
    for i, w in enumerate(words):
        if i:
            r = rng.random()
            out.append("  " if r < 0.03 else "\n" if r < 0.05 else "\t" if r < 0.06 else " ")
        out.append(w)
    return "".join(out)


def _user(rng: random.Random, pool: str) -> dict:
    who = f"{pool}{rng.randrange(40)}"
    if rng.random() < P_NAME_ONLY_USER:
        return {"displayName": None, "name": who.lower()}
    return {"displayName": who.capitalize(), "name": who.lower()}


def _enum(rng: random.Random, values: tuple[str, ...]) -> dict | None:
    return None if rng.random() < P_NULL_ENUM else {"name": rng.choice(values)}


def _ts(rng: random.Random, month: int) -> str:
    return f"2024-{month:02d}-{rng.randrange(1, 29):02d}T{rng.randrange(24):02d}:00:00.000+0000"


DESCRIPTION_KINDS = (
    ("null", P_NULL_DESCRIPTION),
    ("empty", P_EMPTY_DESCRIPTION),
    ("blank", P_BLANK_DESCRIPTION),
    ("long", P_LONG_DESCRIPTION),
)


def deck(rng: random.Random, n: int, shares: tuple[tuple[str, float], ...],
         rest: str = "normal") -> list[str]:
    """``n`` labels with exactly round(n * share) of each kind, shuffled:
    the same amount of work for every seed, in a seed-dependent order."""
    labels = [k for k, share in shares for _ in range(round(n * share))]
    labels += [rest] * (n - len(labels))
    rng.shuffle(labels)
    return labels


def _description(rng: random.Random, kind: str) -> str | None:
    if kind == "null":
        return None
    if kind == "empty":
        return ""
    if kind == "blank":
        return " \n\t "
    if kind == "long":
        return _noisy(rng, _words(rng, 4200))  # ~21k chars after cleaning
    return _noisy(rng, _words(rng, rng.randrange(20, 120)))


def jira_issue(rng: random.Random, project: str, number: int, issue_id: int,
               description: str = "normal", long_comment: bool = False) -> dict:
    """One raw Jira issue envelope. ``description`` is a DESCRIPTION_KINDS
    label (or "normal"); ``long_comment`` makes the first comment exceed
    the 10 000-char comment cap."""
    status = _enum(rng, STATUSES)
    resolved = status is not None and status["name"] in ("Resolved", "Closed")
    comments = None
    if rng.random() >= P_NULL_COMMENT_FIELD:
        comments = []
        for _ in range(rng.randrange(MAX_COMMENTS + 1)):
            r = rng.random()
            if r < P_BLANK_COMMENT / 2:
                body = None
            elif r < P_BLANK_COMMENT:
                body = "\n \t"
            else:
                body = _noisy(rng, _words(rng, rng.randrange(5, 60)))
            comments.append({"author": _user(rng, "dev"), "created": _ts(rng, 4), "body": body})
        if long_comment:
            comments[:1] = [{"author": _user(rng, "dev"), "created": _ts(rng, 4),
                             "body": _noisy(rng, _words(rng, 2100))}]
    return {
        "key": f"{project}-{number}",
        "id": str(issue_id),
        "fields": {
            "summary": None if rng.random() < P_NULL_SUMMARY else _noisy(rng, _words(rng, rng.randrange(3, 11))),
            "description": _description(rng, description),
            "status": status,
            "priority": _enum(rng, PRIORITIES),
            "issuetype": _enum(rng, ISSUE_TYPES),
            "reporter": _user(rng, "reporter"),
            "assignee": None if rng.random() < P_NULL_ASSIGNEE else _user(rng, "dev"),
            "created": _ts(rng, 1),
            "updated": _ts(rng, 2),
            "resolutiondate": _ts(rng, 3) if resolved else None,
            "labels": None if rng.random() < 0.1 else rng.sample(VOCAB[:50], rng.randrange(4)),
            "components": [{"name": f"comp{rng.randrange(6)}"} for _ in range(rng.randrange(3))],
            "versions": [{"name": f"3.{rng.randrange(9)}"} for _ in range(rng.randrange(2))],
            "fixVersions": [{"name": f"4.{rng.randrange(9)}"} for _ in range(rng.randrange(2))],
            "comment": None if comments is None else {"comments": comments},
        },
    }


def project_sizes(n_issues: int) -> dict[str, int]:
    sizes = {p: int(n_issues * s) for p, s in zip(PROJECTS, PROJECT_SHARES)}
    sizes[PROJECTS[0]] += n_issues - sum(sizes.values())
    return sizes


def etl_inputs(seed: int, n_issues: int) -> dict[str, list[dict]]:
    """Raw issues per project (uneven sizes); issue ids are unique overall."""
    rng = random.Random(f"etl:{seed}")
    descriptions = deck(rng, n_issues, DESCRIPTION_KINDS)
    long_comments = deck(rng, n_issues, (("long", P_LONG_COMMENT),))
    out: dict[str, list[dict]] = {}
    k = 0
    for project, n in project_sizes(n_issues).items():
        out[project] = []
        for i in range(n):
            out[project].append(jira_issue(rng, project, i + 1, 10_000 + k, descriptions[k],
                                           long_comments[k] == "long"))
            k += 1
    return out


def write_raw_files(issues: dict[str, list[dict]], raw_dir: str) -> dict[str, str]:
    """The reference's ``data/raw/{PROJECT}_raw.json`` files: one
    pretty-printed JSON array per project. Returns project -> path."""
    os.makedirs(raw_dir, exist_ok=True)
    paths = {}
    for project, rows in issues.items():
        path = os.path.join(raw_dir, f"{project}_raw.json")
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=2)
        paths[project] = path
    return paths


def corpus(seed: int, n_docs: int) -> tuple[list[tuple[int, str]], dict]:
    """``(doc_id, text)`` documents with doc_ids 0..n_docs-1, plus the
    planted structure the checks need.

    Every planted copy has a larger doc_id than its source, so the dedup
    drop policy (keep the smallest id of a duplicate set) must drop it.
    Texts are single-space separated, the tokenisation every text operator
    and its DuckDB twin share."""
    rng = random.Random(f"corpus:{seed}")
    boiler = " ".join(_words(random.Random(f"boiler:{seed}"), BOILERPLATE_WORDS))
    # the first 10 docs are bm25_topk's queries: always originals
    kinds = ["original"] * 10 + deck(
        rng, n_docs - 10,
        (("exact", EXACT_DUP_SHARE), ("near", NEAR_DUP_SHARE), ("boiler", BOILERPLATE_SHARE)),
        rest="original",
    )
    docs: list[tuple[int, str]] = []
    originals: list[int] = []
    exact: dict[int, int] = {}  # copy doc_id -> source doc_id
    near: dict[int, int] = {}
    for doc_id, kind in enumerate(kinds):
        if kind == "exact":
            src = rng.choice(originals)
            docs.append((doc_id, docs[src][1]))
            exact[doc_id] = src
        elif kind == "near":
            src = rng.choice(originals)
            toks = docs[src][1].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            docs.append((doc_id, " ".join(toks)))
            near[doc_id] = src
        else:
            words = _words(rng, rng.randrange(40, 200))
            if kind == "boiler":
                at = rng.randrange(len(words))
                words = words[:at] + boiler.split(" ") + words[at:]
            docs.append((doc_id, " ".join(words)))
            originals.append(doc_id)
    return docs, {"exact": exact, "near": near}


CORPUS_SHARDS = 4


def write_corpus(docs: list[tuple[int, str]], corpus_dir: str) -> list[str]:
    """JSONL shards, documents dealt round-robin (a crawl lands as several
    files). Returns the shard paths."""
    os.makedirs(corpus_dir, exist_ok=True)
    paths = [os.path.join(corpus_dir, f"docs-{k:02d}.jsonl") for k in range(CORPUS_SHARDS)]
    handles = [open(p, "w") for p in paths]
    try:
        for doc_id, text in docs:
            handles[doc_id % CORPUS_SHARDS].write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    finally:
        for fh in handles:
            fh.close()
    return paths


def rest_issue(seed: int, project: str, index: int) -> dict:
    """The mock server's issue at cursor ``index`` of ``project``: a pure
    function of (seed, project, index), so growing totals never rewrite
    issues already served. Texts are long random word runs, so no two
    served issues are near-duplicates and every one must land."""
    rng = random.Random(f"rest:{seed}:{project}:{index}")
    issue_id = (PROJECTS.index(project) + 1) * 1_000_000 + index
    issue = jira_issue(rng, project, index + 1, issue_id)
    issue["fields"]["summary"] = " ".join(_words(rng, 8))
    issue["fields"]["description"] = " ".join(_words(rng, rng.randrange(30, 90)))
    return issue


