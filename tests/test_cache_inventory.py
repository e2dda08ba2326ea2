"""Session-store inventory (VERDICT r10 item 3, ROADMAP item 2): the
package keeps every piece of session state in ONE container, io.py's
store, written only through io.session_cached / io.session_replace under
a string-literal name. This test is what stops the next cache from
growing its own mechanism:

- no module-level dict outside the EXEMPT constants, the registry and
  the store itself;
- every store name is a string literal, used at one call site, and the
  set of names equals EXPECTED_NAMES;
- no RESULT_GRAIN_BANNED name, and no store name derived from one.

Static (AST) rather than runtime: triggering every builder would cost
minutes of Spark time per run and still only cover the entries a test
happens to touch; "one container, named entries" is a source property.
The store's behavior is pinned functionally in tests/test_io_cache.py.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "apache_jira_scraper_spark"

# Every store name, by kind. A new entry must be added here.
# Input-side silver tables: eager checkpoints of shared inputs/indexes.
SILVER_TABLES = {
    "corpus.docs_proj", "corpus.domain_cards", "corpus.report_base",
    "dedup.shingles", "dedup.pairs", "dedup.simhash", "dedup.emb_proj",
    "dedup.emb_pairs", "dedup.labels", "dedup.sem_ivf", "dedup.sem_lsh",
    "dedup.sem_proto", "dedup.substr_leg", "dedup.ngram_leg",
    "multimodal.phash_tables", "multimodal.phash_pairs",
    "multimodal.media_clusters", "multimodal.fixture_core", "pipeline.issues",
    "quantize.ts_spine", "similarity.exact_topk", "text.bm25_topk",
    "text.bigram_leg", "text.docs_tok", "text.contam_leg", "text.backoff_leg",
    "text.bpe_pieces", "text.unigram_leg", "text.bpe_leg", "text.dsir_leg",
    "text.tokpack_leg", "text.ppl_leg", "text.verdict_leg", "text.unitok_leg",
    "extended.cms_hh",
}
# Trained model objects (codebooks, rotations, centroids, weights).
MODELS = {
    "quantize.pq_model", "quantize.opq_model", "similarity.ivf_centroids",
    "text.qc_weights",
}
# Prepared-query frame memos: a lazy DataFrame OBJECT, no data; every
# call still optimizes and executes it (r13/r14).
FRAME_MEMOS = {"pipeline.examples_frame", "text.gate_frame", "extended.rest_frame"}
# Per-call checkpoints (io.session_replace), held only until the next
# call frees them and never read back (ADVICE r14 #1).
PER_CALL = {"dedup.cluster_loops"}
EXPECTED_NAMES = SILVER_TABLES | MODELS | FRAME_MEMOS | PER_CALL

# r14 (VERDICT r13 item 1): caches whose entry held a GATE'S RESULT GRAIN —
# the query's answer (or the answer modulo its presentation sort) rather
# than shared input-side state — were removed; warm bench samples on those
# gates were timing checkpoint scans of the precomputed answer instead of
# the declared query. These names must never reappear, nor a store name
# derived from one ("_FUZZY_PAIRS_CACHE" -> "<module>.fuzzy_pairs"), and
# no NEW entry may hold a frame that any registered gate returns (modulo a
# final orderBy/column rename): an entry must be consumed by strictly MORE
# computation than a presentation sort before it reaches a gate's output.
RESULT_GRAIN_BANNED = {
    "_FUZZY_PAIRS_CACHE",   # relational: the fuzzy gate's verified pairs
    "_ADC_HITS",            # quantize: two_stage_topk's recall verdict table
    "_CLUSTER_CORE_CACHE",  # dedup: labels ⋈ pagerank ⋈ weighted-pagerank
    "_IVF_ASSIGNED",        # similarity: the gate's probe assignment
    "_EXAMPLES_CACHE",      # pipeline_queries: jira_flatmap_examples' answer
}

# The only module-level dicts the package may define. Each says why.
EXEMPT = {
    # the query-name -> Entry registry: process-lifetime by design,
    # mutated only by registry.register() at import time
    "registry.py": {"_REGISTRY"},
    # THE session store and its per-entry build-lock map (RLocks only)
    "io.py": {"_STORE", "_BUILD_LOCKS"},
    # immutable constant: per-source mix weights for the corpus gate
    "operators/corpus.py": {"GATE_MIX_WEIGHTS"},
    # _MOCK holds the in-process MockJira server singleton (plain Python
    # object, no Spark checkpoints — survives session restarts by design
    # so the mock corpus stays identical); MOCK_TOTALS is a constant
    "operators/extended.py": {"_MOCK", "MOCK_TOTALS"},
    # immutable constant: reference-literal instruction templates
    "operators/tasks.py": {"_INSTRUCTIONS"},
    # immutable constant: oracle SQL strings for the pipeline gates
    "operators/pipeline_queries.py": {"ORACLES"},
}

STORE_WRITERS = {"session_cached", "session_replace"}


def _sources():
    for py in sorted(PKG.rglob("*.py")):
        yield str(py.relative_to(PKG)), py.read_text()


def _module_level_dicts(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Dict):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        elif (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.value, ast.Dict)
            and isinstance(node.target, ast.Name)
        ):
            names.add(node.target.id)
    return names


def _store_calls(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            fname = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if fname in STORE_WRITERS:
                yield node


def _stem(banned: str) -> str:
    return banned.strip("_").lower().removesuffix("_cache")


def test_no_module_level_dict_outside_the_store():
    found = {}
    for rel, src in _sources():
        dicts = _module_level_dicts(ast.parse(src))
        if dicts:
            found[rel] = dicts
    assert found == EXEMPT, (
        "module-level dicts drifted — session state belongs in io.py's "
        f"store (io.session_cached), constants need an EXEMPT entry: {found}"
    )


def test_store_names_are_literals_and_inventoried():
    names: list[str] = []
    problems: list[str] = []
    for rel, src in _sources():
        if rel == "io.py":
            continue  # the definitions themselves
        for call in _store_calls(ast.parse(src)):
            arg = call.args[0] if call.args else None
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                names.append(arg.value)
            else:
                problems.append(f"{rel}:{call.lineno} store name is not a literal")
    assert not problems, "\n".join(problems)
    dup = sorted({n for n in names if names.count(n) > 1})
    assert not dup, f"store names used at more than one call site: {dup}"
    assert set(names) == EXPECTED_NAMES, (
        "store name inventory drifted — add new names to EXPECTED_NAMES: "
        f"missing={sorted(EXPECTED_NAMES - set(names))} "
        f"new={sorted(set(names) - EXPECTED_NAMES)}"
    )


def test_no_result_grain_caches():
    """VERDICT r13 item 1: the five result-grain caches stay removed, as
    dicts or as store entries."""
    hits = [
        f"{rel}: {name}"
        for rel, src in _sources()
        for name in RESULT_GRAIN_BANNED
        if name in src
    ]
    assert not hits, (
        "result-grain cache name reintroduced (these memoized a gate's "
        "answer; see RESULT_GRAIN_BANNED):\n" + "\n".join(hits)
    )
    banned_stems = {_stem(n) for n in RESULT_GRAIN_BANNED}
    derived = {n for n in EXPECTED_NAMES if n.split(".", 1)[1] in banned_stems}
    assert not derived, f"store names derived from banned caches: {derived}"


def test_store_is_private_to_io():
    """io.py's store is keyed by applicationId, evicts through one helper,
    and no other module touches it except through the io functions."""
    src = (PKG / "io.py").read_text()
    body = src.split("def session_cached", 1)[1].split("\ndef ", 1)[0]
    assert "applicationId" in body
    assert "_evict(" in body  # dead-app eviction
    assert "_SESSION_CACHE_LOCK" in body  # serialized store access
    leaks = [rel for rel, s in _sources() if rel != "io.py" and "_STORE" in s]
    assert not leaks, f"modules reaching into io._STORE: {leaks}"
