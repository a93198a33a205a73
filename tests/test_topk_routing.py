"""Every match-OR top-k runs the vectorized kernel
(``accumulate_arrays`` -> ``topk_pairs``): the driver engine's match
and fuzzy bodies and the three sharded match sites answer with the
reference WAND kernel made unusable, and their pages and totals equal
the exhaustive oracle on a two-generation index with tombstones."""

from __future__ import annotations

import ast
import importlib
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

import job_searchengine_project_spark
from job_searchengine_project_spark.index.build import build_index
from job_searchengine_project_spark.index.sharded import (
    build_sharded_segments,
    search_sharded,
    search_sharded_batch,
    search_sharded_match_total,
)
from job_searchengine_project_spark.index.tombstone import delete_docs
from job_searchengine_project_spark.index.update import update_index
from job_searchengine_project_spark.search.engine import SearchEngine

QUERIES = {
    "head": ["spark"],
    "multi": ["spark", "데이터엔지니어", "개발자"],
    "absent": ["zzz_nope"],
}


@pytest.fixture(scope="module")
def two_gen_sharded(spark, webpages_small, tmp_path_factory):
    """A build, an update that replaces one url, one delete, then the
    sharded layout: (index dir, deleted url)."""
    out = str(tmp_path_factory.mktemp("idx_topk_routing"))
    build_index(spark, webpages_small, out, target_postings_per_salt=50,
                term_buckets=16, block_size=16)
    replaced, deleted = [
        r["url"] for r in webpages_small.select("url").orderBy("url").limit(2).collect()
    ]
    repl = webpages_small.filter(F.col("url") == replaced).withColumn(
        "text", F.concat(F.col("text"), F.lit(" spark 개발자"))
    )
    update_index(spark, repl, out, target_postings_per_salt=50, replace=True)
    assert delete_docs(spark, out, [deleted])["tombstoned"] == 2
    build_sharded_segments(spark, out, n_shards=3)
    return out, deleted


@pytest.fixture
def no_wand(monkeypatch):
    """Make ``wand_topk``/``TermCursor`` raise in every loaded package
    module that holds them."""

    def boom(*_a, **_k):
        raise AssertionError("a query path called the WAND kernel")

    importlib.import_module("job_searchengine_project_spark.search.wand")
    for name, mod in list(sys.modules.items()):
        if name.startswith("job_searchengine_project_spark"):
            for attr in ("wand_topk", "TermCursor"):
                if hasattr(mod, attr):
                    monkeypatch.setattr(mod, attr, boom)


def _oracle(eng: SearchEngine, terms: list[str], k: int) -> list[tuple[int, float]]:
    return [(h.doc_id, h.score) for h in eng.search_bruteforce(terms, k=k)]


def _by_url(eng: SearchEngine, pairs: list[tuple[int, float]]) -> list[tuple[str, float]]:
    return [(eng.url_of(d), s) for d, s in pairs]


def _assert_ranked(got: list[tuple], want: list[tuple], tag):
    assert [d for d, _ in got] == [d for d, _ in want], tag
    assert all(abs(s - w) <= 1e-9 for (_, s), (_, w) in zip(got, want)), tag


def test_only_the_engine_reference_method_imports_wand():
    """Shard closures run in executor processes the monkeypatch cannot
    reach, so the routing is also pinned at the source: the one import
    of ``search.wand`` is inside ``SearchEngine._wand``."""
    root = pathlib.Path(job_searchengine_project_spark.__file__).parent
    sites = set()
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        if rel == "search/wand.py":
            continue

        def walk(node, func):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    walk(child, child.name)
                    continue
                if isinstance(child, ast.ImportFrom) and (child.module or "").endswith(
                    "search.wand"
                ):
                    sites.add((rel, func))
                elif isinstance(child, ast.Import) and any(
                    a.name.endswith("search.wand") for a in child.names
                ):
                    sites.add((rel, func))
                walk(child, func)

        walk(ast.parse(path.read_text()), None)
    assert sites == {("search/engine.py", "_wand")}


def test_driver_match_and_fuzzy_bodies_use_the_vectorized_kernel(
    two_gen_sharded, no_wand
):
    out, deleted = two_gen_sharded
    eng = SearchEngine(out)
    for terms in QUERIES.values():
        text = " ".join(terms)
        resp = eng.query({"query": {"match": {"body": text}}, "size": 7})
        analyzed = eng._analyze(text)
        got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
        _assert_ranked(got, _by_url(eng, _oracle(eng, analyzed, 7)), terms)
        assert resp["hits"]["total"]["value"] == len(eng.accumulate_scores(analyzed))
        assert deleted not in {h["_id"] for h in resp["hits"]["hits"]}
    probe = "spar"
    resp = eng.query({"query": {"fuzzy": {"body": {"value": probe, "fuzziness": 1}}}})
    expanded = eng.fuzzy_expand(probe, max_edits=1)
    assert expanded
    got = [(h["_id"], h["_score"]) for h in resp["hits"]["hits"]]
    _assert_ranked(got, _by_url(eng, _oracle(eng, expanded, 10)), probe)
    assert resp["hits"]["total"]["value"] == len(eng.accumulate_scores(expanded))
    # the reference kernel stays reachable only by asking for it
    with pytest.raises(AssertionError, match="WAND kernel"):
        eng.search(QUERIES["head"], strategy="wand")


def test_sharded_match_sites_use_the_vectorized_kernel(spark, two_gen_sharded, no_wand):
    out, _deleted = two_gen_sharded
    eng = SearchEngine(out)
    batch = {}
    for r in search_sharded_batch(spark, out, QUERIES, k=7).collect():
        batch.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in QUERIES.items():
        want = _oracle(eng, terms, 7)
        ranked = [
            (r["doc_id"], r["score"])
            for r in search_sharded(spark, out, terms, k=7).collect()
        ]
        _assert_ranked(ranked, want, ("search_sharded", qid))
        hits, total = search_sharded_match_total(spark, out, terms, 7)
        _assert_ranked([(d, s) for d, s, _ in hits], want, ("match_total", qid))
        assert total == len(eng.accumulate_scores(terms)), qid
        _assert_ranked(batch.get(qid, []), want, ("batch", qid))
