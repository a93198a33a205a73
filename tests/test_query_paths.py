"""2-gram field path, query-string analysis, distributed query parity."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from job_searchengine_project_spark.functions.tokenize import tokenize_2gram_py
from job_searchengine_project_spark.index.build import build_index
from job_searchengine_project_spark.search.distributed import search_distributed
from job_searchengine_project_spark.search.engine import SearchEngine


@pytest.fixture(scope="module")
def twogram_index(spark, webpages_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx2g"))
    res = build_index(
        spark, webpages_small.limit(120), out,
        analyzer="2gram", target_postings_per_salt=2000, term_buckets=16,
    )
    assert res.n_docs == 120
    return out


def test_2gram_index_and_query_analysis(twogram_index):
    """ES two_gram_analyzer end-to-end: the query string is 2-gram'd
    with the same analyzer as the field (schema/es/es.sh:16-29)."""
    eng = SearchEngine(twogram_index)
    assert eng.stats["analyzer"] == "2gram"
    query = "데이터엔지니어"
    hits = eng.search_text(query, k=10, with_urls=False)
    # equivalent manual path: analyze then search
    manual = eng.search(tokenize_2gram_py(query), k=10, with_urls=False)
    assert [(h.doc_id, h.score) for h in hits] == [(h.doc_id, h.score) for h in manual]
    assert hits  # the head term appears in >20% of docs
    brute = eng.search_bruteforce(tokenize_2gram_py(query), k=10)
    assert [h.doc_id for h in hits] == [h.doc_id for h in brute]


def test_2gram_query_crosses_whitespace(twogram_index):
    """ngram token_chars=[] means grams cross spaces — reference-faithful."""
    eng = SearchEngine(twogram_index)
    grams = tokenize_2gram_py("a b")
    assert grams == ["a ", " b"]
    assert eng.search(grams, k=5, with_urls=False)  # space-grams are indexed


def test_empty_query_text(twogram_index):
    eng = SearchEngine(twogram_index)
    assert eng.search_text("", k=5) == []
    assert eng.search_text("x", k=5) == []  # single char -> no 2-grams


@pytest.fixture(scope="module")
def morph_index(spark, webpages_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idxm"))
    build_index(spark, webpages_small, out, target_postings_per_salt=50, term_buckets=16)
    return out


def test_distributed_search_matches_driver_engine(spark, morph_index):
    eng = SearchEngine(morph_index)
    for q in (["spark"], ["spark", "데이터엔지니어", "개발자"]):
        driver_hits = eng.search(q, k=10, with_urls=True)
        dist = search_distributed(spark, morph_index, q, k=10).collect()
        assert [r["doc_id"] for r in dist] == [h.doc_id for h in driver_hits]
        assert [r["url"] for r in dist] == [h.url for h in driver_hits]
        for r, h in zip(dist, driver_hits):
            assert abs(r["score"] - h.score) < 1e-9


def test_distributed_search_absent_term(spark, morph_index):
    assert search_distributed(spark, morph_index, ["zzz_nope"], k=5).count() == 0


def test_sharded_distributed_wand_matches_driver(spark, morph_index):
    """Doc-range-sharded layout: the per-shard executor-side kernel +
    global top-k merge is rank- and score-identical to the driver
    engine (the same kernel and float order), and ranks like the
    reference WAND kernel within 1e-9."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded,
    )

    out = build_sharded_segments(spark, morph_index, n_shards=4)
    import os
    shard_dirs = [d for d in os.listdir(out) if d.startswith("shard=")]
    assert len(shard_dirs) == 4
    # norms live beside the shards, one dir per shard
    norms_dirs = [
        d
        for d in os.listdir(os.path.join(morph_index, "shard_norms"))
        if d.startswith("shard=")
    ]
    assert sorted(norms_dirs) == sorted(shard_dirs)

    eng = SearchEngine(morph_index)
    for q in (["spark"], ["spark", "데이터엔지니어", "개발자"], ["zzz_nope"]):
        driver_hits = eng.search(q, k=10, with_urls=True)
        wand_hits = eng.search(q, k=10, with_urls=False, strategy="wand")
        dist = search_sharded(spark, morph_index, q, k=10).collect()
        assert [(r["doc_id"], r["url"], r["score"]) for r in dist] == [
            (h.doc_id, h.url, h.score) for h in driver_hits
        ], q
        assert [r["doc_id"] for r in dist] == [h.doc_id for h in wand_hits], q
        for r, h in zip(dist, wand_hits):
            assert abs(r["score"] - h.score) < 1e-9


def test_sharded_search_survives_file_splits(spark, morph_index):
    """Shard files larger than spark.sql.files.maxPartitionBytes are
    split across input partitions; the per-shard repartition must put a
    shard's term rows back into ONE task before WAND runs, or the
    global top-k would merge partial per-doc scores without summing."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded,
    )

    import os
    import shutil

    build_sharded_segments(spark, morph_index, n_shards=2)
    # rewrite the shard files with tiny parquet row groups: a default
    # single-row-group file never actually splits rows, so this is what
    # makes maxPartitionBytes scatter ONE shard's term rows over several
    # input partitions (verified: without the shard repartition this
    # scatters 'spark'+'개발자' into different tasks)
    sp = os.path.join(morph_index, "shards")
    tiny = os.path.join(morph_index, "shards_tiny_rg")
    (
        spark.read.parquet(sp)
        .repartition("shard")
        .write.option("parquet.block.size", "2048")
        .mode("overwrite")
        .partitionBy("shard")
        .parquet(tiny)
    )
    shutil.rmtree(sp)
    shutil.move(tiny, sp)

    eng = SearchEngine(morph_index)
    q = ["spark", "데이터엔지니어", "개발자"]
    driver_hits = eng.search(q, k=10, with_urls=False, strategy="wand")

    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oci = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        dist = search_sharded(spark, morph_index, q, k=10).collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oci)
    assert [r["doc_id"] for r in dist] == [h.doc_id for h in driver_hits]
    for r, h in zip(dist, driver_hits):
        assert abs(r["score"] - h.score) < 1e-9


def test_query_paths_never_collect_forward_index(spark, morph_index, monkeypatch):
    """Neither distributed path may pull (doc_id, doclen) rows to the
    driver — norms load executor-side (shard-local for the sharded
    layout). The only allowed driver collect is the tiny per-term df
    aggregate."""
    import pyspark.sql.classic.dataframe as cdf

    from job_searchengine_project_spark.index.sharded import search_sharded

    collected_schemas: list[list[str]] = []
    real_collect = cdf.DataFrame.collect

    def spy(self):
        collected_schemas.append(list(self.columns))
        return real_collect(self)

    monkeypatch.setattr(cdf.DataFrame, "collect", spy)
    q = ["spark", "개발자"]
    search_distributed(spark, morph_index, q, k=5).collect()
    search_sharded(spark, morph_index, q, k=5).collect()
    for cols in collected_schemas:
        assert "doclen" not in cols, f"driver collected norms: {cols}"


def test_distributed_routes_to_sharded_layout(spark, morph_index, monkeypatch):
    """search_distributed must delegate to the sharded path when a
    doc-range-sharded layout exists (the dense-norms working set is
    only for indexes without one)."""
    import job_searchengine_project_spark.index.sharded as sh
    from job_searchengine_project_spark.index.sharded import build_sharded_segments

    build_sharded_segments(spark, morph_index, n_shards=2)
    calls = []
    real = sh.search_sharded

    def spy(*a, **kw):
        calls.append(True)
        return real(*a, **kw)

    monkeypatch.setattr(sh, "search_sharded", spy)
    out = search_distributed(spark, morph_index, ["spark"], k=3).collect()
    assert calls, "did not route to search_sharded despite shards_meta.json"
    assert len(out) == 3


def test_distributed_dense_norms_bound(spark, morph_index):
    """Without a sharded layout, indexes beyond the dense-norms bound
    must refuse instead of materializing 8 B x n_docs per worker."""
    with pytest.raises(ValueError, match="dense-norms bound"):
        search_distributed(
            spark, morph_index, ["spark"], k=3, auto_route=False, max_dense_docs=10
        )


def test_url_attach_is_pruned_read(spark, morph_index):
    """The hit-url fetch must never scan the forward table inside a
    Spark job: r6 made it a driver-side pyarrow point read (the top-k
    was already collected), so the returned plan must contain NO
    forward FileScan at all — and the urls must still be exactly the
    hits' urls."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded,
    )
    from job_searchengine_project_spark.plans.explain import plan_str

    build_sharded_segments(spark, morph_index, n_shards=2)
    df = search_sharded(spark, morph_index, ["spark"], k=5)
    assert "forward" not in plan_str(df)
    rows = df.collect()
    assert rows and all(r["url"] is not None for r in rows)
    df2 = search_distributed(
        spark, morph_index, ["spark"], k=5, auto_route=False
    )
    assert "forward" not in plan_str(df2)
    rows2 = df2.collect()
    assert [r["url"] for r in rows2] == [r["url"] for r in rows]


def test_sharded_rebuild_after_partial_write(spark, morph_index, tmp_path):
    """A crashed shard derivation (partial shards/ tree, missing meta)
    is repaired by simply re-running build_sharded_segments — the
    overwrite is atomic-enough (meta written last) and results match."""
    import shutil

    from job_searchengine_project_spark.index.sharded import (
        SHARDS_META,
        build_sharded_segments,
        search_sharded,
    )

    # copy the index so we can vandalize it
    idx = str(tmp_path / "idx")
    shutil.copytree(morph_index, idx)
    build_sharded_segments(spark, idx, n_shards=4)
    want = [
        (r["doc_id"], r["score"])
        for r in search_sharded(spark, idx, ["spark"], k=10).collect()
    ]
    # simulate a crash mid-derivation: one shard dir gone, meta gone
    shutil.rmtree(os.path.join(idx, "shards", "shard=0"))
    os.remove(os.path.join(idx, SHARDS_META))
    build_sharded_segments(spark, idx, n_shards=4)
    got = [
        (r["doc_id"], r["score"])
        for r in search_sharded(spark, idx, ["spark"], k=10).collect()
    ]
    assert got == want


def test_sharded_batch_matches_per_query(spark, morph_index):
    """B queries in one pass == B separate search_sharded runs."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded,
        search_sharded_batch,
    )

    build_sharded_segments(spark, morph_index, n_shards=3)
    queries = {
        "q_head": ["spark"],
        "q_multi": ["spark", "데이터엔지니어", "개발자"],
        "q_absent": ["zzz_nope"],
    }
    # both run the same per-shard kernel, so rows match bitwise
    batch = search_sharded_batch(spark, morph_index, queries, k=7).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"], r["url"]))
    for qid, terms in queries.items():
        single = [
            (r["doc_id"], r["score"], r["url"])
            for r in search_sharded(spark, morph_index, terms, k=7).collect()
        ]
        assert got.get(qid, []) == single, qid


def test_shards_freshness_gate(spark, webpages_small, tmp_path):
    """ADVICE r5: the sharded layout records the index fingerprint it
    was derived from. After an update the sharded readers must REFUSE
    stale postings (they would silently miss the new docs); after a
    pure delete the layout stays fresh (tombstones filter live)."""
    import pytest as _pytest

    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        match_docs_sharded,
        search_sharded,
        shards_fresh,
    )
    from job_searchengine_project_spark.index.tombstone import delete_docs
    from job_searchengine_project_spark.index.update import update_index

    idx = str(tmp_path / "idx_fresh")
    base = webpages_small.limit(200)
    build_index(spark, base, idx, target_postings_per_salt=50, term_buckets=16)
    build_sharded_segments(spark, idx, n_shards=4)
    assert shards_fresh(idx)
    assert search_sharded(spark, idx, ["spark"], k=5).count() >= 0

    # pure delete: still fresh, results drop the tombstoned docs
    victims = [r["url"] for r in base.select("url").limit(3).collect()]
    delete_docs(spark, idx, victims)
    assert shards_fresh(idx)
    hits = search_sharded(spark, idx, ["spark"], k=10**6).collect()
    assert {h["url"] for h in hits}.isdisjoint(set(victims))

    # update: stale — every sharded reader refuses
    extra = webpages_small.limit(220).subtract(base)
    update_index(spark, extra, idx)
    assert not shards_fresh(idx)
    with _pytest.raises(ValueError, match="stale"):
        search_sharded(spark, idx, ["spark"], k=5).count()
    with _pytest.raises(ValueError, match="stale"):
        match_docs_sharded(spark, idx, ["spark"]).count()
    # rebuild restores freshness and serves the new docs
    build_sharded_segments(spark, idx, n_shards=4)
    assert shards_fresh(idx)


def test_sharded_paths_never_build_global_tombstone_set(
    spark, webpages_small, tmp_path, monkeypatch
):
    """VERDICT r4 #4: sharded kernels read each shard's OWN tombstone
    slice (range-pushed parquet scan, executor-side) — the driver never
    materializes or broadcasts the global set. load_tombstones is
    poisoned DRIVER-side (executor processes are unaffected), so any
    driver-side global-set build would raise; exclusions must still
    hold, proving the kernels got their slices shard-locally."""
    import job_searchengine_project_spark.index.tombstone as tomb_mod
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded,
        search_sharded_bool,
    )
    from job_searchengine_project_spark.index.tombstone import delete_docs
    from job_searchengine_project_spark.search.engine import SearchEngine

    idx = str(tmp_path / "idx_shtomb")
    base = webpages_small.limit(150)
    build_index(spark, base, idx, target_postings_per_salt=50, term_buckets=16)
    build_sharded_segments(spark, idx, n_shards=4)
    eng = SearchEngine(idx)
    pre = eng.search(["데이터엔지니어"], k=5, with_urls=True)
    assert pre, "fixture must match something"
    victims = [h.url for h in pre[:2]]
    delete_docs(spark, idx, victims)

    real = tomb_mod.load_tombstones

    def boom(*a, **k):
        raise AssertionError("driver built the global tombstone set")

    monkeypatch.setattr(tomb_mod, "load_tombstones", boom)
    hits = search_sharded(spark, idx, ["데이터엔지니어"], k=10**6).collect()
    assert hits and {h["url"] for h in hits}.isdisjoint(set(victims))
    bhits = search_sharded_bool(
        spark, idx, must=["데이터엔지니어"], k=10**6
    ).collect()
    assert bhits and {h["url"] for h in bhits}.isdisjoint(set(victims))
    monkeypatch.setattr(tomb_mod, "load_tombstones", real)
    # parity with the driver engine under the same deletes
    want = [
        (h.doc_id, round(h.score, 9))
        for h in SearchEngine(idx).search(["데이터엔지니어"], k=10**6)
    ]
    got = sorted(
        ((r["doc_id"], round(r["score"], 9)) for r in hits),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == want


def test_query_sharded_cursor_pagination_and_window(spark, morph_index):
    """VERDICT r4 #2: search_after on the distributed endpoint under
    the canonical cursor sort tiles pages exactly; over-window from+size
    raises toward search_after; unknown body keys are refused (a
    paginating client must never silently get page 1 again)."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        shards_fresh,
    )
    from job_searchengine_project_spark.search.cluster import query_sharded

    if not shards_fresh(morph_index):
        build_sharded_segments(spark, morph_index, n_shards=4)
    cursor_sort = [{"_score": "desc"}, {"_doc": "asc"}]
    body = {
        "query": {"match": {"b": "데이터엔지니어 개발자"}},
        "size": 5,
        "sort": cursor_sort,
    }
    p1 = query_sharded(spark, morph_index, body)
    assert len(p1["hits"]["hits"]) == 5
    assert all(h["sort"] == [h["_score"], h["sort"][1]] for h in p1["hits"]["hits"])
    full = query_sharded(spark, morph_index, {**body, "size": 10})
    cursor = p1["hits"]["hits"][-1]["sort"]
    p2 = query_sharded(spark, morph_index, {**body, "search_after": cursor})
    ids = [h["_id"] for h in p1["hits"]["hits"]] + [
        h["_id"] for h in p2["hits"]["hits"]
    ]
    assert ids == [h["_id"] for h in full["hits"]["hits"]]
    assert p1["hits"]["total"] == full["hits"]["total"]

    with pytest.raises(ValueError, match="search_after"):
        query_sharded(
            spark, morph_index,
            {"query": {"match": {"b": "spark"}}, "from": 9990, "size": 20},
        )
    with pytest.raises(ValueError, match="unsupported request-body keys"):
        query_sharded(
            spark, morph_index,
            {"query": {"match": {"b": "spark"}}, "collapse": {}},
        )
    with pytest.raises(ValueError, match="cursor sort"):
        query_sharded(
            spark, morph_index,
            {"query": {"match": {"b": "spark"}}, "search_after": [1.0, 3]},
        )


def test_msearch_batch_and_mget(spark, morph_index):
    """ES _msearch: the all-match batch path (2 distributed passes for
    B bodies) returns byte-identical responses to per-body
    query_sharded; mixed batches fall back per body. ES _mget groups
    ids by docstore bucket (one pruned read per bucket) and matches
    get() per id, missing ids report found=false in request order."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        shards_fresh,
    )
    from job_searchengine_project_spark.search.cluster import (
        msearch_sharded,
        query_sharded,
    )

    if not shards_fresh(morph_index):
        build_sharded_segments(spark, morph_index, n_shards=4)
    simple = [
        {"query": {"match": {"b": "데이터엔지니어 개발자"}}, "size": 6},
        {"query": {"match": {"b": "spark"}}, "size": 4},
        {"query": {"match": {"b": "zzz_nope"}}, "size": 3},
    ]
    got = msearch_sharded(spark, morph_index, simple)
    want = [query_sharded(spark, morph_index, b) for b in simple]
    for g, w in zip(got["responses"], want):
        assert g["hits"]["total"] == w["hits"]["total"]
        assert [(h["_id"], round(h["_score"], 9)) for h in g["hits"]["hits"]] == [
            (h["_id"], round(h["_score"], 9)) for h in w["hits"]["hits"]
        ]
    # a non-simple body in the batch -> per-body fallback, same answers
    mixed = simple[:1] + [
        {"query": {"bool": {"must": [{"match": {"b": "spark"}}]}}, "size": 5}
    ]
    gm = msearch_sharded(spark, morph_index, mixed)
    wm = [query_sharded(spark, morph_index, b) for b in mixed]
    for g, w in zip(gm["responses"], wm):
        assert g["hits"]["total"] == w["hits"]["total"]

    eng = SearchEngine(morph_index)
    some = [h.url for h in eng.search(["데이터엔지니어"], k=3, with_urls=True)]
    urls = [some[1], "doc://nope", some[0], some[2]]
    resp = eng.mget(urls)
    assert [d["_id"] for d in resp["docs"]] == urls  # request order kept
    for d in resp["docs"]:
        single = eng.get(d["_id"])
        assert d["found"] == single["found"]
        if d["found"]:
            assert d["_source"] == single["_source"]
    assert not resp["docs"][1]["found"]
