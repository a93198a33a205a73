"""Doc replacement / delete (ES `_id` overwrite parity) + purge.

Scoring contract under test (index/tombstone.py): tombstoned docs
never appear in results; until a purging compaction they still count
in df and N (Lucene docs.deleted), afterwards df/N are live-only and
avgdl stays frozen to the original build.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from job_searchengine_project_spark.index.build import build_index
from job_searchengine_project_spark.index.compact import compact_index
from job_searchengine_project_spark.index.tombstone import delete_docs, load_tombstones
from job_searchengine_project_spark.index.update import update_index
from job_searchengine_project_spark.search.bm25 import bm25_topk_oracle
from job_searchengine_project_spark.search.engine import SearchEngine

Q = ["spark", "데이터엔지니어", "개발자"]


@pytest.fixture(scope="module")
def upserted_index(spark, webpages_small, tmp_path_factory):
    """Build 300 docs -> replace 40 (same urls, ' spark'-boosted text)
    -> delete 25 others. Returns (out, replaced_urls, deleted_urls)."""
    out = str(tmp_path_factory.mktemp("idx_upsert"))
    build_index(spark, webpages_small, out, target_postings_per_salt=50,
                term_buckets=16, block_size=16)
    repl = (
        webpages_small.filter(F.pmod(F.xxhash64("url"), F.lit(7)) == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" spark spark spark")))
    )
    replaced_urls = [r["url"] for r in repl.select("url").collect()]
    assert len(replaced_urls) > 10
    res = update_index(spark, repl, out, target_postings_per_salt=50, replace=True)
    assert res["added_docs"] == len(replaced_urls)
    remaining = webpages_small.filter(F.pmod(F.xxhash64("url"), F.lit(7)) == 1)
    deleted_urls = [r["url"] for r in remaining.select("url").limit(25).collect()]
    assert delete_docs(spark, out, deleted_urls)["tombstoned"] > 0
    return out, replaced_urls, deleted_urls


def _hit_urls(eng, q, k=500, strategy="wand"):
    return {h.url for h in eng.search(q, k=k, strategy=strategy)}


def test_tombstoned_docs_never_surface(spark, upserted_index):
    out, replaced_urls, deleted_urls = upserted_index
    eng = SearchEngine(out)
    dele = load_tombstones(out)
    assert dele.size >= len(deleted_urls)
    for strategy in ("wand", "exhaustive"):
        urls = _hit_urls(eng, Q, strategy=strategy)
        assert not urls & set(deleted_urls), strategy
        # replaced urls DO surface (their new version is live)
        assert urls & set(replaced_urls), strategy
    # and no result doc_id is a tombstoned id
    ids = {h.doc_id for h in eng.search(Q, k=500)}
    assert not ids & set(int(x) for x in dele.tolist())


def test_replace_serves_new_version_fields(spark, upserted_index):
    out, replaced_urls, _ = upserted_index
    eng = SearchEngine(out)
    hits = [h for h in eng.search(["spark"], k=500, with_fields=True)
            if h.url in set(replaced_urls)]
    assert hits
    for h in hits[:5]:
        assert h.fields["body"].endswith(" spark spark spark")
        assert "_gen" not in h.fields


def test_strategies_and_distributed_paths_agree(spark, upserted_index):
    out, _, _ = upserted_index
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        search_sharded,
    )
    from job_searchengine_project_spark.search.distributed import search_distributed

    def close(a, b):
        assert [x[0] for x in a] == [x[0] for x in b]
        assert all(abs(x[1] - y[1]) < 1e-9 for x, y in zip(a, b))

    eng = SearchEngine(out)
    w = [(h.doc_id, h.score) for h in eng.search(Q, k=10, strategy="wand")]
    e = [(h.doc_id, h.score) for h in eng.search(Q, k=10, strategy="exhaustive")]
    b = [(h.doc_id, h.score) for h in eng.search_bruteforce(Q, k=10)]
    close(w, e)
    close(w, b)
    d = search_distributed(spark, out, Q, k=10, auto_route=False).collect()
    close(w, [(r["doc_id"], r["score"]) for r in d])
    build_sharded_segments(spark, out, n_shards=3)
    s = search_sharded(spark, out, Q, k=10).collect()
    close(w, [(r["doc_id"], r["score"]) for r in s])


def test_pre_purge_lucene_stats_oracle(spark, upserted_index):
    """Pre-purge scores == oracle where df/N count tombstoned versions
    (Lucene docs.deleted semantics) but only live docs are returned."""
    out, _, _ = upserted_index
    eng = SearchEngine(out)
    fwd = spark.read.parquet(out + "/forward")  # all versions
    all_scored = bm25_topk_oracle(
        fwd, Q, k=1_000_000, n_docs=eng.n_eff, avgdl=eng.avgdl
    ).collect()
    dele = set(int(x) for x in load_tombstones(out).tolist())
    live_top = [r for r in all_scored if r["doc_id"] not in dele][:10]
    hits = eng.search(Q, k=10)
    assert [h.doc_id for h in hits] == [r["doc_id"] for r in live_top]
    for h, r in zip(hits, live_top):
        assert abs(h.score - r["score"]) < 1e-9


def test_purge_drops_postings_forward_stored(spark, upserted_index):
    out, replaced_urls, deleted_urls = upserted_index
    eng_pre = SearchEngine(out)
    n_docs = eng_pre.n_docs
    dele = load_tombstones(out)
    n_dele = int(dele.size)
    fwd_rows_pre = spark.read.parquet(out + "/forward").count()

    res = compact_index(spark, out)
    assert res["purged_docs"] == n_dele
    # tombstones cleared, stats updated
    assert load_tombstones(out).size == 0
    eng = SearchEngine(out)
    assert eng.n_docs == n_docs  # id space monotonic
    assert eng.n_eff == n_docs - n_dele
    # forward rows physically gone
    fwd = spark.read.parquet(out + "/forward")
    assert fwd.count() == fwd_rows_pre - n_dele
    # no postings reference a dead doc: every query path agrees and the
    # deleted urls stay gone
    urls = _hit_urls(eng, Q)
    assert not urls & set(deleted_urls)
    # stored docstore: one row per live url, max-generation version
    stored = spark.read.parquet(out + "/stored")
    assert stored.count() == stored.select("url").distinct().count()
    assert stored.filter(F.col("url").isin(deleted_urls)).count() == 0
    new_bodies = stored.filter(F.col("url").isin(replaced_urls[:5])).collect()
    assert new_bodies and all(
        r["body"].endswith(" spark spark spark") for r in new_bodies
    )
    # post-purge scores == oracle over the LIVE corpus with frozen avgdl
    hits = eng.search(Q, k=10)
    oracle = bm25_topk_oracle(
        fwd, Q, k=10, n_docs=eng.n_eff, avgdl=eng.avgdl
    ).collect()
    assert [h.doc_id for h in hits] == [r["doc_id"] for r in oracle]
    for h, r in zip(hits, oracle):
        assert abs(h.score - r["score"]) < 1e-9
    # purge is idempotent
    res2 = compact_index(spark, out)
    assert res2["purged_docs"] == 0


def test_crash_during_replace_rolls_back(spark, webpages_small, tmp_path):
    out = str(tmp_path / "idx_replace_crash")
    build_index(spark, webpages_small.limit(150), out,
                target_postings_per_salt=50, term_buckets=16)
    repl = (
        webpages_small.limit(30)
        .withColumn("text", F.concat(F.col("text"), F.lit(" spark spark")))
    )
    eng0 = SearchEngine(out)
    before = [(h.doc_id, h.score) for h in eng0.search(["spark"], k=10)]
    with pytest.raises(RuntimeError, match="injected crash"):
        update_index(spark, repl, out, replace=True,
                     _fail_point="after_tombstones")
    from job_searchengine_project_spark.index.update import recover_index

    recover_index(out)
    assert load_tombstones(out).size == 0  # tombstones rolled back
    eng1 = SearchEngine(out)
    assert [(h.doc_id, h.score) for h in eng1.search(["spark"], k=10)] == before
    # replay lands cleanly
    res = update_index(spark, repl, out, replace=True)
    assert res["added_docs"] == 30
    assert load_tombstones(out).size == 30
    eng2 = SearchEngine(out)
    assert eng2.search(["spark"], k=5)


def test_delete_then_purge_only(spark, webpages_small, tmp_path):
    """Pure delete path (no replace): docs vanish from results, then
    purge reclaims them physically."""
    out = str(tmp_path / "idx_delete_only")
    build_index(spark, webpages_small.limit(100), out,
                target_postings_per_salt=50, term_buckets=16)
    eng = SearchEngine(out)
    top = eng.search(["spark"], k=3)
    victim = top[0].url
    delete_docs(spark, out, [victim])
    eng2 = SearchEngine(out)
    assert victim not in {h.url for h in eng2.search(["spark"], k=100)}
    res = compact_index(spark, out)
    assert res["purged_docs"] == 1
    eng3 = SearchEngine(out)
    assert victim not in {h.url for h in eng3.search(["spark"], k=100)}
    assert eng3.n_eff == 99


def test_fully_tombstoned_bucket_is_dropped(spark, tmp_path):
    """ADVICE r4: a term_bucket whose EVERY posting is tombstoned
    emits zero compacted rows; the partition swap must DELETE it, not
    leave the stale files a dynamic overwrite would skip — otherwise
    the purged docs resurrect in query results once tombstones clear."""
    from job_searchengine_project_spark.index.build import _term_bucket_py

    # two disjoint vocabularies landing in DIFFERENT term buckets
    buckets = 16
    t_dead, t_live = "unicornterm", "zebraterm"
    assert _term_bucket_py(t_dead, buckets) != _term_bucket_py(t_live, buckets)
    rows = [(f"https://t.test/d{i}", f"{t_dead} {t_dead} filler{i}") for i in range(10)]
    rows += [(f"https://t.test/l{i}", f"{t_live} {t_live} filler{i}") for i in range(10)]
    pages = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path / "idx_deadbucket")
    build_index(spark, pages, out, term_buckets=buckets,
                target_postings_per_salt=50, store_fields=False)
    dead_urls = [u for u, _ in rows[:10]]
    assert delete_docs(spark, out, dead_urls)["tombstoned"] == 10
    res = compact_index(spark, out)
    assert res["purged_docs"] == 10
    eng = SearchEngine(out)
    # the fully-dead term is GONE (its bucket partition was deleted)
    assert eng.search([t_dead], k=10, with_urls=False) == []
    assert {h.url for h in eng.search([t_live], k=20)} == {u for u, _ in rows[10:]}
    # and no parquet file survives in the dead term's partition dir
    dead_part = os.path.join(
        out, "segments", f"term_bucket={_term_bucket_py(t_dead, buckets)}"
    )
    assert not os.path.isdir(dead_part) or not any(
        f.endswith(".parquet") for f in os.listdir(dead_part)
    )


def test_purge_count_survives_crash_before_stats_commit(
    spark, webpages_small, tmp_path, monkeypatch
):
    """ADVICE r4: a crash between the forward swap and the stats
    commit must not permanently undercount n_purged — the re-run finds
    dead=0 forward rows but still credits every tombstone id."""
    import job_searchengine_project_spark.index.build as build_mod

    out = str(tmp_path / "idx_purgecrash")
    build_index(spark, webpages_small.limit(100), out,
                target_postings_per_salt=50, term_buckets=16)
    victims = [
        r["url"] for r in webpages_small.limit(100).select("url").limit(20).collect()
    ]
    assert delete_docs(spark, out, victims)["tombstoned"] == 20
    real = build_mod._write_stats_dict

    def boom(*a, **k):
        raise RuntimeError("injected crash before stats commit")

    monkeypatch.setattr(build_mod, "_write_stats_dict", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_index(spark, out)
    monkeypatch.setattr(build_mod, "_write_stats_dict", real)
    # forward rows are already gone, tombstones still present: the
    # replay must still count all 20 toward n_purged
    res = compact_index(spark, out)
    assert res["purged_docs"] == 20
    eng = SearchEngine(out)
    assert eng.n_eff == 80
    assert not load_tombstones(out).size


def test_purge_count_not_double_credited_after_crash_before_tombstone_clear(
    spark, webpages_small, tmp_path
):
    """ADVICE r5 (the inverted crash window): the stats commit lands
    INSIDE _purge_dead_docs but the tombstone dir is only cleared
    afterwards in compact_index — a crash in between replays the purge
    with the rows already gone AND the credit already committed. The
    last_purge_fp marker must keep the replay from crediting the same
    tombstone set to n_purged twice (which would deflate n_eff and
    every BM25 idf forever)."""
    import shutil

    from job_searchengine_project_spark.index.tombstone import TOMBSTONE_DIR

    out = str(tmp_path / "idx_purgecrash2")
    build_index(spark, webpages_small.limit(100), out,
                target_postings_per_salt=50, term_buckets=16)
    victims = [
        r["url"] for r in webpages_small.limit(100).select("url").limit(20).collect()
    ]
    assert delete_docs(spark, out, victims)["tombstoned"] == 20
    tomb = os.path.join(out, TOMBSTONE_DIR)
    snap = str(tmp_path / "tomb_snapshot")
    shutil.copytree(tomb, snap)
    assert compact_index(spark, out)["purged_docs"] == 20
    assert SearchEngine(out).n_eff == 80
    # simulate the crash: stats committed, tombstones never cleared
    shutil.copytree(snap, tomb)
    res = compact_index(spark, out)  # the replay
    assert res["purged_docs"] == 20  # reported, but NOT re-credited:
    eng = SearchEngine(out)
    assert eng.n_eff == 80  # would be 60 on a double credit
    assert not load_tombstones(out).size
    # and a genuinely NEW delete after the replay still credits fully
    more = [
        r["url"]
        for r in webpages_small.limit(100).select("url")
        .subtract(spark.createDataFrame([(u,) for u in victims], "url string"))
        .limit(10).collect()
    ]
    assert delete_docs(spark, out, more)["tombstoned"] == 10
    assert compact_index(spark, out)["purged_docs"] == 10
    assert SearchEngine(out).n_eff == 70


# ---- lifecycle matrix: crash x lifecycle op x sidecar ------------------------

_MATRIX_STAGES = ["build", "append", "replace", "delete", "purge"]


def _matrix_pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string").withColumn(
        "n_chars", F.length("text")
    )


def _matrix_sweep(spark, out, live_texts: dict):
    """One full read-path sweep touching EVERY sidecar: postings
    (search), positions (phrase), stored fields (_source), doc-values
    (range filter), tombstones (exclusions), fuzzy dictionary
    (expansion vs brute force). ``live_texts`` is url -> current text
    for live docs."""
    import numpy as np

    eng = SearchEngine(out)
    # postings + tombstones: match set == urls whose live text holds the token
    hits = {h.url: h.fields for h in eng.search(["alpha"], k=10**6, with_fields=True)}
    want = {u for u, t in live_texts.items() if "alpha" in t.split()}
    assert set(hits) == want
    # stored fields serve the NEWEST version
    for u, f in hits.items():
        assert f["body"] == live_texts[u]
    # positions: exact adjacency must track the live text
    ph = {h.url for h in eng.search_phrase("alpha beta", k=10**6)}
    assert ph == {
        u for u, t in live_texts.items() if "alpha beta" in " ".join(t.split())
    }
    # doc-values range filter == truth from the live corpus
    n_of = {u: len(t) for u, t in live_texts.items()}
    fwd = {
        r["doc_id"]: r["url"]
        for r in eng._snapshot("forward").read(["doc_id", "url"]).to_pylist()
    }
    dele = set(eng.tombstones.tolist())
    got_f = {
        fwd[d] for d in eng.doc_values_docs("n_chars", gte=30) if d not in dele
    }
    # replaced urls have one forward row per generation; the dv filter
    # may also return the OLD generation's doc id — map both to urls
    assert got_f == {u for u, n in n_of.items() if n >= 30}
    # fuzzy expansion correct regardless of route (fresh table or
    # in-memory fallback after updates)
    probe = "alpha"[:-1] + "q"  # 'alphq': ed 1 from 'alpha'
    brute = [
        t for t in eng.term_dict if SearchEngine._edit_distance(t, probe) <= 1
    ]
    assert eng.fuzzy_expand(probe, max_edits=1) == brute
    return eng


@pytest.mark.parametrize("crash", [None, "after_tombstones", "after_forward",
                                   "after_stored", "after_segments"])
def test_lifecycle_matrix_sidecars_consistent(spark, tmp_path, crash):
    """VERDICT r3 #9: walk build -> append -> replace -> delete ->
    purge with EVERY sidecar enabled (stored fields, doc-values,
    positions, fuzzy variants), sweep every read path after every
    stage; with ``crash`` the replace stage dies at the given fault
    point and is replayed — the recovery contract must leave every
    sidecar consistent."""
    from job_searchengine_project_spark.index.fuzzy import (
        build_fuzzy_variants,
        variants_fresh,
    )

    out = str(tmp_path / "idx_matrix")
    base = [(f"u{i}", f"alpha beta w{i} common{i % 3}") for i in range(20)]
    base += [(f"v{i}", f"gamma delta w{i + 20} filler") for i in range(10)]
    live = {u: t for u, t in base}
    build_index(
        spark, _matrix_pages(spark, base), out,
        doc_values=["n_chars"], with_positions=True,
        target_postings_per_salt=50, term_buckets=8,
    )
    build_fuzzy_variants(spark, out, max_edits=1)
    assert variants_fresh(out, 1)
    _matrix_sweep(spark, out, live)

    # append new docs
    extra = [(f"x{i}", f"alpha epsilon w{i + 40} zeta") for i in range(6)]
    update_index(spark, _matrix_pages(spark, extra), out,
                 target_postings_per_salt=50)
    live.update(dict(extra))
    assert not variants_fresh(out, 1)  # stale table must be detected
    _matrix_sweep(spark, out, live)

    # replace: boost 5 existing urls (optionally crashing mid-way)
    repl = [(f"u{i}", f"alpha beta boosted{i} replaced") for i in range(5)]
    if crash:
        with pytest.raises(RuntimeError, match="injected crash"):
            update_index(spark, _matrix_pages(spark, repl), out,
                         target_postings_per_salt=50, replace=True,
                         _fail_point=crash)
    update_index(spark, _matrix_pages(spark, repl), out,
                 target_postings_per_salt=50, replace=True)
    live.update(dict(repl))
    _matrix_sweep(spark, out, live)

    # delete some of each generation (one replaced, one original, one appended)
    victims = ["u0", "v3", "x2"]
    delete_docs(spark, out, victims)
    for u in victims:
        live.pop(u)
    _matrix_sweep(spark, out, live)

    # purge: physical reclaim across every sidecar
    res = compact_index(spark, out)
    assert res["purged_docs"] > 0
    assert not load_tombstones(out).size
    eng = _matrix_sweep(spark, out, live)
    # after the purge the dv sidecar holds no dead generation rows
    import pyarrow.dataset as pads

    dv_ids = set(
        pads.dataset(os.path.join(out, "docvalues", "n_chars"))
        .to_table(columns=["doc_id"]).column("doc_id").to_pylist()
    )
    fwd_ids = set(
        eng._snapshot("forward").read(["doc_id"]).column("doc_id").to_pylist()
    )
    assert dv_ids == fwd_ids
    # variants rebuilt on the purged index become fresh again
    build_fuzzy_variants(spark, out, max_edits=1)
    assert variants_fresh(out, 1)
    _matrix_sweep(spark, out, live)


def test_get_doc_lifecycle(spark, upserted_index):
    """ES GET _doc parity across the upsert lifecycle: replaced urls
    serve the NEWEST _source, deleted urls report found=false,
    unknown urls report found=false."""
    out, replaced_urls, deleted_urls = upserted_index
    eng = SearchEngine(out)
    r = eng.get(replaced_urls[0])
    assert r["found"] and r["_source"]["body"].endswith(" spark spark spark")
    assert "_gen" not in r["_source"] and "sbucket" not in r["_source"]
    assert eng.get(deleted_urls[0]) == {"_id": deleted_urls[0], "found": False}
    assert not eng.get("https://nowhere.test/x")["found"]


def test_highlight_tokens_exact(spark, tmp_path):
    """Highlight wraps whole analyzer tokens only: no substring hits,
    casing preserved, custom tags honored, bool queries highlight
    every scoring clause's terms."""
    from job_searchengine_project_spark.search.engine import SearchEngine as SE

    out = str(tmp_path / "idx_hl")
    pages = spark.createDataFrame(
        [("h0", "Spark sparkly data DATABASE spark/sql data")],
        "url string, text string",
    )
    build_index(spark, pages, out, target_postings_per_salt=50, term_buckets=8)
    eng = SE(out)
    hl = eng.highlight_text("Spark sparkly data DATABASE spark/sql data",
                            ["spark", "data"])
    assert hl == (
        "<em>Spark</em> sparkly <em>data</em> DATABASE spark/sql <em>data</em>"
    )
    # ('spark/sql' is ONE token under the analyzer's run rule — not a
    # 'spark' token — and 'sparkly'/'DATABASE' are different tokens)
    resp = eng.query({
        "query": {"bool": {"must": [{"match": {"body": "spark"}}],
                           "should": [{"match": {"body": "data"}}]}},
        "highlight": {"fields": {"body": {"pre_tags": ["["], "post_tags": ["]"]}}},
        "size": 5,
    })
    h = resp["hits"]["hits"][0]
    assert h["highlight"]["body"][0] == (
        "[Spark] sparkly [data] DATABASE spark/sql [data]"
    )


def test_highlight_fragments_contract(spark, tmp_path):
    """Token-window fragmenter (number_of_fragments > 0): windows of
    fragment_size space tokens, matched windows kept in document
    order up to the cap; punctuation-attached tokens still highlight
    (analyzer boundary), slash-joined words never partially highlight;
    driver engine and distributed endpoint agree per hit."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
    )
    from job_searchengine_project_spark.search.cluster import query_sharded
    from job_searchengine_project_spark.search.engine import SearchEngine as SE

    text = (
        "spark one two three four five six seven eight nine "  # win 1: hit
        "ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen "  # win 2: no
        "data twenty one two2 three3 four4 five5 six6 seven7 eight8 "  # win 3: hit
        "spark again"  # win 4: hit (but capped at 2)
    ).strip()
    frags = SE.highlight_fragments(text, ["spark", "data"],
                                   fragment_size=10, number_of_fragments=2)
    assert len(frags) == 2
    assert frags[0].startswith("<em>spark</em> one")
    assert frags[1].startswith("<em>data</em> twenty")
    # punctuation-attached: the analyzer splits 'spark,' -> 'spark'
    assert SE.highlight_text("say spark, loudly", ["spark"]) == (
        "say <em>spark</em>, loudly"
    )
    # slash-joined stays one token: no partial wrap
    assert SE.highlight_text("use spark/sql here", ["spark"]) == (
        "use spark/sql here"
    )
    # driver DSL vs distributed endpoint parity, fragments included
    out = str(tmp_path / "idx_hlfrag")
    pages = spark.createDataFrame(
        [("h0", text), ("h1", "nothing to see here at all")],
        "url string, text string",
    )
    build_index(spark, pages, out, target_postings_per_salt=50, term_buckets=8)
    build_sharded_segments(spark, out, n_shards=2)
    body = {
        "query": {"match": {"body": "spark data"}},
        "highlight": {"fields": {"body": {"number_of_fragments": 2,
                                          "fragment_size": 10}}},
        "size": 5,
    }
    eng = SearchEngine(out)
    want = eng.query(body)
    got = query_sharded(spark, out, body)
    assert [h["highlight"] for h in got["hits"]["hits"]] == [
        h["highlight"] for h in want["hits"]["hits"]
    ]
    assert got["hits"]["hits"][0]["highlight"]["body"] == frags
