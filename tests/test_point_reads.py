"""Keyed point reads (iolayout.ParquetSnapshot) and the one-pass driver
match: a match body reads its segments once, scores once, and takes
its exact total from the same decoded postings.

The index has two generations: a 300-doc build, then an update that
replaces one url, then one delete."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from job_searchengine_project_spark.index.build import build_index
from job_searchengine_project_spark.index.tombstone import delete_docs
from job_searchengine_project_spark.index.update import update_index
from job_searchengine_project_spark.iolayout import ParquetSnapshot
from job_searchengine_project_spark.search.engine import SearchEngine

FRESH = "zzfreshtoken"  # only in the replaced url's newest version


@pytest.fixture(scope="module")
def two_gen(spark, webpages_small, tmp_path_factory):
    """(index dir, replaced url, deleted url, a match text hitting both)."""
    out = str(tmp_path_factory.mktemp("idx_two_gen"))
    build_index(spark, webpages_small, out, target_postings_per_salt=50,
                term_buckets=16, block_size=16)
    urls = [r["url"] for r in webpages_small.select("url").orderBy("url").limit(2).collect()]
    replaced, deleted = urls
    repl = webpages_small.filter(F.col("url") == replaced).withColumn(
        "text", F.concat(F.col("text"), F.lit(f" spark {FRESH}"))
    )
    assert update_index(spark, repl, out, target_postings_per_salt=50,
                        replace=True)["added_docs"] == 1
    # the replaced url's first version and the deleted doc
    assert delete_docs(spark, out, [deleted])["tombstoned"] == 2
    return out, replaced, deleted, f"spark 데이터엔지니어 {FRESH}"


def _match(text: str, size: int = 10, frm: int = 0) -> dict:
    return {"query": {"match": {"body": text}}, "size": size, "from": frm}


def test_snapshot_reads_by_key_and_partition(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t"
    for part, lo in (("0", 0), ("1", 100)):
        d = root / f"b={part}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({"k": list(range(lo, lo + 40)), "v": [f"v{i}" for i in range(lo, lo + 40)]}),
            d / "part-0.parquet", row_group_size=10,
        )
    (root / "b=0" / "_SUCCESS").touch()
    snap = ParquetSnapshot(str(root), "b")
    got = snap.read(["v"], key="k", values=[3, 25, 107, 999])
    assert got.column_names == ["v"]
    assert got["v"].to_pylist() == ["v3", "v25", "v107"]
    assert snap.read(["k"], key="k", values=[107], parts=[0]).num_rows == 0
    assert snap.read(["k"]).num_rows == 80
    empty = snap.read(["k", "v"], key="k", values=[])
    assert empty.num_rows == 0 and empty.column_names == ["k", "v"]
    assert ParquetSnapshot(str(tmp_path / "missing")).read(["k"]).num_rows == 0


def test_match_total_equals_accumulated_doc_set(two_gen):
    out, replaced, deleted, text = two_gen
    eng = SearchEngine(out)
    terms = eng._analyze(text)
    want = len(eng.accumulate_scores(terms))
    assert want > 10
    # cutoff 0 makes every body dense: the exhaustive kernel, which
    # count() used to call with k=0 and crash on
    for cutoff in (SearchEngine.DENSE_POSTINGS_CUTOFF, 0):
        eng.DENSE_POSTINGS_CUTOFF = cutoff
        resp = eng.query(_match(text, frm=3))
        assert resp["hits"]["total"]["value"] == want
        assert eng.count(_match(text)) == {"count": want}
        assert deleted not in {h["_id"] for h in resp["hits"]["hits"]}


def test_match_body_reads_segments_once_without_spark_jobs(spark, two_gen):
    out, *_, text = two_gen
    eng = SearchEngine(out)
    calls = []
    load = eng.load_segments
    eng.load_segments = lambda terms: calls.append(terms) or load(terms)
    sc = spark.sparkContext
    sc.setJobGroup("point-reads-match", "driver match body")
    try:
        resp = eng.query(_match(text))
    finally:
        sc.setJobGroup("tests-idle", "untracked")
    assert resp["hits"]["hits"]
    assert len(calls) == 1
    assert len(sc.statusTracker().getJobIdsForGroup("point-reads-match")) == 0


def test_open_engine_sees_a_later_delete(spark, two_gen, tmp_path):
    src, replaced, _deleted, text = two_gen
    out = str(tmp_path / "idx")
    shutil.copytree(src, out)
    eng = SearchEngine(out)
    before = [h["_id"] for h in eng.query(_match(text))["hits"]["hits"]]
    assert replaced in before
    delete_docs(spark, out, [replaced])
    resp = eng.query(_match(text))
    assert replaced not in {h["_id"] for h in resp["hits"]["hits"]}
    assert resp == SearchEngine(out).query(_match(text))
    assert eng.get(replaced) == {"_id": replaced, "found": False}


def test_replaced_url_serves_newest_generation(two_gen):
    out, replaced, deleted, _text = two_gen
    eng = SearchEngine(out)
    (hit,) = eng.query(_match(FRESH))["hits"]["hits"]
    assert hit["_id"] == replaced
    assert hit["_source"]["body"].endswith(f" spark {FRESH}")
    got = eng.mget([replaced, deleted])["docs"]
    assert got[0]["_source"] == hit["_source"]
    assert got[1] == {"_id": deleted, "found": False}
    assert eng.get(replaced) == got[0]
