"""The one posting-encode pipeline: pack forward rows -> repartition
(term, salt) -> encode packed blobs.

Build, update and the doc-range shard derive all encode through
``_pack_forward_arrow`` -> ``_encode_packed_arrow``, positional or not.
These tests pin the pipeline against references computed from
exploded posting rows, pin the update salt formula, the sharded
layout's one-row-per-(term, shard) invariant, and the loud failure of
an oversized blob column.
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F


def _exact_head(fwd, target):
    """{term: n_salts} from the exact df (what _head_terms estimates)."""
    df = fwd.select(F.explode("terms").alias("t")).groupBy(
        F.col("t.term").alias("term")
    ).count()
    return {
        r["term"]: -(-r["count"] // target)
        for r in df.filter(F.col("count") > target).collect()
    }


def _salted_rows(fwd, head_map, n, base):
    """Exploded (term, doc_id, tf, doclen, pos, salt) rows, salted by
    the Spark expression the explode path used."""
    head = fwd.sparkSession.createDataFrame(
        sorted(head_map.items()), "term string, n_salts int"
    )
    with_pos = "pos" in fwd.schema["terms"].dataType.elementType.names
    postings = fwd.select("doc_id", "doclen", F.explode("terms").alias("t")).select(
        F.col("t.term").alias("term"), "doc_id", F.col("t.tf").alias("tf"),
        "doclen", *(["t.pos"] if with_pos else []),
    )
    rng = F.ceil(F.lit(n) / F.col("n_salts"))
    return (
        postings.join(F.broadcast(head), "term", "left")
        .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
        .withColumn(
            "salt",
            F.when(F.col("n_salts") == 1, F.lit(0)).otherwise(
                ((F.col("doc_id") - base) / rng).cast("int")
            ),
        )
        .drop("n_salts")
    )


def test_binary_from_fixed_rejects_offsets_past_int32():
    from job_searchengine_project_spark.index.build import _binary_from_fixed

    tiny = np.zeros(2, dtype=np.int64)
    # 2**28 int64 elements = 2 GiB of offsets: must raise before any
    # buffer is built (the values array is never read that far)
    with pytest.raises(ValueError, match="int32"):
        _binary_from_fixed(tiny, np.array([0, 1, 2**28], dtype=np.int64), 8)
    with pytest.raises(ValueError, match="int32"):
        _binary_from_fixed(tiny, np.array([0, 2**29], dtype=np.int64), 4)
    ok = _binary_from_fixed(tiny, np.array([0, 1, 2], dtype=np.int64), 8)
    assert [len(b) for b in ok.to_pylist()] == [8, 8]


def test_pack_forward_salts_with_base_match_update_expression(spark):
    """An update batch's salts: (doc_id - n_old) // ceil(m / n_salts)
    for head terms, the same as the Spark expression
    ((doc_id - n_old) / ceil(m / n_salts)).cast("int")."""
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import (
        _PACKED_SCHEMA_B,
        _pack_forward_arrow,
    )
    from job_searchengine_project_spark.index.prepare import prepare_docs

    n_old = 1037  # not a multiple of any salt range: a missing base shows
    pages = generate_webpages(spark, n_docs=400, vocab_size=150, seed=5)
    fwd = (
        prepare_docs(pages)
        .withColumn("doc_id", F.col("doc_id") + F.lit(n_old))
        .localCheckpoint()
    )
    m = fwd.count()
    head_map = _exact_head(fwd, 60)
    assert max(head_map.values()) > 2, "fixture must split head terms"

    want = {
        (r["term"], r["doc_id"], r["salt"])
        for r in _salted_rows(fwd, head_map, m, n_old).collect()
    }
    packed = (
        fwd.select("doc_id", "doclen", "terms")
        .mapInArrow(
            lambda it: _pack_forward_arrow(
                it, avgdl=40.0, n_docs=m, head_map=head_map,
                term_buckets=1, base=n_old,
            ),
            schema=_PACKED_SCHEMA_B,
        )
        .collect()
    )
    got = {
        (r["term"], int(d), r["salt"])
        for r in packed
        for d in np.frombuffer(r["docs_blob"], dtype=np.int64)
    }
    assert got == want
    assert len({s for _, _, s in got}) > 2


def test_packed_shuffle_partials_identical_positional(spark):
    """Positional sibling of test_packed_shuffle_partials_identical:
    pack forward rows -> (term, salt) shuffle -> _encode_packed_arrow
    emits, per (term, salt) group, exactly the partial row of
    codec.encode_postings(positions=...) over the group's exploded
    rows in doc order."""
    from job_searchengine_project_spark import BM25_B, BM25_K1
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index import codec
    from job_searchengine_project_spark.index.build import (
        _encode_packed,
        _pack_forward,
    )
    from job_searchengine_project_spark.index.prepare import prepare_docs

    pages = generate_webpages(spark, n_docs=300, vocab_size=200, seed=13)
    # several forward partitions: a (term, salt) group arrives at the
    # encoder as several packed rows, so its lexsort reorders postings
    fwd = prepare_docs(pages, with_positions=True).repartition(3).localCheckpoint()
    n = fwd.count()
    avgdl, bs = 37.5, 8  # small blocks: groups span several blocks
    head_map = _exact_head(fwd, 40)
    assert head_map, "fixture must split head terms"

    packed = _pack_forward(
        fwd, avgdl=avgdl, n_docs=n, head_map=head_map, term_buckets=4
    ).drop("term_bucket")
    new = _encode_packed(packed, bs).collect()

    groups: dict = {}
    for r in _salted_rows(fwd, head_map, n, 0).collect():
        groups.setdefault((r["term"], r["salt"]), []).append(r)
    ref = {}
    for key, rows in groups.items():
        rows.sort(key=lambda r: r["doc_id"])
        tfs = np.array([r["tf"] for r in rows], dtype=np.int64)
        dls = np.array([r["doclen"] for r in rows], dtype=np.float64)
        tfn = tfs / (tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * (dls / avgdl)))
        enc = codec.encode_postings(
            np.array([r["doc_id"] for r in rows], dtype=np.int64), tfs, tfn,
            block_size=bs,
            positions=np.concatenate([np.asarray(r["pos"]) for r in rows]),
        )
        ref[key] = (
            enc.count, enc.first_doc, enc.doc_blob, enc.tf_blob, enc.pos_blob,
            tuple(enc.block_n), tuple(enc.block_last_doc),
            tuple(enc.block_doc_bytes), tuple(enc.block_tf_bytes),
            tuple(enc.block_max_tfnorm), tuple(enc.block_pos_bytes), 1,
            len(enc.doc_blob) + len(enc.tf_blob) + len(enc.pos_blob),
        )
    got = {
        (r["term"], r["salt"]): (
            r["df"], r["first_doc"], bytes(r["doc_blob"]), bytes(r["tf_blob"]),
            bytes(r["pos_blob"]), tuple(r["block_n"]), tuple(r["block_last_doc"]),
            tuple(r["block_doc_bytes"]), tuple(r["block_tf_bytes"]),
            tuple(r["block_max_tfnorm"]), tuple(r["block_pos_bytes"]),
            r["n_parts"], r["bytes_written"],
        )
        for r in new
    }
    assert len(got) == len(new)
    assert got == ref
    assert sum(1 for _, s in got if s > 0) > 0


@pytest.mark.parametrize("with_positions", [False, True])
def test_sharded_layout_has_one_row_per_term_and_shard(spark, tmp_path, with_positions):
    """match_docs_sharded skips distinct() because every (term, shard)
    of shards/ is ONE row: pin it on an updated index whose head terms
    split into several salts at build time."""
    from job_searchengine_project_spark.corpus import EPOCH_S, generate_webpages
    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.index.sharded import build_sharded_segments
    from job_searchengine_project_spark.index.update import update_index

    out = str(tmp_path / "idx")
    pages = generate_webpages(spark, n_docs=260, vocab_size=150, seed=17)
    first = F.col("warc_ts").cast("long") - F.lit(EPOCH_S) < 200
    build_index(
        spark, pages.filter(first), out, target_postings_per_salt=20,
        term_buckets=4, with_positions=with_positions,
    )
    update_index(spark, pages.filter(~first), out, target_postings_per_salt=20)
    seg = pads.dataset(out + "/segments", format="parquet", partitioning="hive")
    assert pc.max(seg.to_table(columns=["n_parts"])["n_parts"]).as_py() > 1

    build_sharded_segments(spark, out, n_shards=3)
    tbl = pads.dataset(
        out + "/shards", format="parquet", partitioning="hive"
    ).to_table(columns=["shard", "term", "df"])
    keys = tbl.group_by(["shard", "term"]).aggregate([("df", "count")])
    assert keys.num_rows == tbl.num_rows
    assert len(set(tbl["shard"].to_pylist())) == 3
