"""Round-6 optimization equivalence gates.

Every optimization that changed an operator's internals is pinned
here against the form it replaced:

- grouped segment encoding must be BYTE-identical to per-group
  encoding (the segment files are a durable format);
- the vectorized Arrow tokenize kernel must emit exactly the pandas
  UDF's (terms, doclen) contract;
- the numpy left-fold dot/norm kernels must be BIT-identical to the
  interpreted expression forms (scores feed rounded oracles);
- the batched stored-field read must return what per-hit point reads
  returned.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_grouped_encoder_byte_identical_to_per_group():
    from job_searchengine_project_spark.index import codec

    rng = np.random.default_rng(7)
    for _ in range(10):
        n_groups = int(rng.integers(1, 30))
        sizes = rng.integers(1, 300, size=n_groups)
        starts = np.zeros(n_groups, dtype=np.int64)
        np.cumsum(sizes[:-1], out=starts[1:])
        ends = starts + sizes
        docs = np.concatenate(
            [np.sort(rng.choice(10**6, size=s, replace=False)) for s in sizes]
        ).astype(np.int64)
        tfs = rng.integers(1, 40, size=docs.size).astype(np.int64)
        tfn = rng.random(docs.size)
        bs = int(rng.choice([4, 32, 128]))
        grouped = codec.encode_postings_grouped(
            starts, ends, docs, tfs, tfn, block_size=bs
        )
        for g in range(n_groups):
            s, e = starts[g], ends[g]
            ref = codec.encode_postings(
                docs[s:e], tfs[s:e], tfn[s:e], block_size=bs
            )
            got = grouped[g]
            assert got.doc_blob == ref.doc_blob
            assert got.tf_blob == ref.tf_blob
            assert got.count == ref.count and got.first_doc == ref.first_doc
            for f in (
                "block_n", "block_last_doc", "block_doc_bytes",
                "block_tf_bytes", "block_max_tfnorm",
            ):
                assert np.array_equal(getattr(got, f), getattr(ref, f)), f
            d, t = codec.decode_postings(got)
            assert np.array_equal(d, docs[s:e]) and np.array_equal(t, tfs[s:e])


def test_arrow_tokenize_kernel_matches_pandas_udf(spark):
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.functions.tokenize import (
        make_term_freqs_udf,
        term_freqs_arrow_morph,
    )

    pages = generate_webpages(spark, n_docs=400, vocab_size=300, seed=11)
    extra = spark.createDataFrame(
        [
            ("u-ko", "한국어 테스트 spark SPARK spark/data  x 경우 ab"),
            ("u-empty", ""),
            ("u-short", "a b c"),
            ("u-stop", "경우 사항 이상"),
            # r6 RE2-split kernel: boundary separators, punctuation-only,
            # consecutive separators, mixed-script runs, digits/slashes
            ("u-bound", "  ,,spark!! data..  "),
            ("u-punct", "!!! ... ,,,"),
            ("u-mixed", "abc한글def 12/34 x9 ㄱ"),
            ("u-upper", "SPARK Data TABLE mixedCASE"),
        ],
        "url string, text string",
    )
    src = pages.select("url", "text").unionByName(extra)
    tf_udf = make_term_freqs_udf("morph")
    old = (
        src.select("url", tf_udf(F.col("text")).alias("terms"))
        .withColumn(
            "doclen",
            F.aggregate(F.col("terms"), F.lit(0), lambda a, x: a + x["tf"]),
        )
    )
    new = src.mapInArrow(
        term_freqs_arrow_morph,
        schema="url string, terms array<struct<term:string,tf:int>>, doclen int",
    )
    o = {r["url"]: (r["terms"], r["doclen"]) for r in old.collect()}
    n = {r["url"]: (r["terms"], r["doclen"]) for r in new.collect()}
    assert o == n


def test_fold_kernels_bit_identical_to_expressions(spark):
    from job_searchengine_project_spark.operators.similarity import (
        _bucket_array,
        _dot,
        _dot_udf,
        _norm,
        _norm_udf,
        _plane_signs,
        HI_PLANES,
        HI_TABLES,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    a = emb.select("vec_id", F.col("embedding").alias("va"))
    b = emb.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("embedding").alias("vb")
    )
    j = a.join(b, "vec_id")
    row = j.select(
        F.min(
            _dot(F.col("va"), F.col("vb")) == _dot_udf(F.col("va"), F.col("vb"))
        ).alias("dot_eq"),
        F.min(_norm(F.col("va")) == _norm_udf(F.col("va"))).alias("norm_eq"),
    ).collect()[0]
    assert row["dot_eq"] and row["norm_eq"]

    # bucket strings: kernel vs the interpreted literal-matrix form
    mat = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(s)) for s in _plane_signs(t, p)])
                    for p in range(HI_PLANES)
                ]
            )
            for t in range(HI_TABLES)
        ]
    )

    def _bit(plane):
        terms = F.zip_with(
            F.col("embedding"), plane, lambda x, s: x.cast("double") * s
        )
        return (
            (F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x) > 0)
            .cast("int")
            .cast("string")
        )

    old_buckets = F.transform(
        mat, lambda pa_: F.array_join(F.transform(pa_, _bit), "")
    )
    eq = emb.select(
        F.min(
            old_buckets == _bucket_array(F.col("embedding"), HI_PLANES, HI_TABLES)
        ).alias("eq")
    ).collect()[0]["eq"]
    assert eq


def test_fields_of_many_matches_fields_of(spark, tmp_path):
    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.search.engine import SearchEngine

    out = str(tmp_path / "idx")
    pages = generate_webpages(spark, n_docs=300, vocab_size=200, seed=3)
    build_index(spark, pages, out, analyzer="morph")
    eng = SearchEngine(out)
    doc_ids = [h.doc_id for h in eng.search(["spark", "data"], k=50)]
    assert doc_ids
    batched = eng.fields_of_many(doc_ids)
    for d in doc_ids:
        assert batched[d] == eng.fields_of(d)


def test_bm25_scored_counts_a_repeated_term_once(spark, tmp_path):
    from job_searchengine_project_spark.operators.fulltext import _bm25_scored

    spark.createDataFrame(
        [(0, "spark data table"), (1, "spark spark lake"), (2, "data pipe"),
         (3, "lake lake pipe")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def scores(terms):
        rows = _bm25_scored(spark, str(tmp_path), terms).collect()
        return sorted(tuple(r) for r in rows)

    want = scores(["data", "spark"])
    assert len(want) == 3
    assert scores(["spark", "data", "spark"]) == want


def test_packed_shuffle_partials_identical(spark):
    """The packed-blob encode path (pack map-side -> blob shuffle ->
    _encode_packed_arrow) must emit exactly the partial rows of the
    per-posting-row kernel — same (term, salt) groups, same encoded
    blobs, byte for byte."""
    from pyspark.sql import functions as F

    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import (
        _PACKED_SCHEMA,
        PARTIAL_SCHEMA,
        _encode_packed_arrow,
        _encode_partition_arrow,
        _pack_partition_arrow,
    )
    from job_searchengine_project_spark.index.prepare import prepare_docs

    pages = generate_webpages(spark, n_docs=500, vocab_size=400, seed=13)
    fwd = prepare_docs(pages)
    postings = (
        fwd.select("doc_id", "doclen", F.explode("terms").alias("t"))
        .select(
            F.col("t.term").alias("term"), "doc_id",
            F.col("t.tf").alias("tf"), "doclen",
        )
        # synthetic salts incl. multi-salt terms, like head-term splits
        .withColumn("salt", (F.col("doc_id") % 3).cast("int"))
    )
    avgdl, bs = 37.5, 32
    old = (
        postings.repartition(8, "term", "salt")
        .mapInArrow(
            lambda it: _encode_partition_arrow(it, avgdl=avgdl, block_size=bs),
            schema=PARTIAL_SCHEMA,
        )
        .collect()
    )
    new = (
        postings.mapInArrow(
            lambda it: _pack_partition_arrow(it, avgdl=avgdl),
            schema=_PACKED_SCHEMA,
        )
        .repartition(8, "term", "salt")
        .mapInArrow(
            lambda it: _encode_packed_arrow(it, block_size=bs),
            schema=PARTIAL_SCHEMA,
        )
        .collect()
    )

    def key(rows):
        return {
            (r["term"], r["salt"]): (
                r["df"], r["first_doc"], bytes(r["doc_blob"]),
                bytes(r["tf_blob"]), tuple(r["block_n"]),
                tuple(r["block_last_doc"]), tuple(r["block_doc_bytes"]),
                tuple(r["block_tf_bytes"]), tuple(r["block_max_tfnorm"]),
            )
            for r in rows
        }

    ko, kn = key(old), key(new)
    assert ko == kn and len(ko) == len(old) == len(new)


def test_pack_forward_matches_exploded_salted(spark):
    """_pack_forward_arrow (forward nested rows, in-kernel salt +
    term_bucket) must produce the same (term, salt) groups and blobs
    as exploding + broadcast-salting + _pack_partition_arrow, and its
    term_bucket must equal _term_bucket_py."""
    from pyspark.sql import functions as F

    from job_searchengine_project_spark.corpus import generate_webpages
    from job_searchengine_project_spark.index.build import (
        _PACKED_SCHEMA,
        _PACKED_SCHEMA_B,
        _pack_forward_arrow,
        _pack_partition_arrow,
        _term_bucket_py,
    )
    from job_searchengine_project_spark.index.prepare import prepare_docs

    pages = generate_webpages(spark, n_docs=600, vocab_size=150, seed=21)
    fwd = prepare_docs(pages).localCheckpoint()
    n_docs = fwd.count()
    avgdl = 40.0
    # small target so several head terms get real multi-salt splits
    target = 120
    df_true = (
        fwd.select(F.explode("terms").alias("t"))
        .groupBy(F.col("t.term").alias("term"))
        .agg(F.count("*").alias("df_est"))
    )
    head = df_true.filter(F.col("df_est") > target).select(
        "term",
        F.ceil(F.col("df_est") / target).cast("int").alias("n_salts"),
    )
    head_map = {r["term"]: int(r["n_salts"]) for r in head.collect()}
    assert head_map, "fixture must exercise multi-salt head terms"

    postings = fwd.select("doc_id", "doclen", F.explode("terms").alias("t")).select(
        F.col("t.term").alias("term"), "doc_id",
        F.col("t.tf").alias("tf"), "doclen",
    )
    rps = F.ceil(F.lit(n_docs) / F.col("n_salts"))
    salted = (
        postings.join(F.broadcast(head), "term", "left")
        .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
        .withColumn(
            "salt",
            F.when(F.col("n_salts") == 1, F.lit(0)).otherwise(
                (F.col("doc_id") / rps).cast("int")
            ),
        )
        .drop("n_salts")
    )
    # single partition each so both forms group over the same row sets
    old = (
        salted.coalesce(1)
        .mapInArrow(
            lambda it: _pack_partition_arrow(it, avgdl=avgdl),
            schema=_PACKED_SCHEMA,
        )
        .collect()
    )
    new = (
        fwd.select("doc_id", "doclen", "terms")
        .coalesce(1)
        .mapInArrow(
            lambda it: _pack_forward_arrow(
                it, avgdl=avgdl, n_docs=n_docs, head_map=head_map,
                term_buckets=8,
            ),
            schema=_PACKED_SCHEMA_B,
        )
        .collect()
    )

    def key(rows):
        out = {}
        for r in rows:
            k = (r["term"], r["salt"])
            v = (bytes(r["docs_blob"]), bytes(r["tfs_blob"]), bytes(r["tfn_blob"]))
            assert k not in out or out[k] == v
            out.setdefault(k, []).append(v)
        return out

    def merge(rows):
        # groups may split across Arrow batches: concat per (term, salt)
        out = {}
        for r in sorted(rows, key=lambda r: bytes(r["docs_blob"])[:8]):
            k = (r["term"], r["salt"])
            d, t, n = out.get(k, (b"", b"", b""))
            out[k] = (d + bytes(r["docs_blob"]), t + bytes(r["tfs_blob"]),
                      n + bytes(r["tfn_blob"]))
        return out

    assert merge(old) == merge(new)
    for r in new:
        assert r["term_bucket"] == _term_bucket_py(r["term"], 8)
