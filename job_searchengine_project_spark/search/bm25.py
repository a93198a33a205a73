"""BM25 scoring math + the brute-force DataFrame oracle.

Scoring reproduces ES 8.x / Lucene default similarity (the reference
indexes into ES 8.4.2 — docs/warehouse_integration_test.md:28 — with
k1=1.2, b=0.75):

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfnorm(t,d) = tf / (tf + k1 * (1 - b + b * |d| / avgdl))
    score(q,d)  = sum over matched query terms of idf * tfnorm

(Deliberate documented deviation from Lucene: |d| is exact, not
Lucene's lossy 1-byte norm encoding.)

Multi-term queries use ES ``match`` OR semantics (README.md:67-71):
a doc matches if it contains any query term; scores sum over matched
terms. Tie-break is ascending doc_id — a total order, applied
identically in the query engine.

The oracle is pure built-in Spark (explode / filter / broadcast join /
sorted aggregate / orderBy-limit) — it IS the rank-parity gate for the
compressed-segment query path. Float determinism: per-doc term partial
scores are summed in sorted-term order via ``F.aggregate`` over a
``sort_array``'d collect_list, so oracle and engine add in the same
order and scores compare exactly (1e-9 gate in tests).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_searchengine_project_spark import BM25_B, BM25_K1


def idf(n_docs: int, df: "int | np.ndarray"):
    """Lucene BM25 idf; works on scalars and numpy arrays."""
    return np.log1p((n_docs - df + 0.5) / (df + 0.5))


def tfnorm(tf, doclen, avgdl: float, k1: float = BM25_K1, b: float = BM25_B):
    return tf / (tf + k1 * (1.0 - b + b * (doclen / avgdl)))


def score_py(tf: int, df: int, doclen: int, n_docs: int, avgdl: float) -> float:
    """Scalar reference scorer (hand-check tests)."""
    return float(
        math.log1p((n_docs - df + 0.5) / (df + 0.5))
        * (tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * doclen / avgdl)))
    )


def corpus_stats(docs: DataFrame) -> tuple[int, float]:
    """(N, avgdl) from a prepared-docs DataFrame — one tiny agg."""
    row = docs.agg(
        F.count("*").alias("n"), F.avg("doclen").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"])


def explode_postings(docs: DataFrame) -> DataFrame:
    """prepared docs -> (term, doc_id, tf, doclen) posting rows."""
    return docs.select(
        "doc_id", "doclen", F.explode("terms").alias("t")
    ).select("doc_id", "doclen", F.col("t.term").alias("term"), F.col("t.tf").alias("tf"))


def bm25_topk_oracle(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """Brute-force BM25 top-k: (doc_id, url, score), rank-ordered.

    df(t) is computed over the full corpus (identical to what the
    segment build persists). The per-term df table is tiny (<= |q|
    rows) and broadcast; the only wide shuffle is the final per-doc
    aggregation over matched rows, which Catalyst partial-aggregates
    map-side.
    """
    if n_docs is None or avgdl is None:
        n_docs, avgdl = corpus_stats(docs)
    qt = sorted(set(query_terms))
    postings = explode_postings(docs).filter(F.col("term").isin(qt))
    df_t = postings.groupBy("term").agg(F.count("*").alias("df"))
    idf_col = F.log1p(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    partial = (
        postings.join(F.broadcast(df_t), "term")
        .withColumn(
            "part",
            idf_col
            * (
                F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * (F.col("doclen") / F.lit(avgdl))
                    )
                )
            ),
        )
    )
    scored = (
        partial.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "part"))).alias("parts"))
        .withColumn(
            "score",
            F.aggregate(
                "parts", F.lit(0.0), lambda acc, x: acc + x["part"]
            ),
        )
        .select("doc_id", "score")
    )
    urls = docs.select("doc_id", "url")
    return (
        scored.join(urls, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "url", "score")
    )
