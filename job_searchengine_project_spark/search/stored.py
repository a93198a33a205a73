"""Stored-field reads: the newest docstore row per url.

``newest_stored_rows`` is the driver-side keyed read every engine
uses for ES hit ``_source`` (reference README.md:19-38): the urls'
hash buckets only (hive partition pruning), then the url row groups
inside them. ``attach_stored_fields`` is the Spark-side form: given a
top-k hits DataFrame (doc_id, score, url) it filters the docstore to
the same buckets and urls before a broadcast join against the k rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from job_searchengine_project_spark.index.build import _term_bucket_py


def newest_stored_rows(stored, urls, n_buckets: int) -> dict[str, dict]:
    """url -> its stored row (``_gen`` dropped) for every url of
    ``urls`` that has one, read through ``stored`` (an
    ``iolayout.ParquetSnapshot`` of ``stored/`` by ``sbucket``). A
    replaced url has one row per version; the newest (max ``_gen``,
    the writing update's generation base) wins — ES ``_id`` overwrite
    semantics."""
    urls = sorted({u for u in urls if u})
    if not urls:
        return {}
    tbl = stored.read(
        key="url", values=urls, parts={_term_bucket_py(u, n_buckets) for u in urls}
    )
    best: dict[str, dict] = {}
    for row in tbl.to_pylist():
        prev = best.get(row["url"])
        if prev is None or (row.get("_gen") or 0) > (prev.get("_gen") or 0):
            best[row["url"]] = row
    for row in best.values():
        row.pop("_gen", None)
    return best


def attach_stored_fields(
    spark: SparkSession, index_dir: str, hits: DataFrame
) -> DataFrame:
    """hits (doc_id, score, url) -> same rows + stored columns.

    The hits input must be a final top-k (small); its urls are
    collected to drive partition/row-group pruning on the docstore.
    """
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if not stats.get("store_fields"):
        return hits
    n_buckets = int(stats.get("stored_buckets", 64))
    rows = hits.collect()
    if not rows:
        return hits
    urls = sorted({r["url"] for r in rows})
    buckets = sorted({_term_bucket_py(u, n_buckets) for u in urls})
    stored = (
        spark.read.parquet(os.path.join(index_dir, "stored"))
        .filter(F.col("sbucket").isin(buckets) & F.col("url").isin(urls))
        .drop("sbucket")
    )
    if "_gen" in stored.columns:
        # a REPLACED url has one stored row per version — serve the
        # newest (max generation base; ES `_id` overwrite semantics)
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(F.desc("_gen"))
        stored = (
            stored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_gen")
        )
    else:  # legacy docstore without generation stamps
        stored = stored.dropDuplicates(["url"])
    hits_df = spark.createDataFrame(rows, hits.schema)
    return (
        F.broadcast(hits_df)
        .join(stored, "url")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score", "url", *[c for c in stored.columns if c != "url"])
    )
