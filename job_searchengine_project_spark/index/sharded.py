"""Doc-range-sharded segment layout + fully distributed WAND.

The term-merged layout (index/build.py) is the compact archival
index; at 10^12 documents a single term's posting list no longer fits
one node, and query fan-out wants *document* parallelism. This module
derives the query-sharded layout from a built index:

- every term's postings split by the SAME doc ranges
  (shard = doc_id // ceil(N / n_shards)) — exactly the build's
  doc-range salting applied to all terms, so the encode kernel is
  reused verbatim and there is NO merge stage at all;
- shards are hive partitions (`shard=K/`), each holding all terms of
  its doc range — a shard is a self-contained mini-index;
- each shard's BM25 norms (doc_id -> doclen) are persisted BESIDE the
  shard at build time (`shard_norms/shard=K/`); the query kernel loads
  only its own shard's norms executor-side. Nothing about the forward
  index is ever collected to the driver or broadcast.
- query: the pushed-down term rows are repartitioned BY SHARD so every
  shard's rows are colocated in one task (a parquet scan alone does
  not guarantee this — Spark splits files larger than
  spark.sql.files.maxPartitionBytes across input partitions, and WAND
  over a subset of a shard's terms would emit partial per-doc scores
  that the global top-k merge would NOT sum). Block-max WAND then runs
  inside each shard, per-shard top-k rows come back, and the global
  answer is orderBy(score,doc_id).limit(k) — top-k is associative,
  and a doc lives in exactly one shard so scores never split.

Global idf uses the per-term df summed across shards (one tiny agg).

Rank/score parity with the driver-side engine and the DataFrame
oracle is exact (same float64 math, same sorted-term summation, same
tie-break) — tested, including under a pathologically small
files.maxPartitionBytes that forces multi-split shard scans.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from job_searchengine_project_spark.index.build import (
    PARTIAL_SCHEMA,
    PARTIAL_SCHEMA_POS,
    _encode_partition,
)

SHARDS_META = "shards_meta.json"
NORMS_DIR = "shard_norms"
SHARD_DV_DIR = "shard_docvalues"
_EMPTY_DEL = np.empty(0, dtype=np.int64)


def build_sharded_segments(
    spark: SparkSession, index_dir: str, n_shards: int = 32
) -> str:
    """Derive the doc-range-sharded layout from a built index dir.

    Writes ``shards/shard=K/`` (compressed per-shard segments),
    ``shard_norms/shard=K/`` (that shard's doc_id -> doclen rows) and
    ``shards_meta.json`` (n_shards + doc range width) under
    ``index_dir``.
    """
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    block_size = int(stats["block_size"])
    rng = max(1, -(-n_docs // n_shards))  # ceil

    fwd = spark.read.parquet(os.path.join(index_dir, "forward"))
    term_fields = [f.name for f in fwd.schema["terms"].dataType.elementType.fields]
    postings = fwd.select(
        "doc_id", "doclen", F.explode("terms").alias("t")
    ).select(
        F.col("t.term").alias("term"),
        "doc_id",
        F.col("t.tf").alias("tf"),
        "doclen",
        *([F.col("t.pos").alias("pos")] if "pos" in term_fields else []),
        (F.col("doc_id") / F.lit(rng)).cast("int").alias("salt"),  # = shard
    )
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if "pos" in term_fields:
        shards = postings.repartition(shuffle_n, "term", "salt").mapInPandas(
            lambda it: _encode_partition(it, avgdl=avgdl, block_size=block_size),
            schema=PARTIAL_SCHEMA_POS,
        ).withColumnRenamed("salt", "shard")
    else:
        # packed-blob derivation straight off the forward table (r6,
        # same kernels as the base build): no explode, no per-posting
        # Arrow conversion; the derive exchange moves per-(term, shard)
        # binary blobs, not a row per posting
        from job_searchengine_project_spark.index.build import (
            _PACKED_SCHEMA_B,
            _encode_packed_arrow,
            _pack_forward_arrow,
        )

        par = max(1, spark.sparkContext.defaultParallelism)
        packed = fwd.select("doc_id", "doclen", "terms").coalesce(par).mapInArrow(
            lambda it: _pack_forward_arrow(
                it, avgdl=avgdl, n_docs=n_docs, head_map={},
                term_buckets=1, shard_rng=rng,
            ),
            schema=_PACKED_SCHEMA_B,
        ).drop("term_bucket")
        shards = (
            packed.repartition(shuffle_n, "term", "salt")
            .mapInArrow(
                lambda it: _encode_packed_arrow(it, block_size=block_size),
                schema=PARTIAL_SCHEMA,
            )
            .withColumnRenamed("salt", "shard")
        )
    out = os.path.join(index_dir, "shards")
    (
        shards.repartition("shard")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    # per-shard norms: each shard's (doc_id, doclen) rows live beside its
    # segment files; the query kernel reads only its own shard's file.
    (
        fwd.select(
            "doc_id",
            "doclen",
            (F.col("doc_id") / F.lit(rng)).cast("int").alias("shard"),
        )
        .repartition("shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(index_dir, NORMS_DIR))
    )
    # shard-partitioned doc-values: each shard's slice of every sidecar
    # column lives beside its segments (`shard_docvalues/<col>/shard=K/`,
    # VALUE-sorted within the shard so a range/term filter is still a
    # row-group-pruned read). The query kernels evaluate filters against
    # their OWN slice — no doc-id set is ever built on or broadcast from
    # the driver, so a filter matching half the corpus costs each shard
    # only its own doc range (the ES per-shard filter-context shape,
    # schema/es/es.sh:13-14).
    write_shard_doc_values(
        spark, index_dir, stats.get("doc_values") or [], rng
    )
    with open(os.path.join(index_dir, SHARDS_META), "w") as f:
        # the fingerprint binds the derived layout to the index state
        # it was built from: after an update or purging compaction the
        # sharded readers REFUSE stale postings/doc-values slices
        # (shards_fresh), mirroring termdict_fresh/variants_fresh.
        # Deletes don't invalidate — tombstones filter at query time.
        json.dump(
            {
                "n_shards": n_shards,
                "rng": rng,
                "n_docs": n_docs,
                "fingerprint": str(stats.get("fingerprint", "")),
            },
            f,
        )
    return out


def write_shard_doc_values(
    spark: SparkSession, root_dir: str, cols: list[str], rng: int
) -> None:
    """Shard-partition each doc-values sidecar of ``root_dir`` (a
    single index OR a fielded top level — doc ids are shared) into
    ``shard_docvalues/<col>/shard=K/``, value-sorted per shard."""
    for col in cols:
        dv = spark.read.parquet(os.path.join(root_dir, "docvalues", col))
        (
            dv.withColumn(
                "shard", (F.col("doc_id") / F.lit(rng)).cast("int")
            )
            .repartition("shard")
            .sortWithinPartitions(col)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(os.path.join(root_dir, SHARD_DV_DIR, col))
        )


def _strip_delete_marks(fp: str) -> str:
    """Drop ``+delete<n>`` segments from a stats fingerprint: deletes
    only append tombstones (queries filter them live), so they do NOT
    stale a derived sharded layout — updates and purges do."""
    import re

    return re.sub(r"\+delete\d+", "", fp or "")


def shards_fresh(index_dir: str) -> bool:
    """True when the sharded layout exists and was derived from the
    CURRENT index state (modulo pure deletes — see _strip_delete_marks).
    Derived layouts written before fingerprints existed read as stale;
    gate rebuilds on THIS, never on directory existence."""
    meta_path = os.path.join(index_dir, SHARDS_META)
    if not os.path.exists(meta_path):
        return False
    with open(meta_path) as f:
        meta = json.load(f)
    if "fingerprint" not in meta:
        return False
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    return _strip_delete_marks(meta["fingerprint"]) == _strip_delete_marks(
        str(stats.get("fingerprint", ""))
    )


def _load_meta(index_dir: str, stats: dict) -> dict:
    """Read shards_meta.json, refusing a layout whose fingerprint no
    longer matches the live stats (stale after update/compaction)."""
    with open(os.path.join(index_dir, SHARDS_META)) as f:
        meta = json.load(f)
    if _strip_delete_marks(meta.get("fingerprint")) != _strip_delete_marks(
        str(stats.get("fingerprint", ""))
    ):
        raise ValueError(
            "sharded layout is stale (index updated/compacted since "
            "build_sharded_segments); rebuild it — "
            f"meta fp {meta.get('fingerprint')!r} vs stats fp "
            f"{stats.get('fingerprint')!r}"
        )
    return meta


def _clamp_k(k: int, n_docs: int) -> int:
    """Top-k can never exceed the corpus. Callers pass huge k to mean
    "all matches", but Spark's TakeOrdered allocates O(k) buffers PER
    TASK — an uncapped k=10^9 over 8 shuffle tasks is an instant heap
    OOM. Clamping to n_docs is semantically identical and keeps the
    per-task buffer bounded by the corpus, not the caller's
    sentinel."""
    return max(1, min(int(k), int(n_docs)))


def _shard_tombstones(index_dir: str, shard: int, rng: int) -> np.ndarray:
    """Executor-side: THIS shard's tombstone slice (sorted int64),
    read with the shard's doc range pushed into the parquet scan —
    the global set is never built on or broadcast from the driver
    (memoized per process, see tombstone.load_tombstones_range)."""
    from job_searchengine_project_spark.index.tombstone import (
        load_tombstones_range,
    )

    lo = int(shard) * int(rng)
    return load_tombstones_range(index_dir, lo, lo + int(rng))


def _shard_dv_docs(
    index_dir: str, shard: int, spec: dict, dele: np.ndarray
) -> set[int]:
    """Executor-side doc-values filter against ONE shard's slice:
    reads only `shard_docvalues/<col>/shard=K/` with the bounds pushed
    into parquet row-group statistics (the slice is value-sorted).
    Returns the shard-local live doc-id hit set — never more than the
    shard's own doc range."""
    import pyarrow.dataset as pads

    from job_searchengine_project_spark.search.engine import dv_filter_expr

    spec = dict(spec)
    col = spec.pop("col")
    part = os.path.join(index_dir, SHARD_DV_DIR, col, f"shard={shard}")
    if not os.path.isdir(part):  # shard holds no rows of this column
        return set()
    expr = dv_filter_expr(col, **spec)
    ids = (
        pads.dataset(part)
        .to_table(columns=["doc_id"], filter=expr)
        .column("doc_id")
        .to_numpy()
    )
    if dele.size and ids.size:
        ids = ids[~np.isin(ids, dele)]
    return set(ids.tolist())


class _ShardNorms:
    """Absolute-doc_id view over a shard-local doclen array.

    ``wand_topk`` indexes norms by global doc_id; a shard only stores
    its own range [lo, lo+len) so this shifts on access."""

    __slots__ = ("arr", "lo")

    def __init__(self, arr: np.ndarray, lo: int):
        self.arr = arr
        self.lo = lo

    def __getitem__(self, doc_id):
        return self.arr[doc_id - self.lo]


def _load_shard_norms(norms_root: str, shard: int, rng: int, n_docs: int) -> _ShardNorms:
    """Executor-side: read ONE shard's norms parquet into a dense local
    array (size = that shard's doc range, never n_docs)."""
    import pyarrow.dataset as pads

    lo = shard * rng
    hi = min(lo + rng, n_docs)
    tbl = pads.dataset(os.path.join(norms_root, f"shard={shard}")).to_table(
        columns=["doc_id", "doclen"]
    )
    arr = np.zeros(max(hi - lo, 1), dtype=np.float64)
    d = tbl.column("doc_id").to_numpy()
    arr[d - lo] = tbl.column("doclen").to_numpy().astype(np.float64)
    return _ShardNorms(arr, lo)


def _attach_urls_pruned(spark: SparkSession, index_dir: str, top: DataFrame) -> DataFrame:
    """Attach hit urls with a doc_id-keyed forward read — never a full
    forward scan. The input must be a final top-k (tiny: it IS the
    query result, and it is already collect()ed here by contract), so
    the url fetch is the DRIVER-SIDE keyed read ``fetch_urls_map``
    instead of a whole extra Spark job (scan + broadcast join) whose
    input the driver was holding anyway. (r6: one fewer Spark job on
    every ranked sharded query.)"""
    from pyspark.sql.types import StringType, StructField, StructType

    rows = top.collect()
    if not rows:
        return top.withColumn("url", F.lit(None).cast("string"))
    url_of = fetch_urls_map(index_dir, [int(r["doc_id"]) for r in rows])
    out_rows = [
        (*r, url_of[int(r["doc_id"])]) for r in rows if int(r["doc_id"]) in url_of
    ]
    schema = StructType(top.schema.fields + [StructField("url", StringType())])
    from job_searchengine_project_spark.iolayout import local_df

    return local_df(spark, out_rows, schema)


def fetch_urls_map(index_dir: str, doc_ids: list[int]) -> dict[int, str]:
    """Driver-side doc_id-keyed read of hit urls
    (``iolayout.ParquetSnapshot`` over ``forward/``, listed per call so
    a sharded query sees the latest update) — shared by every caller
    that already holds the hit ids on the driver. ``index_dir`` must
    be a driver-local path (see ``ParquetSnapshot``)."""
    from job_searchengine_project_spark.iolayout import ParquetSnapshot

    if not doc_ids:
        return {}
    t = ParquetSnapshot(os.path.join(index_dir, "forward")).read(
        ["doc_id", "url"], key="doc_id", values={int(d) for d in doc_ids}
    )
    return dict(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))


def search_sharded_match_total(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int,
    strategy: str = "auto",
) -> tuple[list[tuple[int, float, str]], int]:
    """Fused match page + EXACT total in ONE Spark job (r6).

    query_sharded's plain-match path used to run the ranked kernel for
    the page and then a second full kernel pass (match_docs_sharded ->
    count) for the exact total — two corpus-scale jobs for one
    request. Here each shard kernel emits its top-k rows AND one
    sentinel row (doc_id = -1) carrying the shard's live match count
    (distinct union of the terms' postings minus the shard's tombstone
    slice — exactly match_docs_sharded's per-shard contribution; docs
    live in one shard, so the counts sum). The driver merges the
    per-shard top-k lists with the same (score DESC, doc_id ASC)
    float order Spark's TakeOrdered used, sums the sentinels, and
    attaches urls with the pyarrow point read. Returned hits and
    total are value-identical to the two-job form."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs = int(stats["n_docs"])
    n_eff = n_docs - int(stats.get("n_purged", 0))
    k = _clamp_k(k, n_docs)
    avgdl = float(stats["avgdl"])
    k1, b = float(stats["k1"]), float(stats["b"])
    meta = _load_meta(index_dir, stats)
    rng = int(meta["rng"])
    norms_root = os.path.join(index_dir, NORMS_DIR)

    terms = sorted(set(query_terms))
    df_map = _global_df_map(index_dir, terms)
    if not df_map:
        return [], 0
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(terms))
    )
    bc_df = spark.sparkContext.broadcast(df_map)

    def shard_topk_count(batches):
        from job_searchengine_project_spark.index import codec
        from job_searchengine_project_spark.search.engine import (
            SearchEngine,
            exhaustive_topk_arrays,
        )
        from job_searchengine_project_spark.search.wand import TermCursor, wand_topk

        parts = list(batches)
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True)
        if pdf_all.empty:
            return
        dfm = bc_df.value

        def idf_of(t):
            return float(np.log1p((n_eff - dfm[t] + 0.5) / (dfm[t] + 0.5)))

        for shard_val, grp in pdf_all.groupby("shard", sort=False):
            norms = _load_shard_norms(norms_root, int(shard_val), rng, n_docs)
            dele = _shard_tombstones(index_dir, int(shard_val), rng)
            encs = {str(r.term): _enc_from_row(r) for r in grp.itertuples()}
            term_arrays = {t: codec.decode_postings(e) for t, e in encs.items()}
            all_docs = np.unique(
                np.concatenate([d for d, _ in term_arrays.values()])
            )
            matched = int(
                all_docs.size
                if dele.size == 0
                else np.isin(all_docs, dele, invert=True).sum()
            )
            strat = strategy
            if strat == "auto":
                total_p = sum(e.count for e in encs.values())
                strat = (
                    "exhaustive"
                    if total_p > SearchEngine.DENSE_POSTINGS_CUTOFF
                    else "wand"
                )
            if strat == "wand":
                cursors = [
                    TermCursor(term=t, enc=e, idf=idf_of(t))
                    for t, e in encs.items()
                ]
                hits = wand_topk(
                    cursors, norms, avgdl, k, k1=k1, b=b, deleted=dele
                )
            else:
                hits = exhaustive_topk_arrays(
                    term_arrays,
                    idf_of=idf_of,
                    dl_of=lambda docs: norms.arr[docs - norms.lo],
                    avgdl=avgdl,
                    k=k,
                    k1=k1,
                    b=b,
                    deleted=dele,
                )
            rows_d = [-1] + [int(d) for d, _ in hits]
            rows_s = [0.0] + [float(s) for _, s in hits]
            rows_m = [matched] + [0] * len(hits)
            yield pd.DataFrame(
                {"doc_id": rows_d, "score": rows_s, "matched": rows_m}
            )

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = (
        seg.repartition(shuffle_n, "shard")
        .mapInPandas(
            shard_topk_count, schema="doc_id long, score double, matched long"
        )
        .collect()
    )
    total = sum(int(r["matched"]) for r in rows if r["doc_id"] < 0)
    hits = sorted(
        ((int(r["doc_id"]), float(r["score"])) for r in rows if r["doc_id"] >= 0),
        key=lambda t: (-t[1], t[0]),
    )[:k]
    urls = fetch_urls_map(index_dir, [d for d, _ in hits])
    return [(d, s, urls.get(d)) for d, s in hits], total


def _global_df_map(index_dir: str, terms: list[str]) -> dict[str, int]:
    """Global df per query term: sum of the per-(shard, term) df rows,
    read DRIVER-SIDE via a term-filter-pushed pyarrow scan of the
    shards table's (term, df) columns. The result is <= |q| x n_shards
    rows; running it as a Spark groupBy+collect paid one extra
    job-scheduling round-trip on EVERY sharded query for an aggregate
    the driver can do in microseconds. Values are identical (integer
    sum over the same filtered rows). (r6: one fewer Spark job per
    sharded query.)"""
    tbl = pads.dataset(os.path.join(index_dir, "shards")).to_table(
        columns=["term", "df"], filter=pads.field("term").isin(terms)
    )
    out: dict[str, int] = {}
    for t, d in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
        out[t] = out.get(t, 0) + int(d)
    return out


def _enc_from_row(r) -> "codec.EncodedPostings":
    from job_searchengine_project_spark.index import codec

    return codec.EncodedPostings(
        count=int(r.df),
        first_doc=int(r.first_doc),
        doc_blob=bytes(r.doc_blob),
        tf_blob=bytes(r.tf_blob),
        block_n=np.asarray(r.block_n, dtype=np.int32),
        block_last_doc=np.asarray(r.block_last_doc, dtype=np.int64),
        block_doc_bytes=np.asarray(r.block_doc_bytes, dtype=np.int32),
        block_tf_bytes=np.asarray(r.block_tf_bytes, dtype=np.int32),
        block_max_tfnorm=np.asarray(r.block_max_tfnorm, dtype=np.float64),
        pos_blob=bytes(getattr(r, "pos_blob", b"") or b""),
        block_pos_bytes=(
            np.asarray(r.block_pos_bytes, dtype=np.int32)
            if getattr(r, "block_pos_bytes", None) is not None
            and len(r.block_pos_bytes)
            else None
        ),
    )


def search_sharded_phrase(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Distributed ES ``match_phrase`` over a positional sharded layout.

    Same contract as ``SearchEngine.search_phrase`` (ordered analyzed
    terms at consecutive positions; matches scored by distinct-term
    BM25 sum with GLOBAL idf) — a doc lives in exactly one shard, so
    phrase verification and scoring are shard-local and the global
    top-k merge is associative. Parity with the driver engine is
    tested.

    ``slop`` > 0 applies the driver engine's ordered-window contract
    (terms in order, window <= phrase length + slop) — the
    conjunctive candidate prefilter and the greedy chain test both
    run shard-local on shard-local position slices."""
    from job_searchengine_project_spark.functions.tokenize import (
        tokenize_2gram_py,
        tokenize_morph_py,
    )

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs = int(stats["n_docs"])
    n_eff = n_docs - int(stats.get("n_purged", 0))  # idf N (tombstone.py)
    k = _clamp_k(k, n_docs)
    avgdl = float(stats["avgdl"])
    k1, b = float(stats["k1"]), float(stats["b"])
    meta = _load_meta(index_dir, stats)
    rng = int(meta["rng"])
    norms_root = os.path.join(index_dir, NORMS_DIR)

    analyzer = stats.get("analyzer", "morph")
    seq = (
        tokenize_2gram_py(query)
        if analyzer == "2gram"
        else tokenize_morph_py(query, dedup=False)
    )
    empty = spark.createDataFrame([], "doc_id long, score double, url string")
    if not seq:
        return empty
    uniq = sorted(set(seq))
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(uniq))
    )
    df_map = _global_df_map(index_dir, uniq)
    if any(t not in df_map for t in uniq):
        return empty  # a globally-missing term can never form the phrase
    bc_df = spark.sparkContext.broadcast(df_map)

    def shard_phrase(batches):
        from job_searchengine_project_spark.index import codec

        parts = list(batches)
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True)
        if pdf_all.empty:
            return
        dfm = bc_df.value
        for shard_val, grp in pdf_all.groupby("shard", sort=False):
            by_term = {str(r.term): r for r in grp.itertuples()}
            if any(t not in by_term for t in uniq):
                continue  # phrase cannot occur in this shard
            decoded = {}
            max_pos = 0
            for t in uniq:
                enc = _enc_from_row(by_term[t])
                if not enc.has_positions:
                    raise ValueError("sharded phrase requires a positional index")
                docs, tfs = codec.decode_postings(enc)
                pos = codec.decode_positions(enc, tfs)
                if pos.size:
                    max_pos = max(max_pos, int(pos.max()))
                decoded[t] = (docs, tfs, pos)
            if slop == 0:
                M = max_pos + len(seq) + 2
                # same int64 key-space guard as the driver engine
                # (search/engine.py search_phrase): composite doc*M+pos
                # keys must not wrap at extreme doc_id x position scale
                shard_max_doc = max(
                    (int(d[0].max()) for d in decoded.values() if d[0].size),
                    default=0,
                )
                if M * (shard_max_doc + 1) >= (1 << 62):
                    raise OverflowError("phrase key space exceeds int64")
                survivors = None
                for i, t in enumerate(seq):
                    docs, tfs, pos = decoded[t]
                    keys = np.repeat(docs, tfs) * M + (pos - i)
                    survivors = keys if survivors is None else np.intersect1d(survivors, keys)
                    if survivors.size == 0:
                        break
                if survivors is None or survivors.size == 0:
                    continue
                match_docs = np.unique(survivors // M)
            else:
                # sloppy path, shard-local: conjunctive candidate
                # prefilter then the driver engine's ordered-window
                # chain test on this shard's position slices
                from job_searchengine_project_spark.search.engine import (
                    SearchEngine,
                )

                cand = None
                for t in uniq:
                    cand = (
                        decoded[t][0]
                        if cand is None
                        else np.intersect1d(cand, decoded[t][0])
                    )
                    if cand.size == 0:
                        break
                if cand is None or cand.size == 0:
                    continue
                starts_of = {
                    t: np.concatenate(([0], np.cumsum(decoded[t][1])))
                    for t in uniq
                }
                matched = []
                for d in cand.tolist():
                    pls = []
                    for t in seq:
                        docs, _tfs, pos = decoded[t]
                        j = int(np.searchsorted(docs, d))
                        st = starts_of[t]
                        pls.append(pos[st[j] : st[j + 1]])
                    if SearchEngine._slop_chain(pls, slop):
                        matched.append(d)
                if not matched:
                    continue
                match_docs = np.asarray(matched, dtype=np.int64)
            dele = _shard_tombstones(index_dir, int(shard_val), rng)
            if dele.size:
                match_docs = match_docs[~np.isin(match_docs, dele)]
                if match_docs.size == 0:
                    continue
            norms = _load_shard_norms(norms_root, int(shard_val), rng, n_docs)
            acc = {int(d): 0.0 for d in match_docs.tolist()}
            for t in uniq:  # sorted-term summation order == driver engine
                docs, tfs, _ = decoded[t]
                sel = np.isin(docs, match_docs)
                if not sel.any():
                    continue
                d_sel, tf_sel = docs[sel], tfs[sel].astype(np.float64)
                idf = float(np.log1p((n_eff - dfm[t] + 0.5) / (dfm[t] + 0.5)))
                dls = norms.arr[d_sel - norms.lo]
                scores = idf * (tf_sel / (tf_sel + k1 * (1.0 - b + b * dls / avgdl)))
                for d, s in zip(d_sel.tolist(), scores.tolist()):
                    acc[d] += s
            if acc:
                top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
                yield pd.DataFrame(
                    {"doc_id": [d for d, _ in top], "score": [s for _, s in top]}
                )

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    partials = seg.repartition(shuffle_n, "shard").mapInPandas(
        shard_phrase, schema="doc_id long, score double"
    )
    top = partials.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return (
        _attach_urls_pruned(spark, index_dir, top)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score", "url")
    )


def phrase_prefix_docs_sharded(
    spark: SparkSession,
    index_dir: str,
    query: str,
    max_expansions: int = 50,
) -> DataFrame:
    """Distributed ES ``match_phrase_prefix`` hit set: the prefix
    expands through the PERSISTED sorted term dictionary on the
    driver (O(query), never vocabulary-sized), and each shard kernel
    position-verifies "fixed terms in sequence, any expansion at the
    last position" over its own positional slices — the same
    (doc, start) composite-key intersection as the phrase kernel,
    with the last step an any-of union. Returns a doc_id DataFrame
    (constant_score family — same contract as the driver engine's
    search_phrase_prefix)."""
    from job_searchengine_project_spark.functions.tokenize import (
        tokenize_2gram_py,
        tokenize_morph_py,
    )
    from job_searchengine_project_spark.index.termdict import prefix_terms

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs = int(stats["n_docs"])
    meta = _load_meta(index_dir, stats)
    rng = int(meta["rng"])
    analyzer = stats.get("analyzer", "morph")
    seq = (
        tokenize_2gram_py(query)
        if analyzer == "2gram"
        else tokenize_morph_py(query, dedup=False)
    )
    empty = spark.createDataFrame([], "doc_id long")
    if not seq:
        return empty
    expansions = prefix_terms(index_dir, seq[-1])[:max_expansions]
    if not expansions:
        return empty
    if len(seq) == 1:
        return match_docs_sharded(spark, index_dir, expansions)
    fixed = seq[:-1]
    uniq_fixed = sorted(set(fixed))
    all_terms = sorted(set(uniq_fixed) | set(expansions))
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(all_terms))
    )
    i_last = len(seq) - 1

    def shard_pp(batches):
        from job_searchengine_project_spark.index import codec

        parts = list(batches)
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True)
        if pdf_all.empty:
            return
        for shard_val, grp in pdf_all.groupby("shard", sort=False):
            by_term = {str(r.term): r for r in grp.itertuples()}
            if any(t not in by_term for t in uniq_fixed):
                continue
            if not any(t in by_term for t in expansions):
                continue
            decoded = {}
            max_pos = 0
            max_doc = 0
            for t, r in by_term.items():
                enc = _enc_from_row(r)
                if not enc.has_positions:
                    raise ValueError(
                        "sharded phrase_prefix requires a positional index"
                    )
                docs, tfs = codec.decode_postings(enc)
                pos = codec.decode_positions(enc, tfs)
                if pos.size:
                    max_pos = max(max_pos, int(pos.max()))
                if docs.size:
                    max_doc = max(max_doc, int(docs.max()))
                decoded[t] = (docs, tfs, pos)
            M = max_pos + len(seq) + 2
            if M * (max_doc + 1) >= (1 << 62):
                raise OverflowError("phrase key space exceeds int64")
            survivors = None
            for i, t in enumerate(fixed):
                docs, tfs, pos = decoded[t]
                keys = np.repeat(docs, tfs) * M + (pos - i)
                survivors = (
                    keys
                    if survivors is None
                    else np.intersect1d(survivors, keys)
                )
                if survivors.size == 0:
                    break
            if survivors is None or survivors.size == 0:
                continue
            exp_keys = np.concatenate(
                [
                    np.repeat(decoded[t][0], decoded[t][1]) * M
                    + (decoded[t][2] - i_last)
                    for t in expansions
                    if t in decoded
                ]
            )
            matched = np.intersect1d(survivors, np.unique(exp_keys))
            if matched.size == 0:
                continue
            match_docs = np.unique(matched // M)
            dele = _shard_tombstones(index_dir, int(shard_val), rng)
            if dele.size:
                match_docs = match_docs[~np.isin(match_docs, dele)]
            if match_docs.size:
                yield pd.DataFrame({"doc_id": match_docs})

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return seg.repartition(shuffle_n, "shard").mapInPandas(
        shard_pp, schema="doc_id long"
    )


def search_sharded_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, list[str]],
    k: int = 10,
    dense_cutoff: int | None = None,
) -> DataFrame:
    """Batch top-k: B queries answered in ONE pass over the sharded
    segments. The scan filters to the union of all query terms, each
    shard's rows decode once per term, and every query runs WAND over
    shared decoded state inside the shard — the per-query marginal cost
    is the WAND loop, not the scan/shuffle. Returns
    (query_id, doc_id, score, url) with per-query rank order, exactly
    equal to running search_sharded per query (tested).

    Each (query, shard) independently picks WAND or the vectorized
    exhaustive kernel on its shard-local posting mass
    (``dense_cutoff``, default the driver engine's
    DENSE_POSTINGS_CUTOFF); decoded arrays memoize across the batch's
    dense queries."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs = int(stats["n_docs"])
    n_eff = n_docs - int(stats.get("n_purged", 0))  # idf N (tombstone.py)
    k = _clamp_k(k, n_docs)
    avgdl = float(stats["avgdl"])
    k1, b = float(stats["k1"]), float(stats["b"])
    meta = _load_meta(index_dir, stats)
    rng = int(meta["rng"])
    norms_root = os.path.join(index_dir, NORMS_DIR)

    q_terms = {qid: sorted(set(ts)) for qid, ts in queries.items()}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    empty = spark.createDataFrame([], "query_id string, doc_id long, score double, url string")
    if not all_terms:
        return empty
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(all_terms))
    )
    df_map = _global_df_map(index_dir, all_terms)
    if not df_map:
        return empty
    bc_df = spark.sparkContext.broadcast(df_map)
    bc_q = spark.sparkContext.broadcast(q_terms)

    def shard_batch(batches):
        from job_searchengine_project_spark.index import codec
        from job_searchengine_project_spark.search.engine import (
            SearchEngine,
            exhaustive_topk_arrays,
        )
        from job_searchengine_project_spark.search.wand import TermCursor, wand_topk

        parts = list(batches)
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True)
        if pdf_all.empty:
            return
        dfm = bc_df.value
        qts = bc_q.value
        cutoff = (
            dense_cutoff
            if dense_cutoff is not None
            else SearchEngine.DENSE_POSTINGS_CUTOFF
        )

        def idf_of(t):
            return float(np.log1p((n_eff - dfm[t] + 0.5) / (dfm[t] + 0.5)))

        for shard_val, grp in pdf_all.groupby("shard", sort=False):
            by_term = {str(r.term): r for r in grp.itertuples()}
            norms = _load_shard_norms(norms_root, int(shard_val), rng, n_docs)
            dele = _shard_tombstones(index_dir, int(shard_val), rng)
            # decode-once state shared across the batch: EncodedPostings
            # are immutable; each query gets fresh (cheap) cursors, and
            # the dense path's decoded arrays memoize across queries
            encs = {t: _enc_from_row(r) for t, r in by_term.items()}
            dec: dict[str, tuple] = {}
            out_q, out_d, out_s = [], [], []
            for qid, terms in qts.items():
                present = [t for t in terms if t in encs]
                if not present:
                    continue
                # per-(query, shard) strategy choice, like search_sharded
                if sum(encs[t].count for t in present) > cutoff:
                    for t in present:
                        if t not in dec:
                            dec[t] = codec.decode_postings(encs[t])
                    hits = exhaustive_topk_arrays(
                        {t: dec[t] for t in present},
                        idf_of=idf_of,
                        dl_of=lambda docs: norms.arr[docs - norms.lo],
                        avgdl=avgdl,
                        k=k,
                        k1=k1,
                        b=b,
                        deleted=dele,
                    )
                else:
                    cursors = [
                        TermCursor(term=t, enc=encs[t], idf=idf_of(t))
                        for t in present
                    ]
                    hits = wand_topk(
                        cursors, norms, avgdl, k, k1=k1, b=b, deleted=dele
                    )
                for d, s in hits:
                    out_q.append(qid)
                    out_d.append(d)
                    out_s.append(s)
            if out_q:
                yield pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    partials = seg.repartition(shuffle_n, "shard").mapInPandas(
        shard_batch, schema="query_id string, doc_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    top = (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
    return (
        _attach_urls_pruned(spark, index_dir, top)
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
        .select("query_id", "doc_id", "score", "url")
    )


def search_sharded_bool(
    spark: SparkSession,
    index_dir: str,
    must: list[str] = (),
    should: list[str] = (),
    must_not: list[str] = (),
    filter: list[str] = (),
    k: int = 10,
    minimum_should_match: int | None = None,
    filter_docs: list[set[int]] = (),
    must_not_docs: list[set[int]] = (),
    filter_specs: list[dict] = (),
    must_not_specs: list[dict] = (),
) -> DataFrame:
    """Distributed ES `bool` query over the sharded layout.

    ``filter_specs``/``must_not_specs``: DECLARATIVE doc-values
    range/term filters — each spec is ``{"col": <doc-values column>,
    <bound>: <value>, ...}`` with bounds from eq/gte/gt/lte/lt. Every
    shard kernel evaluates its specs against its OWN slice of the
    shard-partitioned sidecars (``shard_docvalues/<col>/shard=K/``,
    written by build_sharded_segments; value-sorted, so the bounds
    prune to matching row groups). No doc-id set is ever materialized
    on or broadcast from the driver — a filter matching half the
    corpus costs each shard only its own doc range, exactly ES's
    per-shard filter context (schema/es/es.sh:13-14). This is the
    scale path; use it whenever the index was built with doc_values.

    ``filter_docs``/``must_not_docs``: precomputed doc-id hit sets
    BROADCAST to every shard — only for sets known to be small (an
    external id list); the broadcast bound is the executor memory the
    set costs, same trade as any broadcast join.

    The clause algebra (SearchEngine.bool_algebra) is doc-local —
    every per-doc decision (must conjunction, must_not exclusion,
    filter gate, minimum_should_match count, score sum) depends only
    on that doc's clause memberships — and a doc lives in exactly one
    shard, so the algebra runs shard-local over shard-local clause
    accumulators and the global top-k merge is associative. idf uses
    GLOBAL per-term df (one tiny agg), exactly like search_sharded;
    per-clause scores accumulate in sorted-term order and clauses sum
    in declared order, so parity with the driver engine is exact
    (tested)."""
    from job_searchengine_project_spark.functions.tokenize import (
        tokenize_2gram_py,
        tokenize_morph_py,
    )

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs = int(stats["n_docs"])
    n_eff = n_docs - int(stats.get("n_purged", 0))  # idf N (tombstone.py)
    k = _clamp_k(k, n_docs)
    avgdl = float(stats["avgdl"])
    k1, b = float(stats["k1"]), float(stats["b"])
    meta = _load_meta(index_dir, stats)
    rng = int(meta["rng"])
    norms_root = os.path.join(index_dir, NORMS_DIR)

    analyzer = stats.get("analyzer", "morph")

    def _an(q: str) -> list[str]:
        return (
            tokenize_2gram_py(q)
            if analyzer == "2gram"
            else tokenize_morph_py(q, dedup=True)
        )

    must, should = list(must), list(should)
    must_not, filter = list(must_not), list(filter)
    filter_docs = [frozenset(s) for s in filter_docs]
    must_not_docs = [frozenset(s) for s in must_not_docs]
    filter_specs = [dict(s) for s in filter_specs]
    must_not_specs = [dict(s) for s in must_not_specs]
    if minimum_should_match is None:
        minimum_should_match = (
            0 if (must or filter or filter_docs or filter_specs) else 1
        )
    empty = spark.createDataFrame([], "doc_id long, score double, url string")
    if not (must or filter or should or filter_docs or filter_specs):
        return empty
    # (kind, index, sorted terms) — kinds: m(ust)/s(hould)/n(ot)/f(ilter)
    clauses = (
        [("m", i, sorted(set(_an(q)))) for i, q in enumerate(must)]
        + [("s", i, sorted(set(_an(q)))) for i, q in enumerate(should)]
        + [("n", i, sorted(set(_an(q)))) for i, q in enumerate(must_not)]
        + [("f", i, sorted(set(_an(q)))) for i, q in enumerate(filter)]
    )
    all_terms = sorted({t for _, _, ts in clauses for t in ts})
    if not all_terms:
        if filter_specs:
            # termless pure-spec query: evaluate ENTIRELY as DataFrame
            # algebra over the distributed sidecar tables — semi-joins
            # intersect the spec hit sets, anti-joins subtract, the
            # tombstone table anti-joins out deletes. Catalyst pushes
            # each spec's bounds into the parquet scan; nothing reaches
            # the driver but the final top-k.
            cand = dv_filter_docs_sharded(spark, index_dir, filter_specs[0])
            for sp in filter_specs[1:]:
                cand = cand.join(
                    dv_filter_docs_sharded(spark, index_dir, sp),
                    "doc_id",
                    "left_semi",
                )
            for sp in must_not_specs:
                cand = cand.join(
                    dv_filter_docs_sharded(spark, index_dir, sp),
                    "doc_id",
                    "left_anti",
                )
            for s in must_not_docs:
                if s:
                    cand = cand.filter(~F.col("doc_id").isin(sorted(s)))
            for s in filter_docs:
                cand = cand.filter(F.col("doc_id").isin(sorted(s)))
            top0 = (
                cand.withColumn("score", F.lit(0.0))
                .orderBy(F.asc("doc_id"))  # score 0 ties: pinned order
                .limit(k)
            )
            return (
                _attach_urls_pruned(spark, index_dir, top0)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("doc_id", "score", "url")
            )
        if not filter_docs:
            return empty
        # termless pure-filter query: the hit sets were computed
        # driver-side already — nothing to distribute
        from job_searchengine_project_spark.index.tombstone import load_tombstones
        from job_searchengine_project_spark.search.engine import SearchEngine

        scored = SearchEngine.bool_algebra(
            [], [], list(must_not_docs), list(filter_docs), minimum_should_match
        )
        dele0 = set(load_tombstones(index_dir).tolist())
        if dele0:
            scored = [(d, s) for d, s in scored if d not in dele0]
        top0 = spark.createDataFrame(
            [(int(d), float(s)) for d, s in scored[:k]], "doc_id long, score double"
        )
        return (
            _attach_urls_pruned(spark, index_dir, top0)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .select("doc_id", "score", "url")
        )
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(all_terms))
    )
    df_map = _global_df_map(index_dir, all_terms)
    bc_df = spark.sparkContext.broadcast(df_map)
    bc_clauses = spark.sparkContext.broadcast(clauses)
    bc_fsets = spark.sparkContext.broadcast(filter_docs)
    bc_nsets = spark.sparkContext.broadcast(must_not_docs)
    n_must, n_should = len(must), len(should)
    n_not = len(must_not)
    msm = minimum_should_match

    def shard_bool(batches):
        from job_searchengine_project_spark.index import codec
        from job_searchengine_project_spark.search.engine import (
            SearchEngine,
            accumulate_arrays,
        )

        parts = list(batches)
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True)
        if pdf_all.empty:
            return
        dfm = bc_df.value
        for shard_val, grp in pdf_all.groupby("shard", sort=False):
            norms = _load_shard_norms(norms_root, int(shard_val), rng, n_docs)
            dele = _shard_tombstones(index_dir, int(shard_val), rng)
            decoded = {}
            for r in grp.itertuples():
                docs, tfs = codec.decode_postings(_enc_from_row(r))
                if dele.size:
                    live = ~np.isin(docs, dele)
                    docs, tfs = docs[live], tfs[live]
                decoded[str(r.term)] = (docs, tfs)

            def clause_acc(terms):
                # vectorized, sorted-term float order — same kernel as
                # the driver engine's accumulate_scores
                uniq, sums = accumulate_arrays(
                    {t: decoded[t] for t in terms if t in decoded},
                    idf_of=lambda t: float(
                        np.log1p((n_eff - dfm[t] + 0.5) / (dfm[t] + 0.5))
                    ),
                    dl_of=lambda docs: norms.arr[docs - norms.lo],
                    avgdl=avgdl,
                    k1=k1,
                    b=b,
                    deleted=_EMPTY_DEL,  # decoded arrays are already live-only
                )
                return dict(zip(uniq.tolist(), sums.tolist()))

            def clause_hits(terms):
                hits: set[int] = set()
                for t in terms:
                    if t in decoded:
                        hits.update(decoded[t][0].tolist())
                return hits

            must_accs = [None] * n_must
            should_accs = [None] * n_should
            not_sets = [None] * n_not
            filter_sets = [None] * (len(bc_clauses.value) - n_must - n_should - n_not)
            for kind, i, ts in bc_clauses.value:
                if kind == "m":
                    must_accs[i] = clause_acc(ts)
                elif kind == "s":
                    should_accs[i] = clause_acc(ts)
                elif kind == "n":
                    not_sets[i] = clause_hits(ts)
                else:
                    filter_sets[i] = clause_hits(ts)
            # declarative doc-values specs: evaluated HERE against this
            # shard's own sidecar slice (value-pruned read) — the only
            # thing shipped from the driver is the tiny spec dict
            spec_fsets = [
                _shard_dv_docs(index_dir, int(shard_val), sp, dele)
                for sp in filter_specs
            ]
            spec_nsets = [
                _shard_dv_docs(index_dir, int(shard_val), sp, dele)
                for sp in must_not_specs
            ]
            scored = SearchEngine.bool_algebra(
                must_accs,
                should_accs,
                not_sets + [set(s) for s in bc_nsets.value] + spec_nsets,
                filter_sets + [set(s) for s in bc_fsets.value] + spec_fsets,
                msm,
            )[:k]
            if scored:
                docs_out, scores_out = zip(*scored)
                yield pd.DataFrame({"doc_id": docs_out, "score": scores_out})

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    partials = seg.repartition(shuffle_n, "shard").mapInPandas(
        shard_bool, schema="doc_id long, score double"
    )
    top = partials.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return (
        _attach_urls_pruned(spark, index_dir, top)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score", "url")
    )


def match_docs_sharded(
    spark: SparkSession, index_dir: str, query_terms: list[str]
) -> DataFrame:
    """Distributed ES match-clause hit SET (no scoring): every live
    doc holding >= 1 query term, as a DataFrame of doc_id. Each
    segment row decodes independently (no per-shard state — a doc's
    membership needs no cross-term float order), so this is a plain
    flatMap over the pushed-down term rows + a distinct on doc_id;
    tombstones anti-join from the deleted table. Feeds the
    query-context scope of the distributed aggregations exactly as ES
    runs its aggs over the per-shard hit sets."""
    terms = sorted(set(query_terms))
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    with open(os.path.join(index_dir, "stats.json")) as f:
        _load_meta(index_dir, json.load(f))  # refuse stale shards
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(terms))
    )

    def decode_docs(batches):
        from job_searchengine_project_spark.index import codec

        for pdf in batches:
            for r in pdf.itertuples():
                docs, _ = codec.decode_postings(_enc_from_row(r))
                yield pd.DataFrame({"doc_id": docs})

    hits = seg.mapInPandas(decode_docs, schema="doc_id long")
    if len(terms) > 1:
        # cross-term dedup: a doc holding several query terms appears
        # once per term row. A SINGLE term's postings are unique within
        # a (shard, term) row and shards are doc-disjoint, so the
        # distinct exchange is provably a no-op there and skipped (r6).
        hits = hits.distinct()
    tomb_dir = os.path.join(index_dir, "deleted")
    if os.path.isdir(tomb_dir):
        hits = hits.join(
            spark.read.parquet(tomb_dir).select("doc_id").distinct(),
            "doc_id",
            "left_anti",
        )
    return hits


def _live_dv_table(spark: SparkSession, index_dir: str, col: str) -> DataFrame:
    """The doc-values sidecar of ``col`` as a distributed table with
    tombstoned docs anti-joined out — the scan every distributed
    filter/agg starts from.

    Fielded layouts keep tombstones per sub-index (fields/<f>/deleted
    — deletes apply the same batch to every field), never at the top
    level; use the first sub-index's table there, exactly like the
    driver twin FieldedSearchEngine.doc_values_docs (ADVICE r5 #1: the
    old top-level-only lookup silently skipped the anti-join on
    fielded dirs, so a distributed fielded spec-only query could
    return tombstoned docs before a purge)."""
    dv = spark.read.parquet(os.path.join(index_dir, "docvalues", col))
    tomb_dir = os.path.join(index_dir, "deleted")
    if not os.path.isdir(tomb_dir):
        fields_dir = os.path.join(index_dir, "fields")
        if os.path.isdir(fields_dir):
            subs = sorted(os.listdir(fields_dir))
            if subs:
                tomb_dir = os.path.join(fields_dir, subs[0], "deleted")
    if os.path.isdir(tomb_dir):
        dv = dv.join(
            spark.read.parquet(tomb_dir).select("doc_id").distinct(),
            "doc_id",
            "left_anti",
        )
    return dv


def aggregate_terms_sharded(
    spark: SparkSession,
    index_dir: str,
    col: str,
    size: int = 10,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Distributed ES `terms` aggregation: ONE Spark groupBy over the
    doc-values sidecar table — Catalyst's partial (map-side) aggregate
    per scan partition IS the per-shard partial, and the exchange on
    `key` is the associative merge, so no driver-side Counter ever
    sees the column. ``doc_filter`` (a doc_id DataFrame, e.g.
    match_docs_sharded) scopes the agg to a query's hit set via a
    semi-join — the ES query-context contract. Returns
    (key, doc_count) in ES tie order (desc count, asc key), top
    ``size``. The driver engine's aggregate_terms remains as the
    single-node oracle of this path (tested equal)."""
    dv = _live_dv_table(spark, index_dir, col)
    if doc_filter is not None:
        dv = dv.join(doc_filter, "doc_id", "left_semi")
    return (
        dv.groupBy(F.col(col).alias("key"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
    )


def aggregate_histogram_sharded(
    spark: SparkSession,
    index_dir: str,
    col: str,
    interval: float,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Distributed ES `histogram` aggregation: floor(value/interval)
    buckets via one Spark groupBy over the sidecar table (partial agg
    + associative merge, like aggregate_terms_sharded); empty buckets
    omitted (ES min_doc_count=1 shape), ascending keys."""
    dv = _live_dv_table(spark, index_dir, col)
    if doc_filter is not None:
        dv = dv.join(doc_filter, "doc_id", "left_semi")
    key = (
        F.floor(F.col(col).cast("double") / F.lit(float(interval)))
        * F.lit(float(interval))
    ).cast("double")
    return (
        dv.select(key.alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.asc("key"))
    )


def aggregate_date_histogram_sharded(
    spark: SparkSession,
    index_dir: str,
    col: str,
    fixed_interval,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Distributed ES `date_histogram` (fixed_interval): one groupBy
    over unix_millis of the timestamp sidecar — partial aggregate +
    associative merge like every other distributed agg. Bucket key =
    epoch millis floored to the interval (ES's numeric key),
    ascending, empty buckets omitted."""
    from job_searchengine_project_spark.search.engine import SearchEngine

    iv = SearchEngine.parse_fixed_interval(fixed_interval)
    dv = _live_dv_table(spark, index_dir, col).filter(F.col(col).isNotNull())
    if doc_filter is not None:
        dv = dv.join(doc_filter, "doc_id", "left_semi")
    key = (
        F.floor(F.unix_millis(F.col(col)) / F.lit(iv)) * F.lit(iv)
    ).cast("long")
    return (
        dv.select(key.alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.asc("key"))
    )


def aggregate_metric_sharded(
    spark: SparkSession,
    index_dir: str,
    col: str,
    kind: str,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Distributed ES metric aggregation (avg/sum/min/max/value_count)
    over the sidecar table: one Spark agg — partial per scan
    partition, associative merge, never a driver-side column scan.
    Returns a one-row DataFrame (value)."""
    fns = {
        "avg": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "value_count": F.count,
        "cardinality": F.countDistinct,  # exact-distinct contract
    }
    if kind not in fns:
        raise ValueError(f"unsupported metric agg: {kind!r}")
    dv = _live_dv_table(spark, index_dir, col).filter(F.col(col).isNotNull())
    if doc_filter is not None:
        dv = dv.join(doc_filter, "doc_id", "left_semi")
    return dv.agg(fns[kind](col).alias("value"))


def aggregate_terms_subagg_sharded(
    spark: SparkSession,
    index_dir: str,
    col: str,
    subs: dict[str, dict],
    size: int = 10,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Distributed ES `terms` aggregation WITH nested metric sub-aggs:
    still ONE Spark groupBy — the sub-agg fields' sidecars join on
    doc_id first (each sidecar is (doc_id, value); distinct metric
    fields join once), then every sub becomes one more agg expression
    beside the bucket count. Catalyst's partial aggregate computes all
    of them map-side in the same pass, so nesting costs joins, never a
    second shuffle over the buckets. Column per sub, named by the sub.
    Driver oracle: SearchEngine.aggregate_terms_sub (tested equal).

    ``subs``: ES shape — {name: {kind: {"field": f}}} with kind in
    METRIC_AGGS."""
    fns = {
        "avg": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "value_count": F.count,
        "cardinality": F.countDistinct,  # exact-distinct contract
    }
    dv = _live_dv_table(spark, index_dir, col)
    if doc_filter is not None:
        dv = dv.join(doc_filter, "doc_id", "left_semi")
    joined_fields: set[str] = {col}
    exprs = [F.count("*").alias("doc_count")]
    for name, spec in subs.items():
        ((kind, sargs),) = spec.items()
        if kind not in fns:
            raise ValueError(f"unsupported sub-agg kind: {kind!r}")
        field = sargs["field"]
        if field not in joined_fields:
            side = _live_dv_table(spark, index_dir, field)
            dv = dv.join(side, "doc_id", "left")
            joined_fields.add(field)
        exprs.append(fns[kind](field).alias(name))
    return (
        dv.groupBy(F.col(col).alias("key"))
        .agg(*exprs)
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
    )


def aggregate_percentiles_sharded(
    spark: SparkSession,
    index_dir: str,
    col: str,
    percents: list[float],
    doc_filter: DataFrame | None = None,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Distributed ES `percentiles` aggregation: one Spark agg over
    the sidecar table. ``exact=True`` (the contract — see
    SearchEngine.aggregate_percentiles) uses Spark's ``percentile``
    (linear interpolation, == DuckDB quantile_cont == numpy linear);
    ``exact=False`` is the documented at-scale variant via
    ``percentile_approx`` (t-digest-style bounded memory, like ES
    itself) with a tested tolerance against the exact form. Returns
    (percent double, value double) rows ascending."""
    ps = [float(p) for p in percents]
    fracs = ", ".join(repr(p / 100.0) for p in ps)
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {int(accuracy)}"
    dv = _live_dv_table(spark, index_dir, col).filter(F.col(col).isNotNull())
    if doc_filter is not None:
        dv = dv.join(doc_filter, "doc_id", "left_semi")
    vals = dv.agg(
        F.expr(f"{fn}({col}, array({fracs}){acc})").alias("v")
    )
    pct = F.array(*[F.lit(p) for p in ps])
    return (
        vals.select(
            F.explode(
                F.arrays_zip(
                    pct.alias("percent"),
                    F.col("v").cast("array<double>").alias("value"),
                )
            ).alias("e")
        )
        .select(F.col("e.percent").alias("percent"), F.col("e.value").alias("value"))
        .orderBy("percent")
    )


def dv_filter_docs_sharded(
    spark: SparkSession, index_dir: str, spec: dict
) -> DataFrame:
    """One doc-values range/term filter as a distributed doc_id
    DataFrame (bounds pushed into the parquet scan) — composes with
    the aggregations' ``doc_filter`` and with semi/anti joins, never
    materializing a driver-side set."""
    spec = dict(spec)
    col = spec.pop("col")
    dv = _live_dv_table(spark, index_dir, col)
    cond = None
    for op, val in spec.items():
        if op == "isin":  # ES terms query: any of a value list
            c = F.col(col).isin(list(val))
        elif op == "exists":  # ES exists query: non-null value
            c = F.col(col).isNotNull()
        else:
            c = {
                "eq": F.col(col) == F.lit(val),
                "gte": F.col(col) >= F.lit(val),
                "gt": F.col(col) > F.lit(val),
                "lte": F.col(col) <= F.lit(val),
                "lt": F.col(col) < F.lit(val),
            }[op]
        cond = c if cond is None else (cond & c)
    if cond is None:
        raise ValueError("doc_values filter needs at least one bound")
    return dv.filter(cond).select("doc_id")


def search_sharded_fuzzy(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    max_edits: int = 1,
) -> DataFrame:
    """Distributed ES fuzzy match: expand each query term through the
    PERSISTED delete-variant table (index/fuzzy.py — a variant-pruned
    parquet lookup, O(per-term variants), never vocabulary-sized on
    the driver), then score the expansion as plain match-OR BM25 via
    the sharded kernels. Same scoring contract as the driver engine's
    search_fuzzy (no fuzziness boost discount — documented,
    oracle-checked); rank parity with it is exact."""
    from job_searchengine_project_spark.index.fuzzy import fuzzy_expand_terms

    expanded = fuzzy_expand_terms(index_dir, query_terms, max_edits=max_edits)
    if not expanded:
        return spark.createDataFrame([], "doc_id long, score double, url string")
    return search_sharded(spark, index_dir, expanded, k=k)


def search_sharded(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    with_fields: bool = False,
    strategy: str = "auto",
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """Distributed top-k: per-shard kernels in executors, associative
    global merge. Returns (doc_id, score, url) ranked.

    ``strategy`` mirrors the driver engine: each shard independently
    picks block-max WAND for selective profiles and the vectorized
    exhaustive kernel (search/engine.py exhaustive_topk_arrays — same
    float order, exact) when its candidate postings exceed the
    DENSE_POSTINGS_CUTOFF — head-term queries would otherwise pay the
    document-at-a-time Python loop in EVERY shard. Both kernels are
    exact, so mixed per-shard choices merge correctly.

    ``search_after``: the ES cursor form distributed — every shard
    applies the (score, doc_id) cursor mask inside its exhaustive
    kernel (the cursor path always runs that kernel, like the driver
    engine) and returns its top-k AFTER the cursor; the global merge
    stays the same associative top-k. Deep pagination therefore costs
    each shard O(its candidates) per page with no from+size depth
    term — the property that lets a 1000-node cluster serve page
    10^6 at page-1 cost."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs = int(stats["n_docs"])
    n_eff = n_docs - int(stats.get("n_purged", 0))  # idf N (tombstone.py)
    k = _clamp_k(k, n_docs)
    avgdl = float(stats["avgdl"])
    k1, b = float(stats["k1"]), float(stats["b"])
    meta = _load_meta(index_dir, stats)
    rng = int(meta["rng"])
    norms_root = os.path.join(index_dir, NORMS_DIR)

    terms = sorted(set(query_terms))
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(terms))
    )
    # global df per query term (tiny agg over <= |q| x n_shards rows)
    df_map = _global_df_map(index_dir, terms)
    if not df_map:
        return spark.createDataFrame([], "doc_id long, score double, url string")

    bc_df = spark.sparkContext.broadcast(df_map)

    def shard_topk(batches):
        from job_searchengine_project_spark.index import codec
        from job_searchengine_project_spark.search.engine import (
            SearchEngine,
            exhaustive_topk_arrays,
        )
        from job_searchengine_project_spark.search.wand import TermCursor, wand_topk

        parts = list(batches)
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True)
        if pdf_all.empty:
            return
        dfm = bc_df.value

        def idf_of(t):
            return float(np.log1p((n_eff - dfm[t] + 0.5) / (dfm[t] + 0.5)))

        for shard_val, grp in pdf_all.groupby("shard", sort=False):
            norms = _load_shard_norms(norms_root, int(shard_val), rng, n_docs)
            dele = _shard_tombstones(index_dir, int(shard_val), rng)
            encs = {str(r.term): _enc_from_row(r) for r in grp.itertuples()}
            strat = strategy
            if search_after is not None:
                strat = "exhaustive"  # cursor mask lives in that kernel
            elif strat == "auto":
                # per-shard choice on the SHARD-LOCAL posting mass —
                # same trade the driver engine makes globally
                total = sum(e.count for e in encs.values())
                strat = (
                    "exhaustive"
                    if total > SearchEngine.DENSE_POSTINGS_CUTOFF
                    else "wand"
                )
            if strat == "wand":
                cursors = [
                    TermCursor(term=t, enc=e, idf=idf_of(t))
                    for t, e in encs.items()
                ]
                hits = wand_topk(
                    cursors, norms, avgdl, k, k1=k1, b=b, deleted=dele
                )
            else:
                term_arrays = {
                    t: codec.decode_postings(e) for t, e in encs.items()
                }
                hits = exhaustive_topk_arrays(
                    term_arrays,
                    idf_of=idf_of,
                    dl_of=lambda docs: norms.arr[docs - norms.lo],
                    avgdl=avgdl,
                    k=k,
                    k1=k1,
                    b=b,
                    deleted=dele,
                    after=search_after,
                )
            if hits:
                docs_out, scores_out = zip(*hits)
                yield pd.DataFrame({"doc_id": docs_out, "score": scores_out})

    # colocate every shard's rows in one task: a file split (files larger
    # than maxPartitionBytes) would otherwise hand WAND a subset of the
    # query terms and the global top-k would merge partial scores.
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    partials = seg.repartition(shuffle_n, "shard").mapInPandas(
        shard_topk, schema="doc_id long, score double"
    )
    top = partials.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    out = (
        _attach_urls_pruned(spark, index_dir, top)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score", "url")
    )
    if with_fields:
        from job_searchengine_project_spark.search.stored import attach_stored_fields

        out = attach_stored_fields(spark, index_dir, out)
    return out
