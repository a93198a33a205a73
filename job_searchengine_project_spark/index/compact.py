"""Segment compaction: fold update generations, re-encode fragmented terms.

Each ``update_index`` APPENDS a generation row per touched term
(segment stacking — that is what makes updates O(batch)), so after G
updates a term has up to G+1 rows, each with its own possibly
underfilled trailing block: readers concatenate more parts, block
metadata grows and block-max bounds lose selectivity. Lucene solves this with background segment merges;
this is the batch equivalent.

Trigger: a term is fragmented when it has more than one generation
row OR more total blocks than a fresh encode of its total df
(``ceil(df / block_size)``). Compaction concatenates the term's
generations (doc-range-disjoint, ordered by first_doc), decodes the
postings (and positions, when the index is positional), recomputes
the per-posting BM25 tf-norms from the stored doclens and the index's
FROZEN avgdl — bit-identical to what the original encode computed —
and re-encodes ONE row at full block fill. Scores are therefore
unchanged; only the layout improves.

Only buckets containing fragmented terms are rewritten (dynamic
partition overwrite); intact rows of those buckets pass through
untouched.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from job_searchengine_project_spark import BM25_B, BM25_K1
from job_searchengine_project_spark.index import codec
from job_searchengine_project_spark.index.build import (
    SEGMENT_SCHEMA,
    SEGMENT_SCHEMA_POS,
    _enc_to_row,
)
from job_searchengine_project_spark.search.distributed import _load_norms_dense


def _compact_partition(batches, *, block_size: int, avgdl: float,
                       index_dir: str, n_docs: int, with_pos: bool,
                       fingerprint: str = "", deleted=None):
    dl = None
    dele = deleted if deleted is not None else np.empty(0, dtype=np.int64)
    for pdf in batches:
        if pdf.empty:
            continue
        rows = []
        # fold generations: a term's rows (all colocated — input is
        # repartitioned by term) merge ordered by first_doc
        pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
        for term, grp in pdf.groupby("term", sort=False):
            tuples = list(grp.itertuples())
            df_tot = sum(int(r.df) for r in tuples)
            n_blocks = sum(len(r.block_n) for r in tuples)
            ideal = -(-df_tot // block_size)  # ceil
            needs = len(tuples) > 1 or n_blocks > ideal
            enc_in = None
            docs = tfs = None
            if not needs and dele.size:
                # purge pre-check without re-encoding cost: tombstone
                # ids inside the term's doc range, then an exact test
                lo = int(tuples[0].first_doc)
                hi = int(tuples[-1].block_last_doc[-1])
                j0, j1 = np.searchsorted(dele, [lo, hi + 1])
                if j1 > j0:
                    enc_in = codec.from_row(tuples[0])
                    docs, tfs = codec.decode_postings(enc_in)
                    needs = bool(np.isin(dele[j0:j1], docs).any())
            if needs:
                if dl is None:
                    dl = _load_norms_dense(index_dir, n_docs, fingerprint or None)
                if enc_in is None:
                    enc_in = (
                        codec.from_row(tuples[0])
                        if len(tuples) == 1
                        else codec.concat_encoded([codec.from_row(r) for r in tuples])
                    )
                    docs, tfs = codec.decode_postings(enc_in)
                pos = (
                    codec.decode_positions(enc_in, tfs)
                    if enc_in.has_positions
                    else None
                )
                if dele.size:
                    # physically drop tombstoned postings (and their
                    # position slices — posting i owns tfs[i] values)
                    live = ~np.isin(docs, dele)
                    if not live.all():
                        if pos is not None:
                            pos = pos[np.repeat(live, tfs)]
                        docs, tfs = docs[live], tfs[live]
                if docs.size == 0:
                    continue  # every posting was tombstoned: drop the term
                tff = tfs.astype(np.float64)
                tfn = tff / (
                    tff + BM25_K1 * (1.0 - BM25_B + BM25_B * (dl[docs] / avgdl))
                )
                enc = codec.encode_postings(
                    docs, tfs, tfn, block_size=block_size, positions=pos
                )
                row = _enc_to_row(str(term), enc, 1, with_pos=with_pos)
            else:
                r = tuples[0]
                row = {
                    "term": str(term), "df": int(r.df), "first_doc": int(r.first_doc),
                    "doc_blob": bytes(r.doc_blob), "tf_blob": bytes(r.tf_blob),
                    "block_n": list(r.block_n),
                    "block_last_doc": list(r.block_last_doc),
                    "block_doc_bytes": list(r.block_doc_bytes),
                    "block_tf_bytes": list(r.block_tf_bytes),
                    "block_max_tfnorm": list(r.block_max_tfnorm),
                    "n_parts": int(r.n_parts),
                    "bytes_written": int(r.bytes_written),
                }
                if with_pos:
                    row["pos_blob"] = bytes(getattr(r, "pos_blob", b"") or b"")
                    # an ndarray has no truth value: test for None only
                    bpb = getattr(r, "block_pos_bytes", None)
                    row["block_pos_bytes"] = [] if bpb is None else list(bpb)
            row["term_bucket"] = int(tuples[0].term_bucket)
            rows.append(row)
        yield pd.DataFrame(rows)


def compact_index(spark: SparkSession, out_dir: str, purge_deletes: bool = True) -> dict:
    """Fold generations, re-encode fragmented terms and — when
    tombstones exist and ``purge_deletes`` — physically drop tombstoned
    postings, dead forward/docstore rows and the tombstone files
    themselves (the Lucene merge's delete reclaim). Returns
    {compacted_terms, touched_buckets, purged_docs}.

    Purge crash-safety (each step idempotent, tombstones filter queries
    until the very last step): segments rewrite -> forward swap ->
    docstore GC -> stats commit (n_purged, new fingerprint) ->
    tombstones cleared. A crash anywhere re-runs to completion on the
    next call; queries in between stay correct because the tombstone
    filter is still active."""
    import shutil

    from job_searchengine_project_spark.index.tombstone import (
        TOMBSTONE_DIR,
        load_tombstones,
    )

    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    block_size = int(stats["block_size"])
    avgdl = float(stats["avgdl"])
    n_docs = int(stats["n_docs"])
    segments_dir = os.path.join(out_dir, "segments")
    dele = load_tombstones(out_dir) if purge_deletes else np.empty(0, np.int64)

    seg = spark.read.parquet(segments_dir)
    # a term needs compaction when it has >1 generation row (segment
    # stacking appends one row per update) or its total block count
    # exceeds a fresh full-fill encode
    per_term = seg.groupBy("term_bucket", "term").agg(
        F.count("*").alias("nrows"),
        F.sum(F.size("block_n")).alias("nblocks"),
        F.sum("df").alias("df_tot"),
    )
    frag = (F.col("nrows") > 1) | (
        F.col("nblocks") > F.ceil(F.col("df_tot") / F.lit(block_size)).cast("int")
    )
    frag_rows = per_term.filter(frag).select("term_bucket").groupBy("term_bucket").agg(
        F.count("*").alias("n")
    ).collect()
    n_frag = int(sum(r["n"] for r in frag_rows))
    if dele.size:
        # tombstoned postings can hide in any bucket: purge them all
        touched = sorted(
            int(r["term_bucket"])
            for r in seg.select("term_bucket").distinct().collect()
        )
    else:
        touched = sorted(int(r["term_bucket"]) for r in frag_rows)
    if not touched:
        return {"compacted_terms": 0, "touched_buckets": 0, "purged_docs": 0}

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucket_rows = seg.filter(F.col("term_bucket").isin(touched))
    with_pos = bool(stats.get("positions"))
    bc_del = spark.sparkContext.broadcast(dele)
    compacted = bucket_rows.repartition(shuffle_n, "term").mapInPandas(
        lambda it: _compact_partition(
            it, block_size=block_size, avgdl=avgdl,
            index_dir=out_dir, n_docs=n_docs, with_pos=with_pos,
            fingerprint=str(stats.get("fingerprint", "")),
            deleted=bc_del.value,
        ),
        schema=SEGMENT_SCHEMA_POS if with_pos else SEGMENT_SCHEMA,
    )
    # Stage the rewrite, then swap per touched bucket. A dynamic
    # partition overwrite would silently SKIP a touched bucket whose
    # every term was fully tombstoned (zero output rows -> partition
    # never overwritten -> stale postings resurrect after the purge
    # clears the tombstones); the explicit swap deletes such buckets.
    # Tombstones stay active until the very end, so queries during the
    # swap window remain correct and a crashed swap re-runs cleanly.
    staged_root = segments_dir + "_staged"
    shutil.rmtree(staged_root, ignore_errors=True)
    (
        compacted.repartition("term_bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(staged_root)
    )
    for b in touched:
        part = f"term_bucket={b}"
        staged_part = os.path.join(staged_root, part)
        live_part = os.path.join(segments_dir, part)
        if os.path.isdir(staged_part):
            _swap_dir(staged_part, live_part)
        else:
            shutil.rmtree(live_part, ignore_errors=True)
    shutil.rmtree(staged_root, ignore_errors=True)

    purged_docs = 0
    if dele.size:
        purged_docs = _purge_dead_docs(spark, out_dir, stats, dele)
        shutil.rmtree(os.path.join(out_dir, TOMBSTONE_DIR), ignore_errors=True)
    return {
        "compacted_terms": int(n_frag),
        "touched_buckets": len(touched),
        "purged_docs": int(purged_docs),
    }


def _swap_dir(staged: str, live: str) -> None:
    """Replace ``live`` with ``staged`` via two renames. A crash
    between them leaves ``<live>_old`` beside a missing/complete live
    dir; the next purge re-stages from scratch, and queries in the
    window still work because tombstones only clear at the very end."""
    import shutil

    old = live + "_old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(live):
        os.replace(live, old)
    os.replace(staged, live)
    shutil.rmtree(old, ignore_errors=True)


def _purge_dead_docs(spark, out_dir: str, stats: dict, dele: np.ndarray) -> int:
    """Drop tombstoned docs' forward rows and superseded/dead docstore
    rows, then commit n_purged + a new fingerprint (executor norms
    caches key on it). The purge COUNT is the distinct tombstone-id
    count, not the forward rows removed: a crash between the forward
    swap and the stats commit leaves the rows already gone but the
    tombstones still present, and the re-run must still credit them to
    n_purged (idf N) or the count is permanently undercounted — every
    tombstone id was a real doc exactly once (replace/delete append
    from the forward index; a completed purge clears the files).

    The OTHER crash window — after the stats commit but before
    ``compact_index`` clears the tombstone dir — must NOT re-credit:
    the stats carry ``last_purge_fp``, a fingerprint of the exact
    tombstone set already credited, and a replay that sees its own set
    there skips the accounting (the physical rewrites before it are
    idempotent no-ops by then)."""
    import hashlib

    from job_searchengine_project_spark.index.build import _write_stats_dict

    forward_dir = os.path.join(out_dir, "forward")
    ids = [int(x) for x in dele.tolist()]
    uniq = np.unique(dele).astype(np.int64)
    n_tomb = int(uniq.size)
    purge_fp = hashlib.sha256(uniq.tobytes()).hexdigest()[:16]
    if stats.get("last_purge_fp") == purge_fp:
        # replay of a purge whose stats commit landed but whose
        # tombstone clear did not: everything below already ran
        return n_tomb
    fwd = spark.read.parquet(forward_dir)
    dead = fwd.filter(F.col("doc_id").isin(ids)).count()
    if dead:
        staged = forward_dir + "_staged"
        (
            fwd.filter(~F.col("doc_id").isin(ids))
            .write.mode("overwrite").parquet(staged)
        )
        _swap_dir(staged, forward_dir)
    if stats.get("store_fields"):
        stored_dir = os.path.join(out_dir, "stored")
        stored = spark.read.parquet(stored_dir)
        if "_gen" in stored.columns:
            from pyspark.sql import Window

            live_urls = spark.read.parquet(forward_dir).select("url").distinct()
            w = Window.partitionBy("url").orderBy(F.desc("_gen"))
            gc = (
                stored.join(live_urls, "url", "left_semi")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            staged = stored_dir + "_staged"
            (
                gc.repartition("sbucket")
                .sortWithinPartitions("url")
                .write.mode("overwrite")
                .partitionBy("sbucket")
                .parquet(staged)
            )
            _swap_dir(staged, stored_dir)
    for col in stats.get("doc_values") or []:
        # the purge clears the tombstone files below, so doc-values
        # rows of purged docs MUST go now or range/term filters would
        # resurrect them; the rewrite also folds update generations
        # back into one value-sorted file set per column
        dv_dir = os.path.join(out_dir, "docvalues", col)
        dv = spark.read.parquet(dv_dir)
        staged = dv_dir + "_staged"
        (
            dv.filter(~F.col("doc_id").isin(ids))
            .orderBy(col)
            .write.mode("overwrite")
            .parquet(staged)
        )
        _swap_dir(staged, dv_dir)
    n_purged = int(stats.get("n_purged", 0)) + n_tomb
    _write_stats_dict(
        os.path.join(out_dir, "stats.json"),
        n_docs=stats["n_docs"], avgdl=stats["avgdl"],
        total_tokens=stats["total_tokens"], analyzer=stats["analyzer"],
        block_size=stats["block_size"], term_buckets=stats["term_buckets"],
        fingerprint=stats["fingerprint"] + f"+purge{n_tomb}",
        store_fields=stats.get("store_fields", False),
        stored_buckets=stats.get("stored_buckets", 64),
        positions=stats.get("positions", False),
        use_extractor=stats.get("use_extractor", False),
        n_purged=n_purged,
        doc_values=stats.get("doc_values"),
        last_purge_fp=purge_fp,
    )
    return n_tomb
