"""Incremental index update: append new documents as a new GENERATION.

The reference ingests continuously (new postings discovered per crawl
cycle); its ES `_id=msgid` upserts make re-index idempotent. Here the
equivalent is Lucene-style segment stacking:

- new docs get dense ids continuing after the existing corpus
  (doc-range disjointness is what makes multi-generation reads a
  concatenation — every block leads with an absolute doc id,
  codec.concat_encoded);
- new postings are encoded with the SAME frozen ``avgdl`` as the
  initial build (the Lucene-norms trade: stored per-posting tf-norms
  are not retroactively recomputed; scores stay exact w.r.t. the
  index's recorded stats, and the oracle parity gate passes the same
  frozen stats). Query-time idf uses the UPDATED doc count;
- the batch's postings are encoded and APPENDED as new parquet files
  under the same ``segments/term_bucket=K/`` partitions — existing
  segment files are never read or rewritten, so the bytes written per
  update are O(batch), not O(index). A term touched by G updates has
  G+1 rows in the dataset; readers merge them by blob concatenation
  (ordered by first_doc — generations are doc-range-disjoint), and
  ``index/compact.py`` folds generations back to one row per term;
- forward/docstore rows append; stats + lineage record the update.

Crash recovery (the reference's spine is the transactional
`job.hadoop_event` txid table, psql_create.psql:8-17): every update is
bracketed by a ``_PENDING_UPDATE.json`` manifest snapshotting the file
inventory of forward/stored/segments/deleted BEFORE any append. The
atomic ``stats.json`` replace is the commit point. ``recover_index``
(run automatically at the start of every update) rolls a crashed
update back by deleting files not in the snapshot — replays are then
byte-exact re-runs, never duplicate appends (forward, stored AND
segments). A marker whose pre-fingerprint no longer matches stats
means the crash happened after the commit point: the update is
durable and only the marker is dropped.

Caller contract: new pages' urls are not already indexed (dedup
upstream — J1; the reference guarantees this with the msgid set).
``upsert_index`` (see index/tombstone.py) lifts that restriction with
ES `_id` replacement semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from job_searchengine_project_spark.index.build import (
    SEGMENT_SCHEMA,
    SEGMENT_SCHEMA_POS,
    _append_lineage,
    _encode_packed,
    _head_terms,
    _merge_partition,
    _pack_forward,
    _write_stats_dict,
)
from job_searchengine_project_spark.index.prepare import prepare_docs

PENDING_MARKER = "_PENDING_UPDATE.json"
# update-appended data roots covered by the pending-manifest snapshot
_TRACKED_SUBDIRS = ("forward", "stored", "segments", "deleted", "docvalues")


def _list_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            out.append(os.path.relpath(os.path.join(dirpath, f), root))
    return sorted(out)


def _snapshot_files(out_dir: str) -> dict[str, list[str]]:
    return {
        d: _list_files(os.path.join(out_dir, d))
        for d in _TRACKED_SUBDIRS
        if os.path.isdir(os.path.join(out_dir, d))
    }


def _write_pending(out_dir: str, pre_fingerprint: str) -> None:
    tmp = os.path.join(out_dir, PENDING_MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {"pre_fingerprint": pre_fingerprint, "files": _snapshot_files(out_dir)},
            f,
        )
    os.replace(tmp, os.path.join(out_dir, PENDING_MARKER))


def _purge_orphan_by_stat(root: str, col: str, n_docs: int) -> int:
    """Belt-and-braces orphan purge for states no pending manifest
    covers (files appended by external tooling or an older engine):
    an update's appended files only ever contain rows with
    ``col`` >= the base id of that update, so a file whose every
    row-group min(``col``) >= the committed n_docs belongs to an
    uncommitted update. Metadata-only (parquet row-group statistics)."""
    import pyarrow.parquet as pq

    if not os.path.isdir(root):
        return 0
    purged = 0
    for rel in _list_files(root):
        if not rel.endswith(".parquet"):
            continue
        path = os.path.join(root, rel)
        md = pq.read_metadata(path)
        if col not in md.schema.names:
            return purged  # unexpected layout: do nothing further
        idx = md.schema.names.index(col)
        mins = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return purged  # no stats: refuse to guess
            mins.append(st.min)
        if mins and min(mins) >= n_docs:
            os.remove(path)
            purged += 1
    return purged


def recover_index(out_dir: str) -> dict:
    """Roll back a crashed update (idempotent; run before any read of
    the index a subsequent update will mutate).

    - pending marker present, stats fingerprint == the marker's
      pre-fingerprint: the crash happened BEFORE the stats commit —
      delete every file under forward/stored/segments/deleted that the
      snapshot does not list (and any empty dirs Spark left behind);
    - marker present but fingerprints differ: the crash happened AFTER
      the atomic stats replace — the update is durable, drop only the
      marker;
    - no marker: purge any statistically-identifiable orphan
      forward/segment files (legacy belt, see _purge_orphan_by_stat).
    """
    stats_path = os.path.join(out_dir, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    result = {"rolled_back_files": 0, "orphan_files": 0}
    marker = os.path.join(out_dir, PENDING_MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            pend = json.load(f)
        if stats.get("fingerprint") == pend.get("pre_fingerprint"):
            snap = pend.get("files", {})
            # a dir absent from the snapshot did not exist pre-update
            # (e.g. the first replace creates deleted/): every file in
            # it is the crashed update's — roll it back entirely
            for d in _TRACKED_SUBDIRS:
                root = os.path.join(out_dir, d)
                if not os.path.isdir(root):
                    continue
                keep_set = set(snap.get(d, []))
                for rel in _list_files(root):
                    if rel not in keep_set:
                        os.remove(os.path.join(root, rel))
                        result["rolled_back_files"] += 1
                for dirpath, _dirs, files in os.walk(root, topdown=False):
                    if dirpath != root and not os.listdir(dirpath):
                        os.rmdir(dirpath)
        os.remove(marker)
    n_docs = int(stats["n_docs"])
    result["orphan_files"] += _purge_orphan_by_stat(
        os.path.join(out_dir, "forward"), "doc_id", n_docs
    )
    result["orphan_files"] += _purge_orphan_by_stat(
        os.path.join(out_dir, "segments"), "first_doc", n_docs
    )
    return result


def update_index(
    spark: SparkSession,
    new_pages: DataFrame,
    out_dir: str,
    target_postings_per_salt: int = 200_000,
    replace: bool = False,
    _fail_point: str | None = None,  # test-only fault injection
) -> dict:
    """Append ``new_pages`` as a new generation (see module docstring).

    ``replace=True`` gives ES `_id`-overwrite semantics
    (common/job_class.py:149-157): urls already indexed get their old
    doc_ids tombstoned before the new versions append — queries serve
    only the newest version, and a purging compaction later drops the
    old postings physically (index/tombstone.py scoring contract)."""
    stats_path = os.path.join(out_dir, "stats.json")
    # crash recovery FIRST: a crashed prior update must be rolled back
    # before this update reads anything it would otherwise double-count
    recover_index(out_dir)
    with open(stats_path) as f:
        stats = json.load(f)
    n_old = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])  # frozen (see module docstring)
    analyzer = stats["analyzer"]
    block_size = int(stats["block_size"])
    term_buckets = int(stats["term_buckets"])

    forward_dir = os.path.join(out_dir, "forward")
    segments_dir = os.path.join(out_dir, "segments")
    with_pos = bool(stats.get("positions"))
    segment_schema = SEGMENT_SCHEMA_POS if with_pos else SEGMENT_SCHEMA

    # empty-batch guard BEFORE any side effect: an empty batch is a
    # no-op, not a crash after an append
    if not new_pages.limit(1).count():
        return {"added_docs": 0, "touched_buckets": 0}

    # open the update: snapshot the pre-update file inventory so a
    # crash anywhere below rolls back to exactly this state
    _write_pending(out_dir, stats["fingerprint"])

    if replace:
        from job_searchengine_project_spark.index.tombstone import TOMBSTONE_DIR

        # tombstone every existing row of the batch's urls BEFORE the
        # new versions append — this write is the action that evaluates
        # the url match, so it cannot see the new rows; a twice-replaced
        # url re-tombstones its first replacement (load_tombstones
        # dedupes). Batch urls are micro-batch-sized: broadcast.
        old = (
            spark.read.parquet(forward_dir)
            .join(F.broadcast(new_pages.select("url").distinct()), "url", "left_semi")
            .select("doc_id")
        )
        old.write.mode("append").parquet(os.path.join(out_dir, TOMBSTONE_DIR))
        if _fail_point == "after_tombstones":
            raise RuntimeError("injected crash after tombstone append")

    use_extractor = bool(stats.get("use_extractor"))
    docs_new = prepare_docs(
        new_pages, analyzer=analyzer, use_extractor=use_extractor,
        with_positions=with_pos,
    ).withColumn("doc_id", F.col("doc_id") + F.lit(n_old))
    docs_new.write.mode("append").parquet(forward_dir)
    if _fail_point == "after_forward":
        raise RuntimeError("injected crash after forward append")
    if stats.get("store_fields"):
        from job_searchengine_project_spark.index.build import _write_stored_fields

        _write_stored_fields(
            new_pages, os.path.join(out_dir, "stored"),
            use_extractor=use_extractor,
            stored_buckets=int(stats.get("stored_buckets", 64)),
            mode="append",
            gen=n_old,  # newest version of a replaced url = max _gen
        )
    if _fail_point == "after_stored":
        raise RuntimeError("injected crash after stored append")
    if stats.get("doc_values"):
        from job_searchengine_project_spark.index.build import _write_doc_values

        # new generation's rows only (doc_id >= n_old): one value-sorted
        # file set per column per update — pruning is per-file, so
        # generations stack and the pending manifest rolls a crash back
        _write_doc_values(
            spark, new_pages, out_dir, list(stats["doc_values"]),
            min_doc_id=n_old,
        )
    fwd_new = spark.read.parquet(forward_dir).filter(F.col("doc_id") >= n_old)
    agg = fwd_new.agg(
        F.count("*").alias("m"), F.sum("doclen").alias("tok")
    ).collect()[0]
    m, new_tokens = int(agg["m"]), int(agg["tok"] or 0)

    # --- encode new postings (frozen avgdl) -------------------------------
    # the build's pack -> (term, salt) -> encode pipeline over the batch's
    # forward rows; head terms split by doc range within the batch
    # (salt = (doc_id - n_old) // ceil(m / n_salts))
    head_map = _head_terms(fwd_new, m, target_postings_per_salt)
    packed = _pack_forward(
        fwd_new, avgdl=avgdl, n_docs=m, head_map=head_map,
        term_buckets=1, base=n_old,  # term_bucket is stamped by the merge
    ).drop("term_bucket")
    new_partials = _encode_packed(packed, block_size)
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # merge the batch per term (one row per term per update — the new
    # GENERATION row) and stamp its term_bucket; existing rows of the
    # bucket are never read
    new_segments = new_partials.repartition(shuffle_n, "term").mapInPandas(
        lambda it: _merge_partition(it, term_buckets=term_buckets),
        schema=segment_schema,
    ).cache()
    touched = sorted(
        r["term_bucket"]
        for r in new_segments.select("term_bucket").distinct().collect()
    )
    # --- append the generation: O(batch) bytes, existing files untouched --
    # (a batch of token-less docs has no segments to append, but its
    # forward rows still count — the stats commit below must run or the
    # appended rows would be purged as orphans by the next recovery)
    if touched:
        (
            new_segments.repartition("term_bucket")
            .sortWithinPartitions("term")
            .write.mode("append")
            .partitionBy("term_bucket")
            .parquet(segments_dir)
        )
    new_segments.unpersist()
    if _fail_point == "after_segments":
        raise RuntimeError("injected crash after segments append")

    # --- commit: stats (atomic replace — THE commit point) + lineage ------
    _write_stats_dict(
        stats_path,
        n_docs=n_old + m,
        avgdl=avgdl,  # frozen; recorded as-is so oracle uses the same value
        total_tokens=int(stats["total_tokens"]) + new_tokens,
        analyzer=analyzer,
        block_size=block_size,
        term_buckets=term_buckets,
        fingerprint=stats["fingerprint"] + f"+update{m}",
        store_fields=stats.get("store_fields", False),
        stored_buckets=stats.get("stored_buckets", 64),
        positions=stats.get("positions", False),
        use_extractor=use_extractor,
        n_purged=stats.get("n_purged", 0),
        doc_values=stats.get("doc_values"),
        # preserve the purge-replay guard (ADVICE r5 #2): dropping it
        # in a stats rewrite inside the purge crash window would let a
        # purge replay credit the same tombstones to n_purged twice
        last_purge_fp=stats.get("last_purge_fp"),
    )
    if _fail_point == "after_commit":
        raise RuntimeError("injected crash after stats commit")
    _append_lineage(
        spark,
        os.path.join(out_dir, "lineage"),
        stage="update",
        build_fp=stats["fingerprint"] + f"+update{m}",
        rows=[
            {"partition_id": int(b), "doc_count": int(m), "term_count": 0,
             "bytes_written": 0}
            for b in touched
        ],
    )
    os.remove(os.path.join(out_dir, PENDING_MARKER))
    return {"added_docs": m, "touched_buckets": len(touched)}
