"""Tombstones: document delete / replace with ES `_id`-overwrite parity.

The reference's whole idempotency story is ES `_id=msgid` overwrite
(common/job_class.py:149-157, warehouse/warehouse.py:140-143):
re-crawling a changed posting REPLACES the indexed doc. Lucene
implements that as: the old doc_id joins a deleted-docs bitset, the
new version is indexed as a fresh doc in a new segment, and merges
physically drop tombstoned postings later. This module is the exact
analog over the segment-stacked layout:

- ``deleted/``: appended parquet files of tombstoned ``doc_id``s
  (covered by the update pending-manifest, so a crashed replace rolls
  its tombstones back with everything else);
- every query path drops tombstoned docs at scoring time
  (the vectorized kernels mask, the reference WAND kernel skips the
  pivot) — results never
  contain a deleted/stale doc;
- **scoring contract (Lucene/ES parity, documented + oracle-checked)**:
  until a purging compaction runs, tombstoned docs STILL count in df
  and in N (ES "docs.deleted" behavior) — exactly what Lucene reports
  before segments merge. ``compact_index(purge_deletes=True)`` then
  drops the postings, forward and docstore rows, records
  ``n_purged`` in stats (idf N becomes n_docs - n_purged = live
  count), and clears the tombstone files;
- replaced urls keep ONE docstore answer: stored rows carry the
  writing update's generation base (``_gen``); readers serve the
  max-_gen row per url.

``delete_docs`` tombstones urls outright; ``update_index(...,
replace=True)`` (index/update.py) tombstones the old doc_ids of
re-crawled urls before appending the new versions.
"""

from __future__ import annotations

import json
import os

import numpy as np

TOMBSTONE_DIR = "deleted"

# per-process cache: index_dir -> (file-listing key, sorted doc_id array)
_CACHE: dict[str, tuple[tuple[str, ...], np.ndarray]] = {}

_EMPTY = np.empty(0, dtype=np.int64)


def load_tombstones(index_dir: str) -> np.ndarray:
    """Sorted int64 array of tombstoned doc_ids (empty when none).

    Memoized per process, keyed by the tombstone-file listing, so a
    long-lived engine sees new deletes and a purge invalidates the
    cache. Tombstones are batch-sized (bounded by re-crawl volume
    between compactions), never corpus-sized."""
    root = os.path.join(index_dir, TOMBSTONE_DIR)
    if not os.path.isdir(root):
        return _EMPTY
    files = tuple(sorted(f for f in os.listdir(root) if f.endswith(".parquet")))
    if not files:
        return _EMPTY
    hit = _CACHE.get(index_dir)
    if hit is not None and hit[0] == files:
        return hit[1]
    import pyarrow.dataset as pads

    tbl = pads.dataset([os.path.join(root, f) for f in files]).to_table(
        columns=["doc_id"]
    )
    arr = np.unique(tbl.column("doc_id").to_numpy().astype(np.int64))
    _CACHE[index_dir] = (files, arr)
    return arr


# per-process cache: (index_dir, lo, hi) -> (file-listing key, slice)
_RANGE_CACHE: dict[tuple[str, int, int], tuple[tuple[str, ...], np.ndarray]] = {}


def load_tombstones_range(index_dir: str, lo: int, hi: int) -> np.ndarray:
    """Sorted tombstoned doc_ids within [lo, hi) — ONE doc-range
    shard's slice of the tombstone set, read with the range pushed
    into the parquet scan. This is what the sharded query kernels call
    EXECUTOR-side: each shard pays only for its own doc range and no
    global tombstone set is ever built on or broadcast from the
    driver (the per-shard analog of Lucene's per-segment deleted-docs
    bitset). Memoized per (process, shard range), keyed by the
    tombstone-file listing so new deletes invalidate and a purge
    clears."""
    root = os.path.join(index_dir, TOMBSTONE_DIR)
    if not os.path.isdir(root):
        return _EMPTY
    files = tuple(sorted(f for f in os.listdir(root) if f.endswith(".parquet")))
    if not files:
        return _EMPTY
    key = (index_dir, int(lo), int(hi))
    hit = _RANGE_CACHE.get(key)
    if hit is not None and hit[0] == files:
        return hit[1]
    import pyarrow.dataset as pads

    flt = (pads.field("doc_id") >= int(lo)) & (pads.field("doc_id") < int(hi))
    tbl = pads.dataset([os.path.join(root, f) for f in files]).to_table(
        columns=["doc_id"], filter=flt
    )
    arr = np.unique(tbl.column("doc_id").to_numpy().astype(np.int64))
    _RANGE_CACHE[key] = (files, arr)
    return arr


def is_deleted(deleted: np.ndarray, doc_id: int) -> bool:
    j = int(np.searchsorted(deleted, doc_id))
    return j < deleted.size and int(deleted[j]) == doc_id


def delete_docs(spark, index_dir: str, urls: list[str]) -> dict:
    """Tombstone every doc whose url is in ``urls`` (pure delete — the
    ES DELETE-by-_id analog). The stats commit (fingerprint gains
    ``+deleteN``) is the atomic commit point; the pending manifest
    rolls a crash back, same as update_index."""
    from pyspark.sql import functions as F

    from job_searchengine_project_spark.index.build import _write_stats_dict
    from job_searchengine_project_spark.index.update import (
        PENDING_MARKER,
        _write_pending,
        recover_index,
    )

    recover_index(index_dir)
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if not urls:
        return {"tombstoned": 0}
    _write_pending(index_dir, stats["fingerprint"])
    fwd = spark.read.parquet(os.path.join(index_dir, "forward"))
    old = fwd.filter(F.col("url").isin(list(urls))).select("doc_id")
    old.write.mode("append").parquet(os.path.join(index_dir, TOMBSTONE_DIR))
    n = int(
        spark.read.parquet(os.path.join(index_dir, TOMBSTONE_DIR))
        .select("doc_id").distinct().count()
    )
    _write_stats_dict(
        os.path.join(index_dir, "stats.json"),
        n_docs=stats["n_docs"], avgdl=stats["avgdl"],
        total_tokens=stats["total_tokens"], analyzer=stats["analyzer"],
        block_size=stats["block_size"], term_buckets=stats["term_buckets"],
        fingerprint=stats["fingerprint"] + f"+delete{n}",
        store_fields=stats.get("store_fields", False),
        stored_buckets=stats.get("stored_buckets", 64),
        positions=stats.get("positions", False),
        use_extractor=stats.get("use_extractor", False),
        n_purged=stats.get("n_purged", 0),
        doc_values=stats.get("doc_values"),
        # preserve the purge-replay guard (ADVICE r5 #2): dropping it
        # in a stats rewrite inside the purge crash window would let a
        # purge replay credit the same tombstones to n_purged twice
        last_purge_fp=stats.get("last_purge_fp"),
    )
    os.remove(os.path.join(index_dir, PENDING_MARKER))
    return {"tombstoned": n}
