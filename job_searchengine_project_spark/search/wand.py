"""Block-max WAND top-k over compressed posting segments: a reference
kernel that no query path calls.

Every match-OR top-k — the driver engine and each shard — runs the
vectorized accumulate + select kernel (search/engine.py
``accumulate_arrays``/``topk_pairs``), which beats this Python
document-at-a-time loop on the same segments. This module stays for
kernel comparisons: tests, ``SearchEngine.search(strategy="wand")``
and the benchmarks' per-strategy probes.

Document-at-a-time disjunctive (match-OR) top-k with two pruning
levels:

- term-level WAND pivoting: cursors sorted by current doc_id; the
  pivot is the first position where cumulative term upper bounds
  (idf * global max tf-norm) reach the running threshold;
- block-max refinement: when cursors align on a pivot, the *per-block*
  tf-norm maxima give a tighter bound; if it can't beat the threshold,
  all aligned cursors deep-skip to the end of the shortest current
  block (guarded by the next non-aligned cursor's doc) without
  decoding or scoring anything in between.

Exactness: all bounds are true upper bounds computed with the same
float64 formula as real scores; the threshold comparison keeps a
1e-9 slack so rounding can never cause a false skip — the engine may
score a few extra docs, never miss one. Results use the vectorized
kernel's ordering (desc score, asc doc_id tie-break); scores agree to
1e-9 but not bitwise, because the float operations group differently.
So on docs that tie exactly in the vectorized kernel, this kernel's
order — and a ``search_after`` cursor taken from it — can differ by
a 1-ulp score difference.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import numpy as np

from job_searchengine_project_spark.index import codec

_EXHAUSTED = 1 << 62
_SLACK = 1e-9


@dataclass
class TermCursor:
    term: str
    enc: codec.EncodedPostings
    idf: float
    # internal state
    _block: int = field(default=-1, init=False)
    _pos: int = field(default=0, init=False)
    _docs: np.ndarray | None = field(default=None, init=False)
    _tfs: np.ndarray | None = field(default=None, init=False)
    _doc_off: np.ndarray | None = field(default=None, init=False)
    _tf_off: np.ndarray | None = field(default=None, init=False)
    current_doc: int = field(default=_EXHAUSTED, init=False)
    max_score: float = field(default=0.0, init=False)

    def __post_init__(self):
        self._doc_off = codec.block_offsets(np.asarray(self.enc.block_doc_bytes))
        self._tf_off = codec.block_offsets(np.asarray(self.enc.block_tf_bytes))
        self.max_score = (
            self.idf * float(np.max(self.enc.block_max_tfnorm))
            if len(self.enc.block_max_tfnorm)
            else 0.0
        )
        if self.enc.count:
            self._load_block(0)
        else:
            self.current_doc = _EXHAUSTED

    def _load_block(self, i: int) -> None:
        if i >= len(self.enc.block_n):
            self.current_doc = _EXHAUSTED
            return
        self._block = i
        self._docs, self._tfs = codec.decode_block(self.enc, i, self._doc_off, self._tf_off)
        self._pos = 0
        self.current_doc = int(self._docs[0])

    @property
    def current_tf(self) -> int:
        return int(self._tfs[self._pos])

    @property
    def block_last(self) -> int:
        return int(self.enc.block_last_doc[self._block])

    @property
    def block_max_score(self) -> float:
        return self.idf * float(self.enc.block_max_tfnorm[self._block])

    def advance(self) -> None:
        """Move to the next posting."""
        if self.current_doc == _EXHAUSTED:
            return
        self._pos += 1
        if self._pos < len(self._docs):
            self.current_doc = int(self._docs[self._pos])
        else:
            self._load_block(self._block + 1)

    def next_geq(self, target: int) -> None:
        """Seek to the first posting with doc_id >= target."""
        if self.current_doc == _EXHAUSTED or self.current_doc >= target:
            return
        if target > self.block_last:
            # binary search over block_last_doc for the first block that
            # can contain target — skipped blocks are never decoded
            j = int(np.searchsorted(self.enc.block_last_doc, target, side="left"))
            if j >= len(self.enc.block_n):
                self.current_doc = _EXHAUSTED
                return
            self._load_block(j)
        p = int(np.searchsorted(self._docs, target, side="left"))
        if p >= len(self._docs):  # cannot happen (block_last >= target) but be safe
            self._load_block(self._block + 1)
            if self.current_doc != _EXHAUSTED:
                self.next_geq(target)
            return
        self._pos = p
        self.current_doc = int(self._docs[p])

    def contribution(self, doclen: float, avgdl: float, k1: float, b: float) -> float:
        tf = float(self.current_tf)
        return self.idf * (tf / (tf + k1 * (1.0 - b + b * (doclen / avgdl))))


def wand_topk(
    cursors: list[TermCursor],
    doclens: np.ndarray,
    avgdl: float,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    deleted: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Exact BM25 top-k; returns [(doc_id, score)] rank-ordered.

    ``deleted``: optional SORTED int64 array of tombstoned doc_ids
    (index/tombstone.py) — such docs are never scored (the Lucene
    liveDocs check at the pivot), so a stale version can't occupy a
    top-k slot."""
    cursors = [c for c in cursors if c.current_doc != _EXHAUSTED]
    if not cursors or k <= 0:
        return []
    if deleted is not None and deleted.size == 0:
        deleted = None
    # min-heap of (score, -doc_id): root = worst kept hit
    heap: list[tuple[float, int]] = []

    def threshold() -> float:
        return heap[0][0] if len(heap) >= k else float("-inf")

    while True:
        cursors = [c for c in cursors if c.current_doc != _EXHAUSTED]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.current_doc)
        theta = threshold()
        acc = 0.0
        pivot_idx = -1
        for i, c in enumerate(cursors):
            acc += c.max_score
            if acc >= theta - _SLACK:
                pivot_idx = i
                break
        if pivot_idx == -1:
            break  # even all terms together can't beat the threshold
        pivot_doc = cursors[pivot_idx].current_doc

        if cursors[0].current_doc == pivot_doc:
            matching = [c for c in cursors if c.current_doc == pivot_doc]
            if deleted is not None:
                j = int(np.searchsorted(deleted, pivot_doc))
                if j < deleted.size and int(deleted[j]) == pivot_doc:
                    for c in matching:  # tombstoned: skip without scoring
                        c.advance()
                    continue
            block_ub = sum(c.block_max_score for c in matching)
            if block_ub < theta - _SLACK:
                # deep skip: inside the current blocks nothing can beat
                # theta; jump past the shortest block, bounded by the
                # next non-matching cursor
                next_cand = min(c.block_last for c in matching) + 1
                non_matching = [c for c in cursors if c.current_doc > pivot_doc]
                if non_matching:
                    next_cand = min(next_cand, non_matching[0].current_doc)
                for c in matching:
                    c.next_geq(next_cand)
                continue
            dl = float(doclens[pivot_doc])
            score = 0.0
            for c in sorted(matching, key=lambda c: c.term):  # oracle sum order
                score += c.contribution(dl, avgdl, k1, b)
            if len(heap) < k:
                heapq.heappush(heap, (score, -pivot_doc))
            else:
                worst_score, neg_doc = heap[0]
                if score > worst_score or (score == worst_score and pivot_doc < -neg_doc):
                    heapq.heapreplace(heap, (score, -pivot_doc))
            for c in matching:
                c.advance()
        else:
            # advance the highest-impact cursor before the pivot
            pre = [c for c in cursors[:pivot_idx] if c.current_doc < pivot_doc]
            mover = max(pre, key=lambda c: c.max_score)
            mover.next_geq(pivot_doc)

    out = sorted(((-d, s) for s, d in heap), key=lambda x: (-x[1], x[0]))
    return [(d, s) for d, s in out]
