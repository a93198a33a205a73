"""Query engine: term lookup -> segment load -> block-max WAND top-k.

Read path is keyed parquet point reads (``iolayout.ParquetSnapshot``):
the segments table is partitioned by ``term_bucket`` (directory
pruning) and sorted by ``term`` within files (row-group min/max
pruning), so a query touches only the row groups holding its terms —
the Spark-side equivalent of a term-dictionary seek. Hit urls and
stored fields are the same keyed reads over the forward table and the
url-bucketed docstore. Doclens load once per index and memoize (the
docstore is the norms file; at 10^12-doc scale this becomes
per-doc-range shards co-resident with segment shards — see README
scale notes).

Scoring is float64, identical math and identical per-doc summation
order (sorted by term) to the DataFrame oracle, so parity is exact to
1e-9 with ascending-doc_id tie-break.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as pads

from job_searchengine_project_spark import BM25_B, BM25_K1
from job_searchengine_project_spark.index import codec
from job_searchengine_project_spark.index.build import _term_bucket_py
from job_searchengine_project_spark.iolayout import ParquetSnapshot
from job_searchengine_project_spark.search.stored import newest_stored_rows
from job_searchengine_project_spark.search.wand import TermCursor, wand_topk


def dv_filter_expr(
    col: str,
    *,
    eq=None,
    gte=None,
    gt=None,
    lte=None,
    lt=None,
    isin=None,
    exists=None,
):
    """Bounds of a doc-values range/term filter as ONE pyarrow dataset
    expression (pushed into parquet row-group statistics by every
    reader — driver sidecars and shard-partitioned slices alike).
    ``isin`` is the ES `terms` query (any of a value list); ``exists``
    the ES `exists` query (non-null value)."""
    expr = None
    for bound, val in (
        (pads.field(col) == eq, eq),
        (pads.field(col) >= gte, gte),
        (pads.field(col) > gt, gt),
        (pads.field(col) <= lte, lte),
        (pads.field(col) < lt, lt),
    ):
        if val is not None:
            expr = bound if expr is None else expr & bound
    if isin is not None:
        b = pads.field(col).isin(sorted(set(isin)))
        expr = b if expr is None else expr & b
    if exists:
        b = ~pads.field(col).is_null()
        expr = b if expr is None else expr & b
    if expr is None:
        raise ValueError("doc_values filter needs at least one bound")
    return expr


def doc_values_docs_at(
    root: str,
    dv_cols: list[str],
    tombstones: np.ndarray,
    col: str,
    *,
    eq=None,
    gte=None,
    gt=None,
    lte=None,
    lt=None,
    isin=None,
    exists=None,
) -> set[int]:
    """Shared doc-values filter read over ``root/docvalues/<col>``
    (used by both the single-index and fielded engines)."""
    if col not in dv_cols:
        raise KeyError(f"no doc-values for {col!r}; built columns: {dv_cols}")
    expr = dv_filter_expr(
        col, eq=eq, gte=gte, gt=gt, lte=lte, lt=lt, isin=isin, exists=exists
    )
    tbl = pads.dataset(os.path.join(root, "docvalues", col)).to_table(
        columns=["doc_id"], filter=expr
    )
    docs = set(tbl.column("doc_id").to_pylist())
    if tombstones.size and docs:
        docs.difference_update(tombstones.tolist())
    return docs


def accumulate_arrays(
    term_arrays: dict,
    idf_of,
    dl_of,
    avgdl: float,
    k1: float,
    b: float,
    deleted: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized per-doc BM25 accumulation over decoded posting
    arrays: returns (unique sorted doc_ids, summed scores). Float
    summation order is the documented sorted-term order — per-term
    partials concatenate in sorted-term order and a STABLE sort by doc
    keeps that order inside each doc's reduceat segment, so the sums
    are bit-identical to a term-by-term scalar accumulation (the shape
    all parity oracles pin)."""
    doc_parts, score_parts = [], []
    for t in sorted(term_arrays):
        docs, tfs = term_arrays[t]
        idf = idf_of(t)
        dls = dl_of(docs)
        score_parts.append(idf * (tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))))
        doc_parts.append(docs)
    if not doc_parts:
        return np.empty(0, dtype=np.int64), np.empty(0)
    all_docs = np.concatenate(doc_parts)
    all_scores = np.concatenate(score_parts)
    if deleted.size:
        live = ~np.isin(all_docs, deleted)
        all_docs, all_scores = all_docs[live], all_scores[live]
    if all_docs.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    order = np.argsort(all_docs, kind="stable")
    d = all_docs[order]
    s = all_scores[order]
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    return d[starts], np.add.reduceat(s, starts)


def exhaustive_topk_arrays(
    term_arrays: dict,
    idf_of,
    dl_of,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
    deleted: np.ndarray,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Vectorized term-at-a-time OR scoring over decoded posting
    arrays (exact, oracle sum order) — the shared kernel behind the
    driver engine's exhaustive strategy AND the per-shard dense path
    (index/sharded.py): ``term_arrays`` maps term -> (docs, tfs),
    ``idf_of(term)`` supplies idf (engine-local or global-df), and
    ``dl_of(docs)`` resolves doclens (dense driver array or
    shard-local offset array).

    Accumulation is ``accumulate_arrays`` (sorted-term float order),
    selection ``topk_pairs``.
    """
    uniq, sums = accumulate_arrays(
        term_arrays, idf_of, dl_of, avgdl, k1, b, deleted
    )
    return topk_pairs(uniq, sums, k, after)


def topk_pairs(
    uniq: np.ndarray,
    sums: np.ndarray,
    k: int,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """The top ``k`` (doc_id, score) of accumulated scores, ordered
    (-score, doc_id); ``k <= 0`` selects nothing (a count-only call).
    ``argpartition`` ties at the k-boundary are widened to the full
    tie set so the sort applies the documented asc-doc_id tie-break
    exactly."""
    if after is not None:
        # search_after cursor (ES deep-pagination): keep only docs
        # STRICTLY after (score desc, doc_id asc) the cursor — one
        # vectorized mask, O(candidates) memory per page instead of the
        # O(from + size) heap from/size pays. Exact when the cursor's
        # floats come from this kernel (the search_after path always
        # does); a cursor from the WAND kernel can differ by 1 ulp on
        # ties (documented cross-kernel bound).
        s_a, d_a = float(after[0]), int(after[1])
        keep = (sums < s_a) | ((sums == s_a) & (uniq > d_a))
        uniq, sums = uniq[keep], sums[keep]
    if uniq.size == 0 or k <= 0:
        return []
    if k >= uniq.size:
        idx = np.arange(uniq.size)
    else:
        part = np.argpartition(-sums, k - 1)[:k]
        kth = sums[part].min()
        idx = np.flatnonzero(sums >= kth)
    cand = sorted(zip(uniq[idx].tolist(), sums[idx].tolist()), key=lambda x: (-x[1], x[0]))
    return cand[:k]


def fuzzy_expand_at(variants_dir: str, term: str, max_edits: int) -> list[str]:
    """Pruned lookup against a persisted delete-variant table
    (index/fuzzy.py): read only the row groups holding the query
    term's own variants (the table is variant-sorted, so the isin
    filter prunes on row-group statistics), then exact-Levenshtein
    verify. O(|variants(term)|) regardless of vocabulary size —
    shared by the driver engine and the sharded query path."""
    variants = sorted(SearchEngine._delete_variants(term, max_edits))
    tbl = pads.dataset(variants_dir).to_table(
        columns=["term"], filter=pads.field("variant").isin(variants)
    )
    cands = set(tbl.column("term").to_pylist())
    return sorted(
        t for t in cands if SearchEngine._edit_distance(t, term) <= max_edits
    )


@dataclass
class SearchHit:
    doc_id: int
    score: float
    url: str | None = None
    fields: dict | None = None  # stored fields (ES _source parity)


class SearchEngine:
    """Driver-side query engine over a built index directory.

    Snapshot contract: the segment, forward and stored file sets are
    listed once, at their first read, and kept for the engine's life
    (``iolayout.ParquetSnapshot`` — footers cached, no dataset
    discovery per query). Tombstones stay live: they are re-read
    whenever the ``deleted/`` listing changes, so a ``delete_docs``
    shows in the next answer of an open engine. After ``update_index``
    or ``compact_index`` open a new engine: an open one does not see
    appended files, and a compaction deletes files it would read."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        self.n_docs = int(self.stats["n_docs"])
        # idf N: docs that still count toward corpus stats — tombstoned
        # docs count until a purging compaction removes them (Lucene
        # docs.deleted semantics, index/tombstone.py contract); n_docs
        # itself is the doc-ID SPACE (array sizing, next-update base)
        self.n_eff = self.n_docs - int(self.stats.get("n_purged", 0))
        self.avgdl = float(self.stats["avgdl"])
        self.term_buckets = int(self.stats["term_buckets"])
        self._doclens: np.ndarray | None = None
        self._urls: dict[int, str] = {}
        self._snapshots: dict[str, ParquetSnapshot] = {}

    @property
    def tombstones(self) -> np.ndarray:
        """Sorted tombstoned doc_ids (listing-keyed memo — see
        index/tombstone.py)."""
        from job_searchengine_project_spark.index.tombstone import load_tombstones

        return load_tombstones(self.index_dir)

    # --- storage access ---------------------------------------------------

    _PARTITION = {"segments": "term_bucket", "stored": "sbucket"}

    def _snapshot(self, sub: str) -> ParquetSnapshot:
        """The engine's one keyed reader of ``index_dir/<sub>``
        (forward, stored or segments), listed at first use."""
        if sub not in self._snapshots:
            self._snapshots[sub] = ParquetSnapshot(
                os.path.join(self.index_dir, sub), self._PARTITION.get(sub)
            )
        return self._snapshots[sub]

    @property
    def doclens(self) -> np.ndarray:
        # the ONE full forward read the engine keeps: WAND needs the
        # norm of every scored doc, so the dense doclen array is the
        # driver engine's working set (8 B/doc; the distributed paths
        # hold it shard-local instead)
        if self._doclens is None:
            t = self._snapshot("forward").read(["doc_id", "doclen"])
            arr = np.zeros(self.n_docs, dtype=np.float64)
            arr[t["doc_id"].to_numpy()] = t["doclen"].to_numpy()
            self._doclens = arr
        return self._doclens

    def live_doc_ids(self) -> set[int]:
        """Every live doc id: one single-column forward read minus
        tombstones (the match_all hit set; at cluster scale this is
        the forward table itself — never fetched to one node)."""
        t = self._snapshot("forward").read(["doc_id"])
        docs = set(t.column("doc_id").to_pylist())
        dele = self.tombstones
        if dele.size and docs:
            docs.difference_update(dele.tolist())
        return docs

    def fields_of(self, doc_id: int) -> dict | None:
        """Stored fields for one hit (ES hit _source, README.md:19-38):
        ``fields_of_many`` of one id."""
        return self.fields_of_many([doc_id])[doc_id]

    def fields_of_many(self, doc_ids: list[int]) -> dict[int, dict | None]:
        """Stored fields of a hit list: the hit urls' docstore buckets
        only (partition pruning), then the url row groups inside them
        (``newest_stored_rows``). At this index's sizes each bucket
        file is one row group, so a touched file is read whole; the
        saving is one cached-footer read per touched file instead of a
        dataset open per hit."""
        if not self.stats.get("store_fields"):
            return dict.fromkeys(doc_ids)
        self._fetch_urls(list(doc_ids))
        rows = newest_stored_rows(
            self._snapshot("stored"),
            [self._urls[d] for d in doc_ids],
            int(self.stats.get("stored_buckets", 64)),
        )
        out: dict[int, dict | None] = {}
        for d in doc_ids:
            row = rows.get(self._urls[d])
            out[d] = None if row is None else dict(row)
        return out

    def get(self, url: str) -> dict:
        """ES ``GET /<index>/_doc/<id>`` parity (_id = url): ``mget`` of
        one url — newest generation wins, tombstoned docs report
        found=false."""
        if not self.stats.get("store_fields"):
            raise ValueError("get() requires an index built with store_fields")
        return self.mget([url])["docs"][0]

    def mget(self, urls: list[str]) -> dict:
        """ES ``_mget`` parity (_id = url): one keyed docstore read over
        the requested urls' buckets (``newest_stored_rows``), the ES
        shard-grouped multi-get shape. A url whose every version is
        tombstoned is not found; the liveness probe reads the forward
        (doc_id, url) columns by url. The forward table is not
        url-sorted, so that probe reads every forward row group's two
        columns; at 10^12-doc scale the doc_id belongs IN the url-sorted
        docstore row so the probe is the same bucket read — noted, not
        yet needed at this index's scale. Response order matches the
        request; each doc is the ``{"_id", "found"[, "_source"]}``
        shape ``get()`` returns."""
        from job_searchengine_project_spark.index.tombstone import is_deleted

        if not self.stats.get("store_fields"):
            raise ValueError("mget() requires an index built with store_fields")
        found = newest_stored_rows(
            self._snapshot("stored"), urls, int(self.stats.get("stored_buckets", 64))
        )
        dele = self.tombstones
        if dele.size and found:
            t = self._snapshot("forward").read(
                ["doc_id", "url"], key="url", values=found
            )
            live = {
                u
                for d, u in zip(t["doc_id"].to_pylist(), t["url"].to_pylist())
                if not is_deleted(dele, d)
            }
            found = {u: row for u, row in found.items() if u in live}
        docs = []
        for u in urls:
            row = found.get(u)
            if row is None:
                docs.append({"_id": u, "found": False})
            else:
                docs.append({"_id": u, "found": True, "_source": dict(row)})
        return {"docs": docs}

    def _fetch_urls(self, doc_ids: list[int]) -> None:
        """Memoized batch point-lookup of hit urls — NEVER loads the
        whole url column: a doc_id-keyed forward read. The forward
        files are not doc-id ranges at these sizes (a file's doc_id
        min/max spans most of its generation), so the read covers each
        generation's (doc_id, url) columns."""
        missing = sorted({int(d) for d in doc_ids if d not in self._urls})
        if not missing:
            return
        t = self._snapshot("forward").read(
            ["doc_id", "url"], key="doc_id", values=missing
        )
        self._urls.update(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))

    def url_of(self, doc_id: int) -> str:
        self._fetch_urls([doc_id])
        return self._urls[doc_id]

    def load_segments(self, terms: list[str]) -> dict[str, codec.EncodedPostings]:
        """Keyed read: only the buckets/row-groups of the query terms.

        A term updated G times has G+1 GENERATION rows (segment
        stacking, index/update.py) — doc-range-disjoint, so they merge
        by blob concatenation ordered by first_doc; ``compact_index``
        folds them back to one row."""
        terms = sorted(set(terms))
        tbl = self._snapshot("segments").read(
            key="term",
            values=terms,
            parts={_term_bucket_py(t, self.term_buckets) for t in terms},
        )
        has_pos = "pos_blob" in tbl.column_names
        parts: dict[str, list[codec.EncodedPostings]] = {}
        for row in tbl.to_pylist():
            parts.setdefault(row["term"], []).append(
                codec.EncodedPostings(
                    count=int(row["df"]),
                    first_doc=int(row["first_doc"]),
                    doc_blob=row["doc_blob"],
                    tf_blob=row["tf_blob"],
                    block_n=np.asarray(row["block_n"], dtype=np.int32),
                    block_last_doc=np.asarray(row["block_last_doc"], dtype=np.int64),
                    block_doc_bytes=np.asarray(row["block_doc_bytes"], dtype=np.int32),
                    block_tf_bytes=np.asarray(row["block_tf_bytes"], dtype=np.int32),
                    block_max_tfnorm=np.asarray(row["block_max_tfnorm"], dtype=np.float64),
                    pos_blob=row.get("pos_blob") or b"" if has_pos else b"",
                    block_pos_bytes=(
                        np.asarray(row["block_pos_bytes"], dtype=np.int32)
                        if has_pos and row.get("block_pos_bytes")
                        else None
                    ),
                )
            )
        return {
            t: ps[0]
            if len(ps) == 1
            else codec.concat_encoded(sorted(ps, key=lambda p: p.first_doc))
            for t, ps in parts.items()
        }

    # --- scoring ------------------------------------------------------------

    def _idf(self, df: int) -> float:
        return float(np.log1p((self.n_eff - df + 0.5) / (df + 0.5)))

    # above this many candidate postings per *selective* profile, the
    # document-at-a-time Python WAND loop loses to one vectorized
    # numpy pass (same trade Lucene makes between BlockMaxWAND and
    # exhaustive bulk scorers)
    DENSE_POSTINGS_CUTOFF = 50_000

    def search(
        self,
        query_terms: list[str],
        k: int = 10,
        with_urls: bool = True,
        with_fields: bool = False,
        strategy: str = "auto",
        offset: int = 0,
        search_after: tuple[float, int] | None = None,
    ) -> list[SearchHit]:
        """BM25 top-k (ES match-OR semantics). Exact under every
        strategy; `auto` picks block-max WAND for selective queries and
        the vectorized term-at-a-time kernel for stopword-dense ones.

        ``offset``/``k`` are ES `from`/`size`: the kernels compute the
        top (offset + k) and the first ``offset`` rows are dropped —
        deep pagination costs what it costs in ES/Lucene for the same
        reason (rank ``offset + k`` must be proven before anything
        after it is correct). ES caps from+size (10k default) exactly
        because of that cost; ``search_after`` is the scale-safe
        cursor form: pass the LAST hit's (score, doc_id) and the next
        page costs O(candidates) with no depth term. The cursor path
        always runs the vectorized exact kernel (a cursor needs every
        candidate's score anyway); for exact page tiling fetch page 1
        with strategy="exhaustive" too (a WAND-produced cursor can
        differ by 1 ulp on exact ties — documented kernel bound)."""
        if search_after is not None and offset:
            raise ValueError("search_after and offset are exclusive")
        depth = k + max(0, offset)
        hits, _ = self._ranked(query_terms, depth, strategy, after=search_after)
        hits = hits[offset : offset + k] if offset > 0 else hits
        return self._attach(
            [SearchHit(doc_id=d, score=s) for d, s in hits], with_urls, with_fields
        )

    def _ranked(
        self,
        query_terms: list[str],
        depth: int,
        strategy: str = "auto",
        after: tuple[float, int] | None = None,
        count: bool = False,
    ) -> tuple[list[tuple[int, float]], int]:
        """One match-OR evaluation: a single segment read, the strategy
        router, one kernel call for the top ``depth`` (doc_id, score)
        — and, with ``count``, the exact live match total taken from
        the same segments (the exhaustive kernel's accumulated doc set,
        or the decoded doc-id union beside WAND). The total is 0 when
        not counted."""
        segs = self.load_segments(query_terms)
        if not segs:
            return [], 0
        if after is not None:
            strategy = "exhaustive"  # a cursor needs every candidate's score
        elif strategy == "auto":
            total = sum(s.count for s in segs.values())
            strategy = "exhaustive" if total > self.DENSE_POSTINGS_CUTOFF else "wand"
        if strategy == "exhaustive":
            uniq, sums = self._accumulate(segs)
            return topk_pairs(uniq, sums, depth, after), int(uniq.size)
        if strategy != "wand":
            raise ValueError(f"unknown strategy: {strategy}")
        cursors = [
            TermCursor(term=t, enc=enc, idf=self._idf(enc.count))
            for t, enc in sorted(segs.items())
        ]
        hits = wand_topk(
            cursors, self.doclens, self.avgdl, depth, k1=BM25_K1, b=BM25_B,
            deleted=self.tombstones,
        )
        return hits, int(self._live_docs(segs).size) if count else 0

    def _attach(
        self, hits: list[SearchHit], with_urls: bool = True, with_fields: bool = False
    ) -> list[SearchHit]:
        """Fill the hits' urls (one forward read) and, with
        ``with_fields``, their stored fields (one docstore read)."""
        if with_urls or with_fields:
            self._fetch_urls([h.doc_id for h in hits])
            for h in hits:
                h.url = self._urls[h.doc_id]
        if with_fields:
            src = self.fields_of_many([h.doc_id for h in hits])
            for h in hits:
                h.fields = src[h.doc_id]
        return hits

    def explain(self, doc_id: int, query_terms: list[str]) -> dict:
        """ES `_explain` parity: the per-term BM25 breakdown of one
        doc's score for a query. Returns
        ``{"doc_id", "score", "matched", "terms": {term: {tf, df,
        idf, doclen, avgdl, part}}}`` where ``score`` is the sum of
        parts in sorted-term order — bit-identical to what search()
        ranks with (asserted by tests), so a user can audit exactly
        why a hit ranked where it did."""
        terms = sorted(set(query_terms))
        segs = self.load_segments(terms)
        out: dict = {
            "doc_id": int(doc_id),
            "score": 0.0,
            "matched": False,
            "terms": {},
        }
        from job_searchengine_project_spark.index.tombstone import is_deleted

        if is_deleted(self.tombstones, doc_id):
            out["deleted"] = True
            return out
        dl = float(self.doclens[doc_id])
        for t in terms:
            if t not in segs:
                continue
            enc = segs[t]
            docs, tfs = codec.decode_postings(enc)
            j = int(np.searchsorted(docs, doc_id))
            if j >= docs.size or int(docs[j]) != doc_id:
                continue
            tf = tfs[j]  # np integer: same dtype promotion as the kernels
            idf = self._idf(enc.count)
            part = float(
                idf * (tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / self.avgdl)))
            )
            out["terms"][t] = {
                "tf": int(tf),
                "df": int(enc.count),
                "idf": idf,
                "doclen": dl,
                "avgdl": self.avgdl,
                "part": part,
            }
            out["score"] += part
            out["matched"] = True
        return out

    # --- fuzzy match --------------------------------------------------------

    @property
    def term_dict(self) -> list[str]:
        """Distinct indexed terms (memoized). A pruned single-column
        read of the segments' term column — the Lucene analog is the
        term dictionary FST, which at 10^12-doc scale would persist as
        its own side artifact per shard; the vocabulary is orders of
        magnitude smaller than the postings either way."""
        if getattr(self, "_term_dict", None) is None:
            tbl = self._snapshot("segments").read(["term"])
            self._term_dict = sorted(set(tbl.column("term").to_pylist()))
        return self._term_dict

    @staticmethod
    def _edit_distance(a: str, b: str) -> int:
        """Standard Levenshtein (unit-cost sub/ins/del) — must agree
        with DuckDB's levenshtein() for the oracle to reproduce the
        expansion exactly."""
        if a == b:
            return 0
        la, lb = len(a), len(b)
        if la == 0 or lb == 0:
            return la or lb
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            ca = a[i - 1]
            for j in range(1, lb + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != b[j - 1]),
                )
            prev = cur
        return prev[lb]

    @staticmethod
    def _delete_variants(term: str, max_edits: int) -> set[str]:
        """All strings reachable from ``term`` by up to ``max_edits``
        single-character deletions (term itself included)."""
        outs = {term}
        frontier = {term}
        for _ in range(max_edits):
            nxt = {w[:i] + w[i + 1 :] for w in frontier for i in range(len(w))}
            outs |= nxt
            frontier = nxt
        return outs

    def fuzzy_variants_dir(self, max_edits: int) -> str:
        return os.path.join(
            self.index_dir, "fuzzy_variants", f"edits={max_edits}"
        )

    def _fuzzy_index(self, max_edits: int) -> dict[str, list[str]]:
        """SymSpell delete-variant index: variant -> dictionary terms.
        If ed(a, b) <= k then a and b share a <= k-deletion variant, so
        candidate lookup is O(|variants(term)|) dict probes instead of
        a full O(V · L²) dictionary scan — the property that keeps
        fuzzy matching constant-ish per query as the vocabulary grows
        (the index is ~(1 + L)x the vocabulary in strings for ed 1;
        at shard scale it persists beside the term dictionary, playing
        the role Lucene's FST + Levenshtein automaton plays)."""
        cache = getattr(self, "_fuzzy_cache", None)
        if cache is None:
            cache = self._fuzzy_cache = {}
        if max_edits not in cache:
            idx: dict[str, list[str]] = {}
            for t in self.term_dict:
                for v in self._delete_variants(t, max_edits):
                    idx.setdefault(v, []).append(t)
            cache[max_edits] = idx
        return cache[max_edits]

    def fuzzy_expand(self, term: str, max_edits: int = 1) -> list[str]:
        """Dictionary terms within ``max_edits`` of ``term`` (the term
        itself included when indexed): SymSpell candidate lookup, then
        exact Levenshtein verification — provably the same set as a
        full dictionary scan (tested against one).

        When the PERSISTED variant table exists
        (``fuzzy_variants/edits=K/`` — index/fuzzy.py
        build_fuzzy_variants, one shuffle at index time), the lookup
        is a variant-pruned parquet read instead of an in-process
        dictionary walk: the scale path (nothing vocabulary-sized is
        ever built driver-side), shared with the sharded engine.
        Falls back to the in-memory SymSpell index when absent or
        STALE (derived from an older index fingerprint — an update
        adds vocabulary the persisted table does not know)."""
        from job_searchengine_project_spark.index.fuzzy import variants_fresh

        vdir = self.fuzzy_variants_dir(max_edits)
        if os.path.isdir(vdir) and variants_fresh(self.index_dir, max_edits):
            return fuzzy_expand_at(vdir, term, max_edits)
        idx = self._fuzzy_index(max_edits)
        cands: set[str] = set()
        for v in self._delete_variants(term, max_edits):
            cands.update(idx.get(v, ()))
        return sorted(
            t for t in cands if self._edit_distance(t, term) <= max_edits
        )

    def search_fuzzy(
        self, query_terms: list[str], k: int = 10, max_edits: int = 1, **kw
    ) -> list[SearchHit]:
        """ES `fuzzy`/`match` with fuzziness: every query term expands
        to the dictionary terms within ``max_edits`` (misspellings hit
        the real vocabulary), then the union scores as plain match-OR
        BM25 — each matched term with its own df/idf.

        Documented contract (oracle-checked): no fuzziness boost
        discount — ES's blended-frequency rewrite is an optimization
        of a different scoring blend; the plain expansion keeps DuckDB
        able to reproduce scores exactly via levenshtein()."""
        expanded: set[str] = set()
        for t in query_terms:
            expanded.update(self.fuzzy_expand(t, max_edits=max_edits))
        if not expanded:
            return []
        return self.search(sorted(expanded), k=k, **kw)

    # --- prefix / wildcard (constant-score multi-term queries) --------------

    def _constant_score_hits(
        self, terms: list[str], k: int, offset: int = 0
    ) -> list[SearchHit]:
        """ES constant_score rewrite shape: every doc holding >= 1
        matching term scores 1.0; ties order by doc_id asc (pinned)."""
        docs = sorted(self._match_docs(terms))
        self._bool_total = len(docs)  # exact total for the DSL layer
        return [
            SearchHit(doc_id=d, score=1.0)
            for d in docs[max(0, offset) : max(0, offset) + k]
        ]

    def search_prefix(
        self, prefix: str, k: int = 10, with_urls: bool = True, offset: int = 0
    ) -> list[SearchHit]:
        """ES `prefix` query: docs holding any indexed term starting
        with ``prefix``, constant_score 1.0 (the ES default multi-term
        rewrite — schema/es/es.sh two-gram fields make prefix search a
        natural part of the reference mapping). Term expansion is a
        range-pruned read of the persisted sorted dictionary
        (index/termdict.py build_term_dictionary), never a vocabulary
        scan."""
        from job_searchengine_project_spark.index.termdict import prefix_terms

        terms = prefix_terms(self.index_dir, prefix)
        return self._attach(self._constant_score_hits(terms, k, offset), with_urls)

    def search_wildcard(
        self, pattern: str, k: int = 10, with_urls: bool = True, offset: int = 0
    ) -> list[SearchHit]:
        """ES `wildcard` query (* / ?), constant_score 1.0; expansion
        prunes by the pattern's literal prefix (leading wildcards pay
        the documented full-dictionary read)."""
        from job_searchengine_project_spark.index.termdict import wildcard_terms

        terms = wildcard_terms(self.index_dir, pattern)
        return self._attach(self._constant_score_hits(terms, k, offset), with_urls)

    def doc_values_docs(
        self,
        col: str,
        *,
        eq=None,
        gte=None,
        gt=None,
        lte=None,
        lt=None,
        isin=None,
        exists=None,
    ) -> set[int]:
        """Live doc_ids matching a term (``eq``), terms-list
        (``isin``), existence (``exists``) or range filter on a
        doc-values column (index/build.py _write_doc_values). The
        sidecar is value-sorted, so the pyarrow read pushes the bounds
        into parquet row-group statistics and touches only the
        matching value range — the ES BKD-tree / doc-values filter
        analog, never a corpus scan."""
        return doc_values_docs_at(
            self.index_dir, self.stats.get("doc_values", []),
            self.tombstones, col,
            eq=eq, gte=gte, gt=gt, lte=lte, lt=lt, isin=isin, exists=exists,
        )

    # --- aggregations -------------------------------------------------------

    def _doc_values_table(self, col: str, doc_filter: set[int] | None):
        if col not in self.stats.get("doc_values", []):
            raise KeyError(
                f"no doc-values for {col!r}; built columns: "
                f"{self.stats.get('doc_values', [])}"
            )
        tbl = pads.dataset(
            os.path.join(self.index_dir, "docvalues", col)
        ).to_table(columns=["doc_id", col])
        ids = tbl.column("doc_id").to_numpy()
        vals = tbl.column(col)
        mask = None
        dele = self.tombstones
        if dele.size:
            mask = ~np.isin(ids, dele)
        if doc_filter is not None:
            keep = np.isin(ids, np.fromiter(doc_filter, dtype=np.int64))
            mask = keep if mask is None else (mask & keep)
        if mask is not None:
            ids, vals = ids[mask], vals.filter(mask)
        return ids, vals

    def aggregate_terms(
        self, col: str, size: int = 10, doc_filter: set[int] | None = None
    ) -> list[tuple[object, int]]:
        """ES `terms` aggregation over a doc-values column: the top
        ``size`` values by live-doc count (desc count, then asc value —
        ES's own tie order). ``doc_filter`` scopes the agg to a query's
        hit set (ES aggs run inside the query context). Driver-side
        over the columnar sidecar; at cluster scale the same agg is one
        Spark groupBy on the sidecar table."""
        _, vals = self._doc_values_table(col, doc_filter)
        import collections

        counts = collections.Counter(vals.to_pylist())
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:size]

    def aggregate_histogram(
        self,
        col: str,
        interval: float,
        doc_filter: set[int] | None = None,
    ) -> list[tuple[float, int]]:
        """ES `histogram` aggregation: live-doc counts in
        floor(value / interval) * interval buckets, ascending, empty
        buckets omitted (ES min_doc_count=1 shape)."""
        _, vals = self._doc_values_table(col, doc_filter)
        arr = vals.to_numpy(zero_copy_only=False).astype(np.float64)
        if arr.size == 0:
            return []
        keys = np.floor(arr / interval) * interval
        uniq, cnt = np.unique(keys, return_counts=True)
        return [(float(u), int(c)) for u, c in zip(uniq, cnt)]

    @staticmethod
    def parse_fixed_interval(s) -> int:
        """ES ``fixed_interval`` string -> milliseconds. Supported
        units: ms/s/m/h/d (the ES fixed units); calendar intervals
        (month/quarter/year — variable length) are NOT implemented
        (documented; ES separates them into calendar_interval for the
        same reason)."""
        if isinstance(s, (int, float)):
            return int(s)
        units = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
                 "d": 86_400_000}
        for u in ("ms", "s", "m", "h", "d"):
            if s.endswith(u) and s[: -len(u)].isdigit():
                return int(s[: -len(u)]) * units[u]
        raise ValueError(f"unsupported fixed_interval: {s!r}")

    def aggregate_date_histogram(
        self,
        col: str,
        fixed_interval,
        doc_filter: set[int] | None = None,
    ) -> list[tuple[int, int]]:
        """ES `date_histogram` (fixed_interval form) over a timestamp
        doc-values column: bucket key = epoch millis floored to the
        interval — exactly ES's numeric bucket key — ascending, empty
        buckets omitted (min_doc_count=1 shape). The distributed twin
        is one groupBy over unix_millis (index/sharded.py); this
        driver form is its oracle."""
        import pyarrow as pa

        iv = self.parse_fixed_interval(fixed_interval)
        _, vals = self._doc_values_table(col, doc_filter)
        vals = vals.drop_null()
        if len(vals) == 0:
            return []
        ms = (
            vals.cast(pa.timestamp("ms")).cast(pa.int64())
            .to_numpy(zero_copy_only=False).astype(np.int64)
        )
        keys = (ms // iv) * iv
        uniq, cnt = np.unique(keys, return_counts=True)
        return [(int(u), int(c)) for u, c in zip(uniq, cnt)]

    # --- highlighting -------------------------------------------------------

    @staticmethod
    def highlight_text(
        text: str,
        terms: list[str],
        pre_tag: str = "<em>",
        post_tag: str = "</em>",
    ) -> str:
        """ES highlight with number_of_fragments=0 (whole-field
        highlighting): every analyzer TOKEN equal to a query term
        wraps in the tags — token-boundary exact (no substring hits:
        'sparkly' never highlights for 'spark'), case-insensitive on
        the token text, original casing preserved in the output. The
        DuckDB twin is one regexp_replace with \\b-bounded
        alternation."""
        import re

        tset = {t.lower() for t in terms}
        if not tset or not text:
            return text
        out = []
        last = 0
        for m in re.finditer(r"[가-힣a-zA-Z0-9/]+", text):
            if m.group().lower() in tset:
                out.append(text[last : m.start()])
                out.append(pre_tag + m.group() + post_tag)
                last = m.end()
        out.append(text[last:])
        return "".join(out)

    @staticmethod
    def highlight_fragments(
        text: str,
        terms: list[str],
        fragment_size: int = 20,
        number_of_fragments: int = 3,
        pre_tag: str = "<em>",
        post_tag: str = "</em>",
    ) -> list[str]:
        """ES highlight with number_of_fragments > 0: token-window
        fragmenter. The field splits on single spaces into
        non-overlapping windows of ``fragment_size`` tokens (ES's
        SimpleFragmenter counts chars — ours counts whitespace tokens;
        documented divergence, chosen because it is exactly
        SQL-oracle-expressible); windows whose highlighted form
        differs from the raw window (>= 1 analyzer-token match, same
        matcher as highlight_text) are kept in document order, up to
        ``number_of_fragments``."""
        toks = text.split(" ")
        out: list[str] = []
        for i in range(0, len(toks), max(1, int(fragment_size))):
            if len(out) >= number_of_fragments:
                break
            frag = " ".join(toks[i : i + max(1, int(fragment_size))])
            hl = SearchEngine.highlight_text(frag, terms, pre_tag, post_tag)
            if hl != frag:
                out.append(hl)
        return out

    def _query_match_terms(self, q: dict) -> list[str]:
        """Every scoring match term of a request body (what ES
        highlights): match leaves, fuzzy expansions, bool
        must/should/filter match clauses."""
        if not q:
            return []
        ((kind, spec),) = q.items()
        if kind in ("match", "match_phrase"):
            return self._analyze(self._leaf_field_text(spec)[1])
        if kind == "match_phrase_prefix":
            from job_searchengine_project_spark.index.termdict import (
                prefix_terms,
            )

            seq = [
                d["token"] for d in self.analyze(self._leaf_field_text(spec)[1])
            ]
            if not seq:
                return []
            # honor the leaf's max_expansions like the search path does
            # (ADVICE r5 #4: a hardcoded 50 made explain/highlight term
            # sets diverge from the ranked hit set)
            ((_f, val),) = spec.items()
            mx = (
                int(val.get("max_expansions", 50))
                if isinstance(val, dict)
                else 50
            )
            return sorted(
                set(seq[:-1]) | set(prefix_terms(self.index_dir, seq[-1])[:mx])
            )
        if kind == "fuzzy":
            ((_, val),) = spec.items()
            term = val.get("value") if isinstance(val, dict) else val
            fuzz = val.get("fuzziness", 1) if isinstance(val, dict) else 1
            return self.fuzzy_expand(term, max_edits=int(fuzz))
        if kind == "bool":
            terms: list[str] = []
            for key in ("must", "should", "filter"):
                for c in spec.get(key, []):
                    ((ck, cs),) = c.items()
                    if ck == "match":
                        terms.extend(self._analyze(self._leaf_field_text(cs)[1]))
            return sorted(set(terms))
        return []

    METRIC_AGGS = ("avg", "sum", "min", "max", "value_count", "cardinality")

    DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)  # ES default

    def aggregate_percentiles(
        self,
        col: str,
        percents: list[float] | None = None,
        doc_filter: set[int] | None = None,
    ) -> dict[str, float | None]:
        """ES `percentiles` aggregation over a doc-values column.

        Contract (documented, like cardinality's exact-distinct): the
        EXACT linearly-interpolated percentile — the value ES's
        t-digest approximates. Spark's ``percentile`` and DuckDB's
        ``quantile_cont`` share the definition; the three
        implementations group the interpolation arithmetic
        differently, so cross-engine values agree to ~1 ulp (like
        WAND vs exhaustive), exactly after the 4-dp oracle round.
        ``percentile_approx`` is the documented at-scale variant with
        a tested tolerance.
        Returns the ES response shape {"25.0": value, ...}."""
        ps = [float(p) for p in (percents or self.DEFAULT_PERCENTS)]
        _, vals = self._doc_values_table(col, doc_filter)
        arr = np.asarray(
            [v for v in vals.to_pylist() if v is not None], dtype=np.float64
        )
        if arr.size == 0:
            return {str(p): None for p in ps}
        got = np.percentile(arr, ps, method="linear")
        return {str(p): float(v) for p, v in zip(ps, got)}

    def aggregate_terms_sub(
        self,
        col: str,
        subs: dict[str, dict],
        size: int = 10,
        doc_filter: set[int] | None = None,
    ) -> list[tuple[object, int, dict]]:
        """ES `terms` aggregation with nested metric sub-aggregations:
        per bucket, each sub spec ({"avg": {"field": ...}} etc, any
        METRIC_AGGS kind or percentiles) evaluates over that bucket's
        doc set (already scoped by the query context). Returns
        [(key, doc_count, {sub_name: value})] in ES tie order. The
        distributed twin is ONE groupBy with extra agg expressions
        (index/sharded.py aggregate_terms_subagg_sharded) — this
        driver form is its oracle."""
        import collections

        ids, vals = self._doc_values_table(col, doc_filter)
        groups: dict[object, list[int]] = collections.defaultdict(list)
        for d, v in zip(ids.tolist(), vals.to_pylist()):
            groups[v].append(d)
        buckets = sorted(
            groups.items(), key=lambda kv: (-len(kv[1]), kv[0])
        )[:size]
        out = []
        for key, bucket_ids in buckets:
            bset = set(bucket_ids)
            subvals: dict[str, object] = {}
            for name, spec in subs.items():
                ((skind, sargs),) = spec.items()
                if skind == "percentiles":
                    subvals[name] = {
                        "values": self.aggregate_percentiles(
                            sargs["field"], sargs.get("percents"),
                            doc_filter=bset,
                        )
                    }
                else:
                    subvals[name] = {
                        "value": self.aggregate_metric(
                            sargs["field"], skind, doc_filter=bset
                        )
                    }
            out.append((key, len(bucket_ids), subvals))
        return out

    def aggregate_metric(
        self, col: str, kind: str, doc_filter: set[int] | None = None
    ):
        """ES metric aggregations over a doc-values column: avg / sum /
        min / max / value_count / cardinality of live values, optionally scoped to a
        query hit set. Integer columns sum exactly; avg is sum/count in
        float64 (the same arithmetic the SQL oracle and the Spark
        distributed twin produce)."""
        if kind not in self.METRIC_AGGS:
            raise ValueError(f"unsupported metric agg: {kind!r}")
        _, vals = self._doc_values_table(col, doc_filter)
        pylist = [v for v in vals.to_pylist() if v is not None]
        if kind == "value_count":
            return len(pylist)
        if kind == "cardinality":
            # documented contract: EXACT distinct count (ES's HLL is an
            # approximation of this value; the Spark twin is one
            # countDistinct, the oracle COUNT(DISTINCT ...))
            return len(set(pylist))
        if not pylist:
            return None  # ES null value on an empty scope
        if kind == "min":
            return min(pylist)
        if kind == "max":
            return max(pylist)
        total = sum(pylist)
        return total if kind == "sum" else total / len(pylist)

    # --- ES request-body DSL ------------------------------------------------

    @staticmethod
    def _leaf_field_text(spec: dict) -> tuple[str, str]:
        """Unwrap a one-field leaf: {field: "text"} or
        {field: {"query"/"value": "text", ...}}."""
        ((field, val),) = spec.items()
        if isinstance(val, dict):
            return field, val.get("query", val.get("value", ""))
        return field, val

    def query(self, body: dict) -> dict:
        """ES search-request parity: run the JSON body a reference
        user sends to ES (README.md:43-71 queries are this shape via
        Kibana) and return an ES-shaped response
        ``{"hits": {"total": {"value", "relation"}, "hits":
        [{"_id": url, "_score": score, "_source": stored fields}]}}``.

        Supported query kinds on the single-field engine (the field
        name in leaves is accepted and ignored — one indexed field):
        match, match_phrase, fuzzy, bool (with match leaves and
        minimum_should_match). ``from``/``size`` paginate.
        ``total.relation`` is "eq" when the page is short of ``size``
        (every match returned), else "gte" — ES's own
        track-total-hits cap semantics."""
        size = int(body.get("size", 10))
        frm = int(body.get("from", 0))
        q = body.get("query") or {}
        sort_spec = body.get("sort")
        if sort_spec:
            # field sort (ES doc-values sort): rank the FULL hit set by
            # the sort keys, then page. Keys are doc-values columns or
            # "_score"; final tie-break asc doc_id (pinned — ES leaves
            # it undefined). Each hit carries its "sort" values.
            hits, total = self._query_hits(q, 10**9, 0)
            keys = []
            for s in sort_spec:
                if isinstance(s, str):
                    col, order = s, "asc"
                else:
                    ((col, spec),) = s.items()
                    order = (spec.get("order", "asc") if isinstance(spec, dict) else spec)
                keys.append((col, order))
            vals: dict[str, dict[int, object]] = {}
            for col, _ in keys:
                if col in ("_score", "_doc"):
                    continue
                ids, v = self._doc_values_table(col, {h.doc_id for h in hits})
                vals[col] = dict(zip(ids.tolist(), v.to_pylist()))

            # stable successive sorts (last key first) handle desc on
            # any comparable type, strings included. A doc with a NULL
            # or missing doc-values entry sorts LAST under either order
            # (ES missing=_last default) — partition-then-sort keeps
            # each key pass a stable permutation, so multi-key
            # semantics are unchanged. "_doc" is the internal-doc-id
            # key (the ES search_after tiebreaker field).
            hits.sort(key=lambda h: h.doc_id)
            for col, order in reversed(keys):
                if col in ("_score", "_doc"):
                    hits.sort(
                        key=lambda h, c=col: h.score if c == "_score" else h.doc_id,
                        reverse=(order == "desc"),
                    )
                    continue
                vc = vals[col]
                present = [h for h in hits if vc.get(h.doc_id) is not None]
                absent = [h for h in hits if vc.get(h.doc_id) is None]
                present.sort(
                    key=lambda h: vc[h.doc_id], reverse=(order == "desc")
                )
                hits[:] = present + absent

            def sort_tuple(h):
                return [
                    h.score
                    if c == "_score"
                    else h.doc_id
                    if c == "_doc"
                    else vals[c].get(h.doc_id)
                    for c, _ in keys
                ]

            cursor = body.get("search_after")
            if cursor is not None:
                # ES search_after: resume strictly AFTER the cursor's
                # sort tuple (from is invalid alongside it). The sorted
                # list makes after-hits a suffix; missing values rank
                # last under either order, matching the sort itself.
                if frm:
                    raise ValueError("search_after and from are exclusive")
                if len(cursor) != len(keys):
                    raise ValueError(
                        "search_after must carry one value per sort key"
                    )

                def strictly_after(kv) -> bool:
                    for (c, order), a, b in zip(keys, kv, cursor):
                        if a is None and b is None:
                            continue
                        if a is None:
                            return True
                        if b is None:
                            return False
                        if a == b:
                            continue
                        return (a < b) if order == "desc" else (a > b)
                    return False

                start = next(
                    (
                        i
                        for i, h in enumerate(hits)
                        if strictly_after(sort_tuple(h))
                    ),
                    len(hits),
                )
                hits = hits[start : start + size]
            else:
                hits = hits[frm : frm + size]
            self._last_sort_values = {h.doc_id: sort_tuple(h) for h in hits}
        else:
            self._last_sort_values = None
            hits, total = self._query_hits(q, size, frm)
        aggs_spec = body.get("aggs") or body.get("aggregations")
        aggregations = None
        if aggs_spec:
            # ES aggs run over the FULL query hit set, not the page —
            # re-evaluate unpaged (no query -> whole live index scope)
            doc_filter = (
                {h.doc_id for h in self._query_hits(q, 10**9, 0)[0]}
                if q
                else None
            )
            aggregations = {}
            for name, aspec in aggs_spec.items():
                aspec = dict(aspec)
                sub_spec = aspec.pop("aggs", None) or aspec.pop(
                    "aggregations", None
                )
                ((akind, aargs),) = aspec.items()
                if sub_spec and akind != "terms":
                    raise ValueError(
                        "sub-aggregations are supported under terms buckets"
                    )
                if akind == "terms" and sub_spec:
                    rows3 = self.aggregate_terms_sub(
                        aargs["field"], sub_spec,
                        size=int(aargs.get("size", 10)),
                        doc_filter=doc_filter,
                    )
                    aggregations[name] = {
                        "buckets": [
                            {"key": key, "doc_count": n, **subvals}
                            for key, n, subvals in rows3
                        ]
                    }
                    continue
                if akind == "percentiles":
                    aggregations[name] = {
                        "values": self.aggregate_percentiles(
                            aargs["field"], aargs.get("percents"),
                            doc_filter=doc_filter,
                        )
                    }
                    continue
                if akind == "date_histogram":
                    buckets = self.aggregate_date_histogram(
                        aargs["field"],
                        aargs.get("fixed_interval", aargs.get("interval")),
                        doc_filter=doc_filter,
                    )
                elif akind == "terms":
                    buckets = self.aggregate_terms(
                        aargs["field"], size=int(aargs.get("size", 10)),
                        doc_filter=doc_filter,
                    )
                elif akind == "histogram":
                    buckets = self.aggregate_histogram(
                        aargs["field"], interval=float(aargs["interval"]),
                        doc_filter=doc_filter,
                    )
                elif akind in self.METRIC_AGGS:
                    aggregations[name] = {
                        "value": self.aggregate_metric(
                            aargs["field"], akind, doc_filter=doc_filter
                        )
                    }
                    continue
                else:
                    raise ValueError(f"unsupported agg kind: {akind!r}")
                aggregations[name] = {
                    "buckets": [
                        {"key": k, "doc_count": n} for k, n in buckets
                    ]
                }
        resp = self._query_response(
            hits, total, aggregations,
            # ES "_source": false — hits omit stored fields entirely,
            # so a full-hit-set request that only needs ids/scores
            # skips the docstore read altogether
            with_source=body.get("_source") is not False,
        )
        if body.get("explain"):
            # ES explain=true: per-hit score breakdown. The scoring
            # match terms (match leaves, fuzzy expansions, bool
            # scoring clauses) drive the per-term BM25 audit; parts
            # sum in sorted-term order, bit-identical to the ranked
            # score for single-clause queries (tested).
            ex_terms = self._query_match_terms(q)
            by_url = {h.url: h.doc_id for h in hits}
            for entry in resp["hits"]["hits"]:
                d = by_url.get(entry["_id"])
                if d is not None:
                    entry["_explanation"] = self.explain(d, ex_terms)
        hl = body.get("highlight")
        if hl:
            # ES highlight over the page's stored fields (requires
            # store_fields; number_of_fragments=0 whole-field contract)
            terms = self._query_match_terms(q)
            for h in resp["hits"]["hits"]:
                src = h.get("_source") or {}
                h["highlight"] = {}
                for fname, fspec in (hl.get("fields") or {}).items():
                    text = src.get(fname, src.get("body"))
                    if text is None:
                        continue
                    fspec = fspec or {}
                    pre = (fspec.get("pre_tags") or hl.get("pre_tags") or ["<em>"])[0]
                    post = (
                        fspec.get("post_tags") or hl.get("post_tags") or ["</em>"]
                    )[0]
                    nof = int(
                        fspec.get(
                            "number_of_fragments",
                            hl.get("number_of_fragments", 0),
                        )
                    )
                    if nof > 0:
                        h["highlight"][fname] = self.highlight_fragments(
                            text, terms,
                            fragment_size=int(
                                fspec.get(
                                    "fragment_size",
                                    hl.get("fragment_size", 20),
                                )
                            ),
                            number_of_fragments=nof,
                            pre_tag=pre, post_tag=post,
                        )
                    else:  # number_of_fragments=0: whole-field form
                        h["highlight"][fname] = [
                            self.highlight_text(text, terms, pre, post)
                        ]
        return resp

    def count(self, body: dict) -> dict:
        """ES `_count` endpoint parity: the exact number of live docs
        matching the request body's query (no pagination, no hits)."""
        q = (body or {}).get("query") or {}
        return {"count": self._query_hits(q, 0, 0)[1]}

    def _query_hits(
        self, q: dict, size: int, frm: int
    ) -> tuple[list["SearchHit"], int]:
        """Evaluate one DSL query: the (frm, size) page of hits PLUS
        the exact full match count (ES track_total_hits=true — the
        kernels or hit-set reads establish the total anyway, so
        hits.total is always {value: exact, relation: "eq"})."""
        if not q:
            hits: list[SearchHit] = []
            total = 0
        else:
            ((kind, spec),) = q.items()
            if kind in ("match", "fuzzy"):
                if kind == "match":
                    terms = self._analyze(self._leaf_field_text(spec)[1])
                else:
                    ((_, val),) = spec.items()
                    term = val.get("value") if isinstance(val, dict) else val
                    fuzz = val.get("fuzziness", 1) if isinstance(val, dict) else 1
                    terms = self.fuzzy_expand(term, max_edits=int(fuzz))
                # one segment read and one kernel call give the page
                # AND the exact total, from the same loaded postings
                pairs, total = self._ranked(terms, size + max(0, frm), count=True)
                pairs = pairs[frm : frm + size] if frm > 0 else pairs
                hits = [SearchHit(doc_id=d, score=s) for d, s in pairs]
            elif kind == "match_phrase":
                _, text = self._leaf_field_text(spec)
                ((_, mp_val),) = spec.items()
                mp_slop = (
                    int(mp_val.get("slop", 0)) if isinstance(mp_val, dict) else 0
                )
                # search_phrase verifies and scores EVERY match before
                # truncating, so the unpaged call costs the same
                full = self.search_phrase(
                    text, k=10**9, slop=mp_slop, with_urls=False
                )
                total = len(full)
                hits = full[frm : frm + size]
            elif kind in ("prefix", "wildcard"):
                ((_, val),) = spec.items()
                pat = val.get("value") if isinstance(val, dict) else val
                fn = self.search_prefix if kind == "prefix" else self.search_wildcard
                hits = fn(pat, k=size, offset=frm, with_urls=False)
                total = self._bool_total  # set by _constant_score_hits
            elif kind == "match_phrase_prefix":
                _, text = self._leaf_field_text(spec)
                ((_, mpp_val),) = spec.items()
                mx = (
                    int(mpp_val.get("max_expansions", 50))
                    if isinstance(mpp_val, dict)
                    else 50
                )
                full = self.search_phrase_prefix(
                    text, k=10**9, max_expansions=mx
                )
                total = len(full)
                hits = full[frm : frm + size]
            elif kind == "match_all":
                # every live doc, constant score 1.0 (ES match_all),
                # asc doc_id — one single-column forward read
                docs = sorted(self.live_doc_ids())
                total = len(docs)
                hits = [
                    SearchHit(doc_id=d, score=1.0)
                    for d in docs[frm : frm + size]
                ]
            elif kind in ("bool", "range", "term", "terms", "exists"):
                # standalone range/term/terms/exists queries are
                # filter-context sugar (documented contract: they gate,
                # score 0.0 — same as the sharded endpoint)
                if kind != "bool":
                    spec = {"filter": [{kind: spec}]}

                def split(key, sets_ok):
                    """Partition a clause list into match texts and
                    doc-values/term-expansion hit sets (range/term/
                    prefix/wildcard leaves — ES filter context;
                    scoring contexts reject them here)."""
                    from job_searchengine_project_spark.index.termdict import (
                        prefix_terms,
                        wildcard_terms,
                    )

                    texts, sets = [], []
                    for c in spec.get(key, []):
                        ((ck, cs),) = c.items()
                        if ck == "match":
                            texts.append(self._leaf_field_text(cs)[1])
                        elif ck in (
                            "range", "term", "terms", "exists",
                            "prefix", "wildcard",
                        ):
                            if not sets_ok:
                                raise ValueError(
                                    f"{ck} clauses are filter-context only"
                                )
                            if ck == "exists":
                                sets.append(
                                    self.doc_values_docs(
                                        cs["field"], exists=True
                                    )
                                )
                                continue
                            ((col, bounds),) = cs.items()
                            if ck == "term":
                                sets.append(self.doc_values_docs(col, eq=bounds))
                            elif ck == "terms":
                                sets.append(
                                    self.doc_values_docs(col, isin=list(bounds))
                                )
                            elif ck == "range":
                                sets.append(self.doc_values_docs(col, **bounds))
                            else:
                                pat = (
                                    bounds.get("value")
                                    if isinstance(bounds, dict)
                                    else bounds
                                )
                                expand = (
                                    prefix_terms
                                    if ck == "prefix"
                                    else wildcard_terms
                                )
                                sets.append(
                                    self._match_docs(
                                        expand(self.index_dir, pat)
                                    )
                                )
                        else:
                            raise ValueError(f"unsupported bool leaf: {ck!r}")
                    return texts, sets

                must_t, _ = split("must", sets_ok=False)
                should_t, _ = split("should", sets_ok=False)
                not_t, not_s = split("must_not", sets_ok=True)
                filt_t, filt_s = split("filter", sets_ok=True)
                hits = self.search_bool(
                    must=must_t, should=should_t,
                    must_not=not_t, filter=filt_t,
                    filter_docs=filt_s, must_not_docs=not_s,
                    minimum_should_match=spec.get("minimum_should_match"),
                    k=size, offset=frm, with_urls=False,
                )
                # search_bool materializes the full scored candidate
                # set before paging; it records the exact match count
                total = self._bool_total
            else:
                raise ValueError(f"unsupported query kind: {kind!r}")
        return hits, total

    def _query_response(
        self, hits: list["SearchHit"], total: int, aggregations=None,
        with_source: bool = True,
    ) -> dict:
        with_src = self.stats.get("store_fields", False) and with_source
        # hit evaluation runs urls-off (counts/aggs must not fetch a
        # url per match); resolve the PAGE's urls in one pruned read
        self._fetch_urls([h.doc_id for h in hits if h.url is None])
        # stored fields batched the same way (one read per touched
        # bucket) — per-hit point reads made full-hit-set responses
        # O(hits) dataset opens
        src_map = (
            self.fields_of_many([h.doc_id for h in hits]) if with_src else {}
        )
        out_hits = []
        for h in hits:
            if h.url is None:
                h.url = self._urls[h.doc_id]
            entry = {"_id": h.url, "_score": h.score}
            sv = getattr(self, "_last_sort_values", None)
            if sv is not None:
                entry["sort"] = sv[h.doc_id]
            if with_src:
                entry["_source"] = src_map[h.doc_id]
            out_hits.append(entry)
        out = {
            "hits": {
                # exact (kernel-established) total — ES with
                # track_total_hits=true; relation is always "eq"
                "total": {"value": int(total), "relation": "eq"},
                "hits": out_hits,
            }
        }
        if aggregations is not None:
            out["aggregations"] = aggregations
        return out

    def search_text(self, query: str, k: int = 10, **kw) -> list[SearchHit]:
        """ES `match` semantics: analyze the query string with the
        SAME analyzer as the indexed field (schema/es/es.sh:36-46 —
        2-gram fields get 2-gram'd queries, morph fields get
        morph-analyzed queries), then OR the terms."""
        from job_searchengine_project_spark.functions.tokenize import (
            tokenize_2gram_py,
            tokenize_morph_py,
        )

        analyzer = self.stats.get("analyzer", "morph")
        if analyzer == "2gram":
            terms = tokenize_2gram_py(query)
        else:
            terms = tokenize_morph_py(query, dedup=True)
        if not terms:
            return []
        return self.search(terms, k=k, **kw)

    def analyze(self, text: str) -> list[dict]:
        """ES ``_analyze`` endpoint parity: the index's analyzer
        applied to ``text`` — ``[{"token", "position"}]`` in emission
        order (dedup=False: the exact sequence the indexer writes, the
        same positions the positional index stores)."""
        from job_searchengine_project_spark.functions.tokenize import (
            tokenize_2gram_py,
            tokenize_morph_py,
        )

        analyzer = self.stats.get("analyzer", "morph")
        seq = (
            tokenize_2gram_py(text)
            if analyzer == "2gram"
            else tokenize_morph_py(text, dedup=False)
        )
        return [{"token": t, "position": i} for i, t in enumerate(seq)]

    def search_phrase_prefix(
        self, query: str, k: int = 10, max_expansions: int = 50
    ) -> list["SearchHit"]:
        """ES ``match_phrase_prefix`` (search-as-you-type): the query
        analyzes into an ordered sequence whose LAST token is a
        prefix — a doc matches iff some start p has term_i at p+i for
        every fixed term and ANY dictionary term with the prefix at
        the final position. The prefix expands through the persisted
        sorted term dictionary (index/termdict.py — range-pruned
        read), capped at ``max_expansions`` in term order (the ES
        default 50).

        Scoring contract (documented): constant_score 1.0 per
        matching doc, asc doc_id — the same multi-term-rewrite family
        contract as prefix/wildcard (ES scores its own rewrite; the
        constant form keeps the DuckDB oracle exact). A single-token
        query degenerates to the prefix query."""
        from job_searchengine_project_spark.functions.tokenize import (
            tokenize_2gram_py,
            tokenize_morph_py,
        )
        from job_searchengine_project_spark.index.termdict import prefix_terms

        analyzer = self.stats.get("analyzer", "morph")
        seq = (
            tokenize_2gram_py(query)
            if analyzer == "2gram"
            else tokenize_morph_py(query, dedup=False)
        )
        if not seq:
            return []
        expansions = prefix_terms(self.index_dir, seq[-1])[:max_expansions]
        if not expansions:
            return []
        if len(seq) == 1:
            return self._constant_score_hits(expansions, k)
        fixed = seq[:-1]
        uniq = sorted(set(fixed))
        segs = self.load_segments(uniq + sorted(expansions))
        if any(t not in segs for t in uniq):
            return []  # a missing fixed term can never form the phrase
        exp_present = [t for t in expansions if t in segs]
        if not exp_present:
            return []
        if not all(segs[t].has_positions for t in segs):
            raise ValueError(
                "search_phrase_prefix requires build_index(with_positions=True)"
            )
        decoded: dict[str, tuple] = {}
        max_pos = 0
        max_doc = 0
        for t, enc in segs.items():
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
        survivors: np.ndarray | None = None
        for i, t in enumerate(fixed):
            docs, tfs, pos = decoded[t]
            keys = np.repeat(docs, tfs) * M + (pos - i)
            survivors = (
                keys if survivors is None else np.intersect1d(survivors, keys)
            )
            if survivors.size == 0:
                return []
        i_last = len(seq) - 1
        exp_keys = np.concatenate(
            [
                np.repeat(decoded[t][0], decoded[t][1]) * M
                + (decoded[t][2] - i_last)
                for t in exp_present
            ]
        )
        matched = np.intersect1d(survivors, np.unique(exp_keys))
        if matched.size == 0:
            return []
        match_docs = np.unique(matched // M)
        dele = self.tombstones
        if dele.size:
            match_docs = match_docs[~np.isin(match_docs, dele)]
        return [
            SearchHit(doc_id=int(d), score=1.0)
            for d in match_docs.tolist()[:k]
        ]

    @staticmethod
    def _slop_chain(pos_lists: list[np.ndarray], slop: int) -> bool:
        """Ordered sloppy-window test over one doc's per-term position
        lists: exists strictly-increasing positions p_1 < ... < p_n
        (term i at p_i, query order) with window p_n - p_1 + 1 <=
        n + slop. Greedy earliest-successor per start is optimal (it
        minimizes p_n for a given p_1), so the scan is
        O(sum positions)."""
        n = len(pos_lists)
        for s in pos_lists[0]:
            p = int(s)
            ok = True
            for arr in pos_lists[1:]:
                j = int(np.searchsorted(arr, p + 1))
                if j >= arr.size:
                    ok = False
                    break
                p = int(arr[j])
            if not ok:
                # no successor chain for this start; later starts only
                # move right — no chain can exist at all
                return False
            if (p - int(s) + 1) <= n + slop:
                return True
        return False

    def search_phrase(
        self, query: str, k: int = 10, slop: int = 0, **kw
    ) -> list[SearchHit]:
        """ES ``match_phrase`` over a positional index: the query is
        analyzed with the index's analyzer into an ORDERED term
        sequence; a doc matches iff some start position p has term_i at
        p+i for every i (the reference exposes this through the 2-gram
        analyzed body_text field, schema/es/es.sh:16-29 — consecutive
        2-gram positions == a contiguous substring).

        ``slop`` (ES match_phrase slop): a doc matches iff the terms
        occur IN ORDER at strictly increasing positions whose window
        (last - first + 1) exceeds the phrase length by at most
        ``slop``; slop=0 is exact adjacency. Documented contract
        difference vs Lucene (oracle-checked): Lucene's slop also
        admits out-of-order transpositions (slop >= 2 can match
        reversed terms); the ordered-window form keeps the DuckDB
        oracle expressible and is the common intent ("words near each
        other, in order").

        Scoring contract (documented, oracle-matched): matching docs
        are ranked by the BM25 match-OR score of the phrase's DISTINCT
        terms — the conjunctive-filter + disjunctive-score shortcut.
        """
        from job_searchengine_project_spark.functions.tokenize import (
            tokenize_2gram_py,
            tokenize_morph_py,
        )

        analyzer = self.stats.get("analyzer", "morph")
        seq = (
            tokenize_2gram_py(query)
            if analyzer == "2gram"
            else tokenize_morph_py(query, dedup=False)
        )
        if not seq:
            return []
        uniq = sorted(set(seq))
        segs = self.load_segments(uniq)
        if any(t not in segs for t in uniq):
            return []  # a missing term can never form the phrase
        if not all(segs[t].has_positions for t in uniq):
            raise ValueError("search_phrase requires build_index(with_positions=True)")

        decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        max_pos = 0
        for t in uniq:
            docs, tfs = codec.decode_postings(segs[t])
            pos = codec.decode_positions(segs[t], tfs)
            if pos.size:
                max_pos = max(max_pos, int(pos.max()))
            decoded[t] = (docs, tfs, pos)
        if slop == 0:
            # (doc, start) composite keys: doc * M + (pos - i). M leaves
            # the i-shift no room to bleed into a neighbor doc's
            # real positions.
            M = max_pos + len(seq) + 2
            if M * (max(int(d[0].max()) for d in decoded.values()) + 1) >= (1 << 62):
                raise OverflowError("phrase key space exceeds int64")
            survivors: np.ndarray | None = None
            for i, t in enumerate(seq):
                docs, tfs, pos = decoded[t]
                keys = np.repeat(docs, tfs) * M + (pos - i)
                survivors = keys if survivors is None else np.intersect1d(survivors, keys)
                if survivors.size == 0:
                    return []
            match_docs = np.unique(survivors // M)
        else:
            # sloppy path: conjunctive candidate prefilter (docs holding
            # every term), then the ordered-window chain test on each
            # candidate's position lists — candidates after the
            # intersection are few, the chain scan is linear
            cand: np.ndarray | None = None
            for t in uniq:
                cand = (
                    decoded[t][0]
                    if cand is None
                    else np.intersect1d(cand, decoded[t][0])
                )
                if cand.size == 0:
                    return []
            starts_of = {
                t: np.concatenate(([0], np.cumsum(decoded[t][1])))
                for t in uniq
            }
            matched = []
            for d in cand.tolist():
                pls = []
                for t in seq:
                    docs, _tfs, pos = decoded[t]
                    j = int(np.searchsorted(docs, d))  # present: cand ⊆ docs
                    st = starts_of[t]
                    pls.append(pos[st[j] : st[j + 1]])
                if self._slop_chain(pls, slop):
                    matched.append(d)
            if not matched:
                return []
            match_docs = np.asarray(matched, dtype=np.int64)
        dele = self.tombstones
        if dele.size:
            match_docs = match_docs[~np.isin(match_docs, dele)]
            if match_docs.size == 0:
                return []

        # BM25 over the distinct terms, restricted to matching docs
        acc: dict[int, float] = {d: 0.0 for d in match_docs.tolist()}
        match_set = match_docs
        for t in uniq:  # sorted-term summation order == oracle
            docs, tfs, _ = decoded[t]
            sel = np.isin(docs, match_set)
            if not sel.any():
                continue
            d_sel, tf_sel = docs[sel], tfs[sel].astype(np.float64)
            idf = self._idf(segs[t].count)
            dls = self.doclens[d_sel]
            scores = idf * (
                tf_sel / (tf_sel + BM25_K1 * (1.0 - BM25_B + BM25_B * dls / self.avgdl))
            )
            for d, s in zip(d_sel.tolist(), scores.tolist()):
                acc[d] += s
        top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return self._attach(
            [SearchHit(doc_id=d, score=s) for d, s in top],
            kw.get("with_urls", True),
            kw.get("with_fields", False),
        )

    def accumulate_scores(self, query_terms: list[str]) -> dict[int, float]:
        """Exhaustive OR scoring over decoded postings: every matched
        live doc's full BM25 score (sorted-term summation order, via
        the vectorized ``accumulate_arrays`` — no per-posting Python
        loop). Building block for bool queries, multi-field
        most_fields scoring (index/fielded.py) and the engine-side
        oracle."""
        uniq, sums = self._accumulate(self.load_segments(query_terms))
        return dict(zip(uniq.tolist(), sums.tolist()))

    def _accumulate(self, segs: dict) -> tuple[np.ndarray, np.ndarray]:
        """``accumulate_arrays`` over loaded segments with this engine's
        idf, norms and tombstones: (live doc ids, BM25 sums)."""
        return accumulate_arrays(
            {t: codec.decode_postings(enc) for t, enc in segs.items()},
            idf_of=lambda t: self._idf(segs[t].count),
            dl_of=lambda docs: self.doclens[docs],
            avgdl=self.avgdl,
            k1=BM25_K1,
            b=BM25_B,
            deleted=self.tombstones,
        )

    def search_bruteforce(self, query_terms: list[str], k: int = 10) -> list[SearchHit]:
        """Exhaustive OR scoring over decoded postings (engine-side oracle)."""
        acc = self.accumulate_scores(query_terms)
        top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [SearchHit(doc_id=d, score=s) for d, s in top]

    # --- compound queries ---------------------------------------------------

    @staticmethod
    def bool_algebra(
        must_accs: list[dict[int, float]],
        should_accs: list[dict[int, float]],
        not_sets: list[set[int]],
        filter_sets: list[set[int]],
        minimum_should_match: int,
    ) -> list[tuple[int, float]]:
        """The ES bool clause algebra over pre-accumulated clause
        scores/hit sets (shared by the single-index and fielded
        engines): candidates = AND(must) ∩ AND(filter) − OR(must_not),
        gated by >= msm matching should clauses; score = must + matching
        should clause scores summed in DECLARED clause order. Sorted
        (-score, doc_id)."""
        cand: set[int] | None = None
        for acc in must_accs:
            cand = set(acc) if cand is None else cand & set(acc)
        for hits in filter_sets:
            cand = set(hits) if cand is None else cand & hits
        if cand is None:
            cand = set()
            for acc in should_accs:
                cand |= set(acc)
        for hits in not_sets:
            cand -= hits
        if minimum_should_match > 0 and should_accs:
            cand = {
                d
                for d in cand
                if sum(1 for acc in should_accs if d in acc) >= minimum_should_match
            }
        scored: list[tuple[int, float]] = []
        for d in cand:
            s = 0.0
            for acc in must_accs:
                s += acc[d]
            for acc in should_accs:
                if d in acc:
                    s += acc[d]
            scored.append((d, s))
        scored.sort(key=lambda kv: (-kv[1], kv[0]))
        return scored

    def _analyze(self, query: str) -> list[str]:
        """Analyze a clause string with the index's own analyzer (the
        same contract as search_text)."""
        from job_searchengine_project_spark.functions.tokenize import (
            tokenize_2gram_py,
            tokenize_morph_py,
        )

        if self.stats.get("analyzer", "morph") == "2gram":
            return tokenize_2gram_py(query)
        return tokenize_morph_py(query, dedup=True)

    def _match_docs(self, terms: list[str]) -> set[int]:
        """Live docs matching >=1 of `terms` (ES match-clause hit set,
        no scoring)."""
        return set(self._live_docs(self.load_segments(terms)).tolist())

    def _live_docs(self, segs: dict) -> np.ndarray:
        """Sorted live doc ids holding >= 1 of the loaded terms: the
        decoded posting doc-id union minus tombstones."""
        if not segs:
            return np.empty(0, dtype=np.int64)
        docs = np.unique(
            np.concatenate([codec.decode_postings(enc)[0] for enc in segs.values()])
        )
        dele = self.tombstones
        return docs[~np.isin(docs, dele)] if dele.size else docs

    def search_bool(
        self,
        must: list[str] = (),
        should: list[str] = (),
        must_not: list[str] = (),
        filter: list[str] = (),
        k: int = 10,
        minimum_should_match: int | None = None,
        with_urls: bool = True,
        offset: int = 0,
        filter_docs: list[set[int]] = (),
        must_not_docs: list[set[int]] = (),
    ) -> list[SearchHit]:
        """ES `bool` compound query (the reference's ES surface accepts
        it on every indexed field; published queries are single-clause
        `match` specializations of it — README.md:43-71).

        Each clause is a query STRING analyzed with the index's
        analyzer (match semantics: a clause hits a doc iff >=1 of its
        terms appears). A doc qualifies iff it matches every `must`
        and every `filter` clause, no `must_not` clause, and at least
        `minimum_should_match` `should` clauses (ES default: 0 when
        must/filter present, else 1). Score = sum of BM25 clause
        scores of `must` plus MATCHING `should` clauses, summed in
        declared-clause order (each clause internally sums in
        sorted-term order — accumulate_scores); `filter`/`must_not`
        never contribute score, exactly ES's filter-context contract.

        Driver-side composition over the same pruned segment reads as
        every other query; at cluster scale the same clause algebra
        runs per shard (the hit sets and per-clause accumulators are
        shard-local, like index/sharded.py's kernels)."""
        must, should = list(must), list(should)
        must_not, filter = list(must_not), list(filter)
        filter_docs, must_not_docs = list(filter_docs), list(must_not_docs)
        if minimum_should_match is None:
            minimum_should_match = 0 if (must or filter or filter_docs) else 1
        if not (must or filter or should or filter_docs):
            self._bool_total = 0
            return []

        scored = self.bool_algebra(
            [self.accumulate_scores(self._analyze(q)) for q in must],
            [self.accumulate_scores(self._analyze(q)) for q in should],
            [self._match_docs(self._analyze(q)) for q in must_not] + must_not_docs,
            [self._match_docs(self._analyze(q)) for q in filter] + filter_docs,
            minimum_should_match,
        )
        # exact match count for hits.total (the algebra scored every
        # candidate anyway); read back by the DSL layer (_query_hits)
        self._bool_total = len(scored)
        return self._attach(
            [
                SearchHit(doc_id=d, score=s)
                for d, s in scored[max(0, offset) : max(0, offset) + k]
            ],
            with_urls,
        )
