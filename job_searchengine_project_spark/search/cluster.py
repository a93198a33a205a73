"""Distributed ES request-body endpoint over the sharded layout.

``query_sharded(spark, index_dir, body)`` accepts the same JSON a
reference user sends to ES (README.md:43-71 via Kibana) and answers it
ENTIRELY through the distributed paths: per-shard scoring kernels
(index/sharded.py), shard-local doc-values filter specs, the
persisted fuzzy/term-dictionary artifacts, DataFrame hit-set algebra
for exact totals and aggregation scopes, and one Spark groupBy per
aggregation. The driver-side engine (search/engine.py query()) is the
single-node twin — parity is tested body-for-body.

What stays on the driver: the request parse, query-string analysis,
dictionary expansions (per-term variants — O(query), never
vocabulary-sized), and the final page of hits. Everything
corpus-sized — postings, filters, hit sets, aggregation state — lives
in executors or DataFrame plans.

Response shape mirrors ES: ``{"hits": {"total": {"value", "relation"},
"hits": [{"_id", "_score", ...}]}, "aggregations": {...}}`` with
``total`` always exact (relation "eq") — the hit-set DataFrames make
the exact count one distributed count away.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


DEFAULT_MAX_RESULT_WINDOW = 10_000  # the ES index.max_result_window default


def _stats(index_dir: str) -> dict:
    """Top-level stats.json, or {} for a FIELDED index dir (stats live
    per sub-index there; field-routed paths read their own)."""
    p = os.path.join(index_dir, "stats.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _fielded_manifest(index_dir: str) -> dict | None:
    from job_searchengine_project_spark.index.fielded import FIELDS_MANIFEST

    p = os.path.join(index_dir, FIELDS_MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _field_sub(index_dir: str, manifest: dict, field: str) -> tuple[str, dict]:
    """Resolve a match leaf's field to its sub-index dir + stats.
    Unknown fields raise (the fielded engine's KeyError analog)."""
    if field not in manifest["fields"]:
        raise ValueError(
            f"unknown field {field!r}; indexed fields: "
            f"{sorted(manifest['fields'])}"
        )
    sub = os.path.join(index_dir, "fields", field)
    with open(os.path.join(sub, "stats.json")) as f:
        return sub, json.load(f)


def _analyze(stats: dict, text: str) -> list[str]:
    from job_searchengine_project_spark.functions.tokenize import (
        tokenize_2gram_py,
        tokenize_morph_py,
    )

    if stats.get("analyzer", "morph") == "2gram":
        return tokenize_2gram_py(text)
    return tokenize_morph_py(text, dedup=True)


def _leaf_field_text(spec: dict) -> tuple[str, str]:
    ((field, val),) = spec.items()
    if isinstance(val, dict):
        return field, val.get("query", val.get("value", ""))
    return field, val


def _parse_bool(spec: dict):
    """Split a bool body into (must, should, must_not, filter) match
    texts plus (filter_specs, must_not_specs) doc-values/dictionary
    leaves, exactly the clause surface search_sharded_bool takes."""
    out = {"must": [], "should": [], "must_not": [], "filter": []}
    fspecs, nspecs = [], []

    def leaf(c, key):
        ((ck, cs),) = c.items()
        if ck == "match":
            out[key].append(_leaf_field_text(cs)[1])
        elif ck in ("range", "term", "terms", "exists"):
            if key not in ("filter", "must_not"):
                raise ValueError(f"{ck} clauses are filter-context only")
            if ck == "exists":
                spec = {"col": cs["field"], "exists": True}
            else:
                ((col, bounds),) = cs.items()
                spec = (
                    {"col": col, "eq": bounds}
                    if ck == "term"
                    else {"col": col, "isin": list(bounds)}
                    if ck == "terms"
                    else {"col": col, **bounds}
                )
            (fspecs if key == "filter" else nspecs).append(spec)
        else:
            raise ValueError(f"unsupported bool leaf: {ck!r}")

    for key in out:
        for c in spec.get(key, []):
            leaf(c, key)
    return out, fspecs, nspecs


def bool_match_docs_sharded(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    clauses: dict,
    filter_specs: list[dict],
    must_not_specs: list[dict],
    msm: int,
) -> DataFrame:
    """The bool query's EXACT hit set as DataFrame algebra: semi-joins
    intersect must/filter clause hit sets and spec filters, a
    clause-count groupBy applies minimum_should_match, anti-joins
    subtract must_not — every step a distributed plan, nothing
    driver-sized. Feeds exact totals and aggregation scopes."""
    from job_searchengine_project_spark.index.sharded import (
        dv_filter_docs_sharded,
        match_docs_sharded,
    )

    cand: DataFrame | None = None
    for q in clauses["must"] + clauses["filter"]:
        df = match_docs_sharded(spark, index_dir, _analyze(stats, q))
        cand = df if cand is None else cand.join(df, "doc_id", "left_semi")
    for sp in filter_specs:
        df = dv_filter_docs_sharded(spark, index_dir, sp)
        cand = df if cand is None else cand.join(df, "doc_id", "left_semi")
    should = clauses["should"]
    if should and (msm > 0 or cand is None):
        n_needed = max(msm, 1) if cand is None else msm
        tagged = None
        for i, q in enumerate(should):
            df = match_docs_sharded(spark, index_dir, _analyze(stats, q)).withColumn(
                "clause", F.lit(i)
            )
            tagged = df if tagged is None else tagged.unionByName(df)
        ok = (
            tagged.groupBy("doc_id")
            .agg(F.countDistinct("clause").alias("n"))
            .filter(F.col("n") >= n_needed)
            .select("doc_id")
        )
        cand = ok if cand is None else cand.join(ok, "doc_id", "left_semi")
    if cand is None:
        return spark.createDataFrame([], "doc_id long")
    for q in clauses["must_not"]:
        cand = cand.join(
            match_docs_sharded(spark, index_dir, _analyze(stats, q)),
            "doc_id",
            "left_anti",
        )
    for sp in must_not_specs:
        cand = cand.join(
            dv_filter_docs_sharded(spark, index_dir, sp), "doc_id", "left_anti"
        )
    return cand


def bool_match_docs_fielded(
    spark: SparkSession,
    fielded_dir: str,
    manifest: dict,
    pairs: dict[str, list],
    filter_specs: list[dict],
    must_not_specs: list[dict],
    msm: int,
) -> DataFrame:
    """Field-targeted bool hit set as DataFrame algebra: per-clause
    match docs resolve against the clause's field sub-index (that
    field's analyzer), specs against the shared top-level sidecars —
    the fielded twin of bool_match_docs_sharded, feeding exact totals
    and agg scopes."""
    from job_searchengine_project_spark.index.sharded import (
        dv_filter_docs_sharded,
        match_docs_sharded,
    )

    def clause_docs(field: str, text: str) -> DataFrame:
        sub, sub_stats = _field_sub(fielded_dir, manifest, field)
        return match_docs_sharded(spark, sub, _analyze(sub_stats, text))

    cand: DataFrame | None = None
    for fld, qtext in pairs["must"] + pairs["filter"]:
        df = clause_docs(fld, qtext)
        cand = df if cand is None else cand.join(df, "doc_id", "left_semi")
    for sp in filter_specs:
        df = dv_filter_docs_sharded(spark, fielded_dir, sp)
        cand = df if cand is None else cand.join(df, "doc_id", "left_semi")
    should = pairs["should"]
    if should and (msm > 0 or cand is None):
        n_needed = max(msm, 1) if cand is None else msm
        tagged: DataFrame | None = None
        for i, (fld, qtext) in enumerate(should):
            df = clause_docs(fld, qtext).withColumn("clause", F.lit(i))
            tagged = df if tagged is None else tagged.unionByName(df)
        ok = (
            tagged.groupBy("doc_id")
            .agg(F.countDistinct("clause").alias("n"))
            .filter(F.col("n") >= n_needed)
            .select("doc_id")
        )
        cand = ok if cand is None else cand.join(ok, "doc_id", "left_semi")
    if cand is None:
        return spark.createDataFrame([], "doc_id long")
    for fld, qtext in pairs["must_not"]:
        cand = cand.join(clause_docs(fld, qtext), "doc_id", "left_anti")
    for sp in must_not_specs:
        cand = cand.join(
            dv_filter_docs_sharded(spark, fielded_dir, sp), "doc_id", "left_anti"
        )
    return cand


def _hits_and_scope(
    spark: SparkSession, index_dir: str, stats: dict, q: dict, depth: int
):
    """Evaluate one query kind distributed: returns (ranked DataFrame
    of (doc_id, score, url) limited to ``depth``, exact-hit-set
    DataFrame of doc_id) — the second feeds totals and agg scopes."""
    from job_searchengine_project_spark.index.fuzzy import fuzzy_expand_terms
    from job_searchengine_project_spark.index.sharded import (
        match_docs_sharded,
        search_sharded,
        search_sharded_bool,
        search_sharded_fuzzy,
        search_sharded_phrase,
    )
    from job_searchengine_project_spark.index.termdict import (
        prefix_terms,
        wildcard_terms,
    )

    ((kind, spec),) = q.items()
    manifest = _fielded_manifest(index_dir)
    if kind == "multi_match":
        if manifest is None:
            raise ValueError("multi_match requires a fielded index")
        from job_searchengine_project_spark.index.sharded_fielded import (
            match_docs_sharded_multi,
            search_sharded_multi,
        )

        return (
            search_sharded_multi(
                spark, index_dir, spec["query"],
                fields=spec.get("fields"), k=depth,
                type=spec.get("type", "most_fields"),
                tie_breaker=spec.get("tie_breaker"),
            ),
            match_docs_sharded_multi(
                spark, index_dir, spec["query"], fields=spec.get("fields")
            ),
        )
    if manifest is not None and kind in (
        "match", "match_phrase", "match_phrase_prefix",
        "fuzzy", "prefix", "wildcard",
    ):
        # field-routed single-field kinds: the leaf names a real
        # field, and each field's sub-index is a COMPLETE index (own
        # shards, positions, fuzzy variants, term dictionary), so the
        # generic single-index branches below run against it with
        # that field's analyzer/stats
        field, _text = _leaf_field_text(spec)
        index_dir, stats = _field_sub(index_dir, manifest, field)
    elif manifest is not None and kind in (
        "bool", "range", "term", "terms", "exists"
    ):
        # field-targeted bool (the full ES request shape): match
        # leaves carry their field, range/term/terms/exists specs hit
        # the SHARED top-level doc-values
        from job_searchengine_project_spark.index.sharded_fielded import (
            search_sharded_bool_fielded,
        )

        if kind != "bool":  # standalone filter sugar
            spec = {"filter": [{kind: spec}]}
        pairs: dict[str, list] = {
            "must": [], "should": [], "must_not": [], "filter": []
        }
        fspecs: list[dict] = []
        nspecs: list[dict] = []
        for key in pairs:
            for c in spec.get(key, []):
                ((ck, cs),) = c.items()
                if ck == "match":
                    pairs[key].append(_leaf_field_text(cs))
                elif ck in ("range", "term", "terms", "exists"):
                    if key not in ("filter", "must_not"):
                        raise ValueError(
                            f"{ck} clauses are filter-context only"
                        )
                    if ck == "exists":
                        sp = {"col": cs["field"], "exists": True}
                    else:
                        ((col, bounds),) = cs.items()
                        sp = (
                            {"col": col, "eq": bounds}
                            if ck == "term"
                            else {"col": col, "isin": list(bounds)}
                            if ck == "terms"
                            else {"col": col, **bounds}
                        )
                    (fspecs if key == "filter" else nspecs).append(sp)
                else:
                    raise ValueError(f"unsupported bool leaf: {ck!r}")
        msm = spec.get("minimum_should_match")
        if msm is None:
            msm = 0 if (pairs["must"] or pairs["filter"] or fspecs) else 1
        ranked = search_sharded_bool_fielded(
            spark, index_dir,
            must=pairs["must"], should=pairs["should"],
            must_not=pairs["must_not"], filter=pairs["filter"],
            filter_specs=fspecs, must_not_specs=nspecs,
            minimum_should_match=msm, k=depth,
        )
        scope = bool_match_docs_fielded(
            spark, index_dir, manifest, pairs, fspecs, nspecs, msm
        )
        return ranked, scope
    if kind == "match":
        terms = _analyze(stats, _leaf_field_text(spec)[1])
        if depth == 0:
            # size=0 body (aggs-only request): no hit page is ever
            # read, so skip the ranked kernel + url attach entirely
            ranked = spark.createDataFrame(
                [], "doc_id long, score double, url string"
            )
        else:
            ranked = search_sharded(spark, index_dir, terms, k=depth)
        return ranked, match_docs_sharded(spark, index_dir, terms)
    if kind == "match_phrase":
        text = _leaf_field_text(spec)[1]
        ((_, mp_val),) = spec.items()
        mp_slop = int(mp_val.get("slop", 0)) if isinstance(mp_val, dict) else 0
        full = search_sharded_phrase(
            spark, index_dir, text, k=10**9, slop=mp_slop
        )
        return full.limit(depth), full.select("doc_id")
    if kind == "fuzzy":
        ((_, val),) = spec.items()
        term = val.get("value") if isinstance(val, dict) else val
        fuzz = int(val.get("fuzziness", 1)) if isinstance(val, dict) else 1
        expanded = fuzzy_expand_terms(index_dir, [term], max_edits=fuzz)
        return (
            search_sharded_fuzzy(spark, index_dir, [term], k=depth, max_edits=fuzz),
            match_docs_sharded(spark, index_dir, expanded),
        )
    if kind == "match_phrase_prefix":
        from job_searchengine_project_spark.index.sharded import (
            _attach_urls_pruned,
            phrase_prefix_docs_sharded,
        )

        text = _leaf_field_text(spec)[1]
        ((_, mpp_val),) = spec.items()
        mx = (
            int(mpp_val.get("max_expansions", 50))
            if isinstance(mpp_val, dict)
            else 50
        )
        scope = phrase_prefix_docs_sharded(
            spark, index_dir, text, max_expansions=mx
        )
        # constant_score family (same contract as the driver engine's
        # search_phrase_prefix): 1.0 per match, doc_id order
        hits = (
            scope.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(depth)
        )
        return (
            _attach_urls_pruned(spark, index_dir, hits)
            .orderBy(F.asc("doc_id"))
            .select("doc_id", "score", "url"),
            scope,
        )
    if kind in ("prefix", "wildcard"):
        ((_, val),) = spec.items()
        pat = val.get("value") if isinstance(val, dict) else val
        expand = prefix_terms if kind == "prefix" else wildcard_terms
        terms = expand(index_dir, pat)
        scope = match_docs_sharded(spark, index_dir, terms)
        # ES constant_score rewrite: 1.0 per matching doc, doc_id order
        hits = (
            scope.withColumn("score", F.lit(1.0))
            .orderBy(F.asc("doc_id"))
            .limit(depth)
        )
        from job_searchengine_project_spark.index.sharded import (
            _attach_urls_pruned,
        )

        return (
            _attach_urls_pruned(spark, index_dir, hits)
            .orderBy(F.asc("doc_id"))
            .select("doc_id", "score", "url"),
            scope,
        )
    if kind in ("bool", "range", "term", "terms", "exists"):
        if kind != "bool":  # standalone filter sugar
            spec = {"filter": [{kind: spec}]}
        clauses, fspecs, nspecs = _parse_bool(spec)
        msm = spec.get("minimum_should_match")
        if msm is None:
            msm = 0 if (clauses["must"] or clauses["filter"] or fspecs) else 1
        ranked = search_sharded_bool(
            spark, index_dir,
            must=clauses["must"], should=clauses["should"],
            must_not=clauses["must_not"], filter=clauses["filter"],
            filter_specs=fspecs, must_not_specs=nspecs,
            minimum_should_match=msm, k=depth,
        )
        scope = bool_match_docs_sharded(
            spark, index_dir, stats, clauses, fspecs, nspecs, msm
        )
        return ranked, scope
    raise ValueError(f"unsupported query kind: {kind!r}")


def match_counts_sharded_batch(
    spark: SparkSession, index_dir: str, terms_by_qid: dict[str, list[str]]
) -> dict[str, int]:
    """Exact live match totals for B term sets in ONE pass: each
    pushed-down segment row decodes once and emits its doc ids for
    every query containing that term (tiny broadcast term->qids map),
    then one distinct + groupBy — B totals for one scan instead of B
    scans."""
    import pandas as pd

    from job_searchengine_project_spark.index.sharded import _load_meta

    with open(os.path.join(index_dir, "stats.json")) as f:
        _load_meta(index_dir, json.load(f))  # refuse stale shards
    term_qids: dict[str, list[str]] = {}
    for qid, terms in terms_by_qid.items():
        for t in set(terms):
            term_qids.setdefault(t, []).append(qid)
    if not term_qids:
        return {qid: 0 for qid in terms_by_qid}
    seg = (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .filter(F.col("term").isin(sorted(term_qids)))
    )
    bc = spark.sparkContext.broadcast(term_qids)

    def decode_tagged(batches):
        from job_searchengine_project_spark.index import codec

        for pdf in batches:
            for r in pdf.itertuples():
                docs, _ = codec.decode_postings(codec.from_row(r))
                for qid in bc.value.get(str(r.term), ()):
                    yield pd.DataFrame({"query_id": qid, "doc_id": docs})

    hits = seg.mapInPandas(
        decode_tagged, schema="query_id string, doc_id long"
    ).distinct()
    tomb_dir = os.path.join(index_dir, "deleted")
    if os.path.isdir(tomb_dir):
        hits = hits.join(
            spark.read.parquet(tomb_dir).select("doc_id").distinct(),
            "doc_id",
            "left_anti",
        )
    counts = {
        r["query_id"]: int(r["n"])
        for r in hits.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    return {qid: counts.get(qid, 0) for qid in terms_by_qid}


def msearch_sharded(
    spark: SparkSession,
    index_dir: str,
    bodies: list[dict],
    max_result_window: int = DEFAULT_MAX_RESULT_WINDOW,
) -> dict:
    """ES ``_msearch`` over the sharded layout: B request bodies, one
    response list. Plain relevance-ordered ``match`` bodies (no
    from/sort/aggs/cursor/highlight) answer in TWO distributed passes
    total — the batch kernel scores every query over shared decoded
    state (index/sharded.py search_sharded_batch: per-query marginal
    cost is the scoring loop, not the scan/shuffle) and the tagged
    one-pass counter supplies exact totals — instead of 2B separate
    jobs. Anything fancier falls back to per-body query_sharded
    (identical responses either way — tested)."""
    def _simple(b: dict) -> bool:
        if set(b) - {"query", "size"}:
            return False
        q = b.get("query") or {}
        return len(q) == 1 and next(iter(q)) == "match"

    if not all(_simple(b) for b in bodies):
        return {
            "responses": [
                query_sharded(spark, index_dir, b, max_result_window)
                for b in bodies
            ]
        }
    from job_searchengine_project_spark.index.sharded import (
        search_sharded_batch,
    )

    stats = _stats(index_dir)
    terms_by_qid = {}
    sizes = {}
    for i, b in enumerate(bodies):
        qid = str(i)
        terms_by_qid[qid] = _analyze(stats, _leaf_field_text(b["query"]["match"])[1])
        sizes[qid] = int(b.get("size", 10))
    k = max(1, max(sizes.values()))
    if k > max_result_window:
        raise ValueError(
            f"size = {k} exceeds max_result_window ({max_result_window})"
        )
    rows = search_sharded_batch(spark, index_dir, terms_by_qid, k=k).collect()
    by_qid: dict[str, list] = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(r)
    totals = match_counts_sharded_batch(spark, index_dir, terms_by_qid)
    responses = []
    for i in range(len(bodies)):
        qid = str(i)
        page = by_qid.get(qid, [])[: sizes[qid]]
        responses.append(
            {
                "hits": {
                    "total": {"value": totals[qid], "relation": "eq"},
                    "hits": [
                        {"_id": r["url"], "_score": float(r["score"])}
                        for r in page
                    ],
                }
            }
        )
    return {"responses": responses}


def count_sharded(spark: SparkSession, index_dir: str, body: dict) -> dict:
    """ES `_count` distributed: the exact live match count as one
    DataFrame count over the hit-set algebra."""
    q = (body or {}).get("query") or {}
    if not q:
        return {"count": 0}
    stats = _stats(index_dir)
    _, scope = _hits_and_scope(spark, index_dir, stats, q, depth=1)
    return {"count": scope.count()}


_SUPPORTED_BODY_KEYS = frozenset(
    {"query", "size", "from", "sort", "aggs", "aggregations",
     "search_after", "highlight", "track_total_hits"}
)


def _match_terms_of(index_dir: str, stats: dict, q: dict) -> list[str]:
    """Every scoring match term of a request body (what ES highlights)
    — the distributed twin of SearchEngine._query_match_terms: match
    leaves, persisted-table fuzzy expansions, bool scoring clauses.

    On a FIELDED index each leaf resolves to its field's sub-index
    first (that field's analyzer and variant tables), exactly like
    _hits_and_scope routes the hits — analyzing a fielded 2gram leaf
    with the top-level default (morph) or expanding fuzzy against the
    variants-less top level produced wrong/empty highlight terms
    (ADVICE r5 #3)."""
    if not q:
        return []
    manifest = _fielded_manifest(index_dir)

    def leaf_ctx(leaf_spec: dict) -> tuple[str, dict]:
        if manifest is None:
            return index_dir, stats
        field, _t = _leaf_field_text(leaf_spec)
        return _field_sub(index_dir, manifest, field)

    ((kind, spec),) = q.items()
    if kind in ("match", "match_phrase"):
        sub, sub_stats = leaf_ctx(spec)
        return _analyze(sub_stats, _leaf_field_text(spec)[1])
    if kind == "fuzzy":
        from job_searchengine_project_spark.index.fuzzy import fuzzy_expand_terms

        sub, _sub_stats = leaf_ctx(spec)
        ((_, val),) = spec.items()
        term = val.get("value") if isinstance(val, dict) else val
        fuzz = int(val.get("fuzziness", 1)) if isinstance(val, dict) else 1
        return fuzzy_expand_terms(sub, [term], max_edits=fuzz)
    if kind == "bool":
        terms: list[str] = []
        for key in ("must", "should", "filter"):
            for c in spec.get(key, []):
                ((ck, cs),) = c.items()
                if ck == "match":
                    sub, sub_stats = leaf_ctx(cs)
                    terms.extend(_analyze(sub_stats, _leaf_field_text(cs)[1]))
        return sorted(set(terms))
    return []


def _stored_fields_for(
    spark: SparkSession, index_dir: str, urls: list[str]
) -> dict[str, dict]:
    """Stored _source rows for a page of hit urls: the driver-side
    keyed docstore read (``newest_stored_rows``, the engine's
    fields_of_many shape), newest generation per url. The page's urls
    are already on the driver, so a Spark job (scan + collect) would
    pay a whole scheduling round-trip for a k-row read (r6). Listed
    per call, so a sharded query sees the latest update;
    ``index_dir`` must be a driver-local path."""
    from job_searchengine_project_spark.iolayout import ParquetSnapshot
    from job_searchengine_project_spark.search.stored import newest_stored_rows

    stats = _stats(index_dir) or _fielded_manifest(index_dir)
    if not stats or not stats.get("store_fields"):
        return {}
    return newest_stored_rows(
        ParquetSnapshot(os.path.join(index_dir, "stored"), "sbucket"),
        urls,
        int(stats.get("stored_buckets", 64)),
    )


def _apply_highlight(
    spark: SparkSession, index_dir: str, stats: dict, q: dict,
    hl: dict, hits: list[dict],
) -> None:
    """Per-hit post-processing over the page's stored fields — the
    same whole-field / token-window-fragment contract as the driver
    engine (SearchEngine.highlight_text / highlight_fragments)."""
    from job_searchengine_project_spark.search.engine import SearchEngine

    terms = _match_terms_of(index_dir, stats, q)
    stored = _stored_fields_for(spark, index_dir, [h["_id"] for h in hits])
    for h in hits:
        src = stored.get(h["_id"]) or {}
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
                    "number_of_fragments", hl.get("number_of_fragments", 0)
                )
            )
            if nof > 0:
                h["highlight"][fname] = SearchEngine.highlight_fragments(
                    text, terms,
                    fragment_size=int(
                        fspec.get("fragment_size", hl.get("fragment_size", 20))
                    ),
                    number_of_fragments=nof, pre_tag=pre, post_tag=post,
                )
            else:
                h["highlight"][fname] = [
                    SearchEngine.highlight_text(text, terms, pre, post)
                ]

def _is_cursor_sort(sort_spec) -> bool:
    """True for the canonical cursor-able relevance sort
    ``[{"_score": "desc"}, {"_doc": "asc"}]`` (dict or plain forms) —
    the ES idiom that makes every hit carry a resumable sort key."""
    if not isinstance(sort_spec, list) or len(sort_spec) != 2:
        return False

    def norm(s):
        if isinstance(s, str):
            return (s, "asc")
        ((col, sp),) = s.items()
        return (col, sp.get("order", "asc") if isinstance(sp, dict) else sp)

    return [norm(s) for s in sort_spec] == [("_score", "desc"), ("_doc", "asc")]


def query_sharded(
    spark: SparkSession,
    index_dir: str,
    body: dict,
    max_result_window: int = DEFAULT_MAX_RESULT_WINDOW,
) -> dict:
    """The distributed twin of SearchEngine.query() (see module
    docstring). Supported: match, match_phrase (incl. slop), fuzzy,
    prefix, wildcard, bool (match leaves + range/term filter specs +
    minimum_should_match), from/size, sort on doc-values columns /
    "_doc" (a distributed TakeOrdered over the sidecar join),
    terms/histogram/metric aggs (one groupBy each, scoped by the
    query's exact hit set), highlight over the stored fields, and
    ``search_after`` deep pagination under the canonical cursor sort
    ``[{"_score": "desc"}, {"_doc": "asc"}]`` (hits then carry a
    resumable ``sort`` key; the cursor path runs the exhaustive
    kernel in every shard, like the driver engine, so cursor scores
    compare exactly across pages).

    Unsupported top-level body keys raise (a paginating client must
    never silently receive page 1 again). ``from + size`` beyond
    ``max_result_window`` (the ES index.max_result_window analog,
    default 10k) raises and points at search_after — depth-paging
    costs every shard O(from + size) while a cursor costs O(size)."""
    unknown = set(body) - _SUPPORTED_BODY_KEYS
    if unknown:
        raise ValueError(f"unsupported request-body keys: {sorted(unknown)}")
    stats = _stats(index_dir)
    size = int(body.get("size", 10))
    frm = int(body.get("from", 0))
    q = body.get("query") or {}
    sort_spec = body.get("sort")
    cursor = body.get("search_after")
    cursor_sort = _is_cursor_sort(sort_spec)
    if cursor_sort:
        sort_spec = None  # relevance order: the ranked path IS the sort
    if cursor is not None:
        if not cursor_sort:
            raise ValueError(
                'search_after requires the cursor sort '
                '[{"_score": "desc"}, {"_doc": "asc"}]'
            )
        if frm:
            raise ValueError("search_after and from are exclusive")
        if len(cursor) != 2:
            raise ValueError("search_after cursor is [last_score, last_doc_id]")
    elif frm + size > max_result_window:
        raise ValueError(
            f"from + size = {frm + size} exceeds max_result_window "
            f"({max_result_window}); use search_after with the cursor sort "
            "for deep pagination"
        )
    hits_rows: list = []
    scope: DataFrame | None = None
    sort_vals: dict | None = None
    aggs_spec = body.get("aggs") or body.get("aggregations")
    total_pre: int | None = None
    if (
        q
        and not cursor_sort
        and not sort_spec
        and not aggs_spec
        and next(iter(q)) == "match"
        and frm + size > 0
    ):
        # r6 fused plain-match path: page + exact total in ONE Spark
        # job (search_sharded_match_total) instead of the ranked
        # kernel plus a second full match_docs kernel for the count.
        from job_searchengine_project_spark.index.sharded import (
            search_sharded_match_total,
        )

        ((_kind, spec),) = q.items()
        field, text = _leaf_field_text(spec)
        manifest = _fielded_manifest(index_dir)
        if manifest is not None:
            target, t_stats = _field_sub(index_dir, manifest, field)
        else:
            target, t_stats = index_dir, stats
        terms = _analyze(t_stats, text)
        rows, total_pre = search_sharded_match_total(
            spark, target, terms, k=frm + size
        )
        hits_rows = [(d, s, u) for d, s, u in rows[frm : frm + size]]
    elif q and cursor_sort:
        from job_searchengine_project_spark.index.sharded import (
            match_docs_sharded,
            search_sharded,
        )

        ((kind, spec),) = q.items()
        if kind != "match":
            raise ValueError(
                "the cursor sort / search_after path supports match "
                f"queries, got {kind!r}"
            )
        field, text = _leaf_field_text(spec)
        manifest = _fielded_manifest(index_dir)
        if manifest is not None:  # field-routed cursor paging
            target, t_stats = _field_sub(index_dir, manifest, field)
        else:
            target, t_stats = index_dir, stats
        terms = _analyze(t_stats, text)
        after = (
            (float(cursor[0]), int(cursor[1])) if cursor is not None else None
        )
        ranked = search_sharded(
            spark, target, terms,
            k=size if after is not None else frm + size,
            search_after=after,
        )
        scope = match_docs_sharded(spark, target, terms)
        page = ranked.collect()
        if after is None:
            page = page[frm : frm + size]
        hits_rows = [
            (int(r["doc_id"]), float(r["score"]), r["url"]) for r in page
        ]
        sort_vals = {d: [s, d] for d, s, _ in hits_rows}
    elif q:
        ranked, scope = _hits_and_scope(
            spark, index_dir, stats, q, depth=frm + size
        )
        if sort_spec:
            # distributed field sort: the FULL hit set semi-joins the
            # doc-values sidecars and one TakeOrdered produces the
            # page — Spark's orderBy().limit() never materializes the
            # full sort on any node. Missing values sort last via a
            # null-flag column; "_doc" is the internal-id tiebreaker.
            keys = []
            for s in sort_spec:
                if isinstance(s, str):
                    keys.append((s, "asc"))
                else:
                    ((col, sp),) = s.items()
                    keys.append(
                        (col, sp.get("order", "asc") if isinstance(sp, dict) else sp)
                    )
            df = scope
            order_cols = []
            for col, order in keys:
                if col == "_doc":
                    src = F.col("doc_id")
                else:
                    dv = spark.read.parquet(
                        os.path.join(index_dir, "docvalues", col)
                    ).withColumnRenamed(col, f"_sort_{col}")
                    df = df.join(dv, "doc_id", "left")
                    src = F.col(f"_sort_{col}")
                order_cols.append(F.asc(src.isNull()))  # missing last
                order_cols.append(
                    F.desc(src) if order == "desc" else F.asc(src)
                )
            order_cols.append(F.asc("doc_id"))  # pinned final tiebreak
            page = df.orderBy(*order_cols).limit(frm + size).collect()[frm:]
            ids = [int(r["doc_id"]) for r in page]
            urls = {
                int(r["doc_id"]): r["url"]
                for r in spark.read.parquet(os.path.join(index_dir, "forward"))
                .select("doc_id", "url")
                .filter(F.col("doc_id").isin(ids))
                .collect()
            } if ids else {}
            sort_vals = {}
            hits_rows = []
            for r in page:
                d = int(r["doc_id"])
                sv = [
                    d if c == "_doc" else r[f"_sort_{c}"] for c, _ in keys
                ]
                sort_vals[d] = sv
                hits_rows.append((d, None, urls.get(d)))
        else:
            hits_rows = [
                (int(r["doc_id"]), float(r["score"]), r["url"])
                for r in ranked.collect()[frm : frm + size]
            ]
    if scope is not None and (body.get("aggs") or body.get("aggregations")):
        # the hit-set scope feeds the exact total AND every agg's
        # semi-join: materialize the (small, doc_id-only) set once
        # instead of re-running the match kernel per consumer job
        scope = scope.localCheckpoint()
    total = (
        total_pre
        if total_pre is not None
        else scope.count() if scope is not None else 0
    )
    out_hits = []
    for d, s, url in hits_rows:
        entry = {"_id": url, "_score": s}
        if sort_vals is not None:
            entry["sort"] = sort_vals[d]
        out_hits.append(entry)
    resp = {
        "hits": {
            "total": {"value": int(total), "relation": "eq"},
            "hits": out_hits,
        }
    }
    if aggs_spec:
        from job_searchengine_project_spark.index.sharded import (
            aggregate_histogram_sharded,
            aggregate_terms_sharded,
        )

        from job_searchengine_project_spark.index.sharded import (
            aggregate_metric_sharded,
        )
        from job_searchengine_project_spark.search.engine import SearchEngine

        resp["aggregations"] = {}
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
                from job_searchengine_project_spark.index.sharded import (
                    aggregate_terms_subagg_sharded,
                )

                sub_names = list(sub_spec)
                rows = aggregate_terms_subagg_sharded(
                    spark, index_dir, aargs["field"], sub_spec,
                    size=int(aargs.get("size", 10)), doc_filter=scope,
                ).collect()
                resp["aggregations"][name] = {
                    "buckets": [
                        {
                            "key": r["key"],
                            "doc_count": int(r["doc_count"]),
                            **{sn: {"value": r[sn]} for sn in sub_names},
                        }
                        for r in rows
                    ]
                }
                continue
            if akind == "percentiles":
                from job_searchengine_project_spark.index.sharded import (
                    aggregate_percentiles_sharded,
                )

                from job_searchengine_project_spark.search.engine import (
                    SearchEngine,
                )

                ps = [
                    float(p)
                    for p in aargs.get(
                        "percents", SearchEngine.DEFAULT_PERCENTS
                    )
                ]
                rows = aggregate_percentiles_sharded(
                    spark, index_dir, aargs["field"], ps, doc_filter=scope
                ).collect()
                resp["aggregations"][name] = {
                    "values": {
                        str(float(r["percent"])): r["value"] for r in rows
                    }
                }
                continue
            if akind == "date_histogram":
                from job_searchengine_project_spark.index.sharded import (
                    aggregate_date_histogram_sharded,
                )

                rows = aggregate_date_histogram_sharded(
                    spark, index_dir, aargs["field"],
                    aargs.get("fixed_interval", aargs.get("interval")),
                    doc_filter=scope,
                ).collect()
            elif akind == "terms":
                rows = aggregate_terms_sharded(
                    spark, index_dir, aargs["field"],
                    size=int(aargs.get("size", 10)), doc_filter=scope,
                ).collect()
            elif akind == "histogram":
                rows = aggregate_histogram_sharded(
                    spark, index_dir, aargs["field"],
                    interval=float(aargs["interval"]), doc_filter=scope,
                ).collect()
            elif akind in SearchEngine.METRIC_AGGS:
                row = aggregate_metric_sharded(
                    spark, index_dir, aargs["field"], akind, doc_filter=scope
                ).collect()[0]
                v = row["value"]
                if akind == "value_count":
                    v = int(v or 0)
                resp["aggregations"][name] = {"value": v}
                continue
            else:
                raise ValueError(f"unsupported agg kind: {akind!r}")
            resp["aggregations"][name] = {
                "buckets": [
                    {"key": r["key"], "doc_count": int(r["doc_count"])}
                    for r in rows
                ]
            }
    hl = body.get("highlight")
    if hl:
        _apply_highlight(
            spark, index_dir, stats, q, hl, resp["hits"]["hits"]
        )
    return resp
