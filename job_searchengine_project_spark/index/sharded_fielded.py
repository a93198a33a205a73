"""Doc-range-sharded layout + distributed queries for FIELDED indexes.

The reference's ES template indexes separate per-field sub-fields with
their own analyzers (schema/es/es.sh:33-46) and its query set targets
them individually or through multi_match (README.md:43-71). The
fielded driver engine (index/fielded.py) already mirrors that as one
sub-index per (field, analyzer) with SHARED deterministic doc ids;
this module is its cluster-scale twin:

- ``build_sharded_fielded`` derives the doc-range-sharded layout
  (index/sharded.py) for EVERY field's sub-index. Doc ids — and
  therefore shard ranges — agree across fields (same n_docs, same
  n_shards), so a doc's postings in every field land in the SAME
  shard: cross-field score combination and clause algebra stay
  shard-local, exactly like ES computing multi_match inside each
  shard before the coordinating node merges.
- ``search_sharded_multi`` = distributed ES ``multi_match``
  (most_fields sum / best_fields dis_max + tie_breaker — the same
  combiners as index/fielded.py search_multi, same sorted-field float
  order, rank/score parity tested).
- ``search_sharded_bool_fielded`` = distributed ES ``bool`` with
  per-clause field targeting ({"match": {"title": ...}} leaves under
  must/should/must_not/filter) — per-clause accumulation runs against
  the clause's field sub-index inside the shard, then the shared
  ``SearchEngine.bool_algebra`` combines, shard-local.

Scale shape: ONE union scan over the pushed-down (field, term) rows
of all touched sub-indexes, one shuffle to colocate each shard's rows,
per-shard kernels with per-(field, shard) norms read executor-side,
and an associative global top-k merge — identical wire pattern to
``search_sharded``, multiplied by fields only in scan width, never in
shuffle depth. Global idf per (field, term) is one tiny agg. Norms,
postings and tombstones are never collected to the driver.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from job_searchengine_project_spark.index.fielded import FIELDS_MANIFEST
from job_searchengine_project_spark.index.sharded import (
    NORMS_DIR,
    _attach_urls_pruned,
    _clamp_k,
    _global_df_map,
    _load_meta,
    _load_shard_norms,
    _shard_dv_docs,
    _shard_tombstones,
    build_sharded_segments,
    shards_fresh,
)


def _sub_dir(fielded_dir: str, field: str) -> str:
    return os.path.join(fielded_dir, "fields", field)


def _sub_stats(fielded_dir: str, field: str) -> dict:
    with open(os.path.join(_sub_dir(fielded_dir, field), "stats.json")) as f:
        return json.load(f)


def build_sharded_fielded(
    spark: SparkSession, fielded_dir: str, n_shards: int = 32
) -> dict:
    """Derive ``shards/`` + ``shard_norms/`` for every field's
    sub-index (index/sharded.py build_sharded_segments, unchanged —
    the doc-range salting is identical because every sub-index shares
    n_docs and doc ids). Returns {field: shards_path}."""
    from job_searchengine_project_spark.index.sharded import (
        write_shard_doc_values,
    )

    with open(os.path.join(fielded_dir, FIELDS_MANIFEST)) as f:
        manifest = json.load(f)
    fields = sorted(manifest["fields"])
    n_by_field = {f: int(_sub_stats(fielded_dir, f)["n_docs"]) for f in fields}
    if len(set(n_by_field.values())) > 1:  # shared-doc-id invariant
        raise RuntimeError(
            f"fielded sub-indexes disagree on n_docs: {n_by_field}"
        )
    out = {
        f: build_sharded_segments(spark, _sub_dir(fielded_dir, f), n_shards)
        for f in fields
    }
    # the SHARED top-level doc-values sidecars (one per column for all
    # fields) get the same shard partitioning, so fielded bool filter
    # specs evaluate shard-locally exactly like the single-index path
    n_docs = n_by_field[fields[0]]
    rng = max(1, -(-n_docs // n_shards))
    write_shard_doc_values(
        spark, fielded_dir, manifest.get("doc_values") or [], rng
    )
    return out


def fielded_shards_fresh(fielded_dir: str) -> bool:
    """True when EVERY field's sharded layout is fresh (derived from
    that sub-index's current state — index/sharded.py shards_fresh)."""
    with open(os.path.join(fielded_dir, FIELDS_MANIFEST)) as f:
        manifest = json.load(f)
    return all(
        shards_fresh(_sub_dir(fielded_dir, f)) for f in sorted(manifest["fields"])
    )


def _analyze_for(stats: dict, text: str) -> list[str]:
    from job_searchengine_project_spark.functions.tokenize import (
        tokenize_2gram_py,
        tokenize_morph_py,
    )

    if stats.get("analyzer", "morph") == "2gram":
        return tokenize_2gram_py(text)
    return tokenize_morph_py(text, dedup=True)


def _field_scan(
    spark: SparkSession,
    fielded_dir: str,
    terms_by_field: dict[str, list[str]],
) -> tuple[DataFrame, dict[tuple[str, str], int], int]:
    """ONE union scan of every touched field's pushed-down term rows
    (tagged with a ``field`` literal), plus the global df per
    (field, term) (one tiny agg) and the shared shard range width.
    Every sub-index's freshness fingerprint is verified first."""
    segs: DataFrame | None = None
    rng = None
    for field in sorted(terms_by_field):
        terms = terms_by_field[field]
        if not terms:
            continue
        sub = _sub_dir(fielded_dir, field)
        stats = _sub_stats(fielded_dir, field)
        meta = _load_meta(sub, stats)  # raises on a stale layout
        if rng is None:
            rng = int(meta["rng"])
        elif rng != int(meta["rng"]):
            raise RuntimeError(
                "fielded sub-indexes sharded with different ranges; "
                "rebuild with build_sharded_fielded"
            )
        df = (
            spark.read.parquet(os.path.join(sub, "shards"))
            .filter(F.col("term").isin(sorted(set(terms))))
            .withColumn("field", F.lit(field))
        )
        segs = df if segs is None else segs.unionByName(
            df, allowMissingColumns=True
        )
    if segs is None:
        return None, {}, 0
    # per-(field, term) global df via the driver-side pyarrow read
    # (index/sharded.py _global_df_map) — the Spark groupBy+collect
    # paid one job-scheduling round-trip per fielded query (r6)
    df_map: dict[tuple[str, str], int] = {}
    for field in sorted(terms_by_field):
        terms = sorted(set(terms_by_field[field]))
        if not terms:
            continue
        for t, n in _global_df_map(_sub_dir(fielded_dir, field), terms).items():
            df_map[(field, t)] = n
    return segs, df_map, int(rng)


def search_sharded_multi(
    spark: SparkSession,
    fielded_dir: str,
    query: str,
    fields: list[str] | None = None,
    k: int = 10,
    type: str = "most_fields",
    tie_breaker: float | None = None,
) -> DataFrame:
    """Distributed ES ``multi_match`` over the sharded fielded layout.

    Per field, the query analyzes with THAT field's analyzer and
    accumulates per-doc BM25 against that field's df/avgdl/norms
    (``accumulate_arrays`` — the same sorted-term float kernel as
    everywhere); fields then combine PER DOC inside the shard:

    - ``most_fields``: per-field scores sum in sorted-field order;
    - ``best_fields``: ES dis_max — the first-max field counts once,
      every other matching field adds ``tie_breaker`` x its score, in
      sorted-field order (identical combiner to index/fielded.py
      search_multi:476 — rank/score parity is tested).

    A doc lives in exactly one shard in EVERY field (shared doc ids,
    shared ranges), so the combine is shard-local and the global
    top-k merge associative. Returns (doc_id, score, url) ranked."""
    if type not in ("most_fields", "best_fields"):
        raise ValueError(f"unsupported multi_match type: {type!r}")
    tb = float(tie_breaker) if tie_breaker is not None else 0.0
    with open(os.path.join(fielded_dir, FIELDS_MANIFEST)) as f:
        manifest = json.load(f)
    fields = sorted(fields if fields is not None else manifest["fields"])
    stats_by_field = {f: _sub_stats(fielded_dir, f) for f in fields}
    k = _clamp_k(k, max(int(s["n_docs"]) for s in stats_by_field.values()))
    terms_by_field = {
        f: sorted(set(_analyze_for(stats_by_field[f], query))) for f in fields
    }
    empty = spark.createDataFrame([], "doc_id long, score double, url string")
    segs, df_map, rng = _field_scan(spark, fielded_dir, terms_by_field)
    if segs is None or not df_map:
        return empty
    bc_df = spark.sparkContext.broadcast(df_map)
    # per-field scoring constants (idf N, avgdl, k1/b are per sub-index)
    consts = {
        f: {
            "n_eff": int(s["n_docs"]) - int(s.get("n_purged", 0)),
            "avgdl": float(s["avgdl"]),
            "k1": float(s["k1"]),
            "b": float(s["b"]),
            "n_docs": int(s["n_docs"]),
        }
        for f, s in stats_by_field.items()
    }
    sub_dirs = {f: _sub_dir(fielded_dir, f) for f in fields}
    active = [f for f in fields if terms_by_field[f]]  # sorted-field order

    def shard_multi(batches):
        from job_searchengine_project_spark.index import codec
        from job_searchengine_project_spark.search.engine import accumulate_arrays

        parts = list(batches)
        if not parts:
            return
        pdf_all = pd.concat(parts, ignore_index=True)
        if pdf_all.empty:
            return
        dfm = bc_df.value
        for shard_val, grp in pdf_all.groupby("shard", sort=False):
            shard = int(shard_val)
            per_field: list[dict[int, float]] = []
            for field in active:  # sorted-field order == driver engine
                rows = grp[grp["field"] == field]
                if rows.empty:
                    continue
                c = consts[field]
                dl_of = _load_shard_norms(
                    os.path.join(sub_dirs[field], NORMS_DIR),
                    shard, rng, c["n_docs"],
                )
                dele = _shard_tombstones(sub_dirs[field], shard, rng)
                arrays = {
                    str(r.term): codec.decode_postings(codec.from_row(r))
                    for r in rows.itertuples()
                }
                uniq, sums = accumulate_arrays(
                    arrays,
                    idf_of=lambda t, f=field: float(np.log1p(
                        (consts[f]["n_eff"] - dfm[(f, t)] + 0.5)
                        / (dfm[(f, t)] + 0.5)
                    )),
                    dl_of=dl_of,
                    avgdl=c["avgdl"],
                    k1=c["k1"],
                    b=c["b"],
                    deleted=dele,
                )
                if uniq.size:
                    per_field.append(dict(zip(uniq.tolist(), sums.tolist())))
            if not per_field:
                continue
            acc: dict[int, float] = {}
            if type == "most_fields":
                for facc in per_field:
                    for d, s in facc.items():
                        acc[d] = acc.get(d, 0.0) + s
            else:  # best_fields: identical loop to fielded.search_multi
                for d in {d for facc in per_field for d in facc}:
                    scores = [facc[d] for facc in per_field if d in facc]
                    best = max(scores)
                    bi = scores.index(best)  # first max is "best"
                    s = best
                    for j, fs in enumerate(scores):  # sorted-field order
                        if j != bi:
                            s += tb * fs
                    acc[d] = s
            top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            if top:
                yield pd.DataFrame(
                    {"doc_id": [d for d, _ in top],
                     "score": [s for _, s in top]}
                )

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    partials = segs.repartition(shuffle_n, "shard").mapInPandas(
        shard_multi, schema="doc_id long, score double"
    )
    top = partials.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    first_sub = _sub_dir(fielded_dir, fields[0])
    return (
        _attach_urls_pruned(spark, first_sub, top)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score", "url")
    )


def search_sharded_bool_fielded(
    spark: SparkSession,
    fielded_dir: str,
    must: list[tuple[str, str]] = (),
    should: list[tuple[str, str]] = (),
    must_not: list[tuple[str, str]] = (),
    filter: list[tuple[str, str]] = (),
    k: int = 10,
    minimum_should_match: int | None = None,
    filter_specs: list[dict] = (),
    must_not_specs: list[dict] = (),
) -> DataFrame:
    """Distributed ES ``bool`` with per-clause FIELD targeting: each
    clause is a (field, query) pair analyzed with that field's
    analyzer and accumulated against that field's stats INSIDE the
    shard; the shared ``SearchEngine.bool_algebra`` then combines
    shard-locally (cross-field set ops are exact — doc ids are shared
    across sub-indexes) and the global top-k merge is associative.
    Parity with the driver FieldedSearchEngine.search_bool is
    tested.

    ``filter_specs``/``must_not_specs``: declarative doc-values
    range/term filters over the SHARED top-level sidecars (one per
    column for every field — build_sharded_fielded shard-partitions
    them), evaluated by each kernel against its own slice exactly
    like the single-index path (index/sharded.py _shard_dv_docs) —
    the reference's natural 'title match + salary range' query shape
    with no driver-side doc sets."""
    from job_searchengine_project_spark.search.engine import SearchEngine

    must, should = list(must), list(should)
    must_not, filter = list(must_not), list(filter)
    filter_specs = [dict(s) for s in filter_specs]
    must_not_specs = [dict(s) for s in must_not_specs]
    if minimum_should_match is None:
        minimum_should_match = 0 if (must or filter or filter_specs) else 1
    empty = spark.createDataFrame([], "doc_id long, score double, url string")
    if not (must or filter or should or filter_specs):
        return empty
    with open(os.path.join(fielded_dir, FIELDS_MANIFEST)) as f:
        manifest = json.load(f)
    stats_by_field = {
        f: _sub_stats(fielded_dir, f) for f in sorted(manifest["fields"])
    }
    k = _clamp_k(k, max(int(s["n_docs"]) for s in stats_by_field.values()))
    # (kind, index, field, sorted clause terms)
    clauses = (
        [("m", i, f, sorted(set(_analyze_for(stats_by_field[f], q))))
         for i, (f, q) in enumerate(must)]
        + [("s", i, f, sorted(set(_analyze_for(stats_by_field[f], q))))
           for i, (f, q) in enumerate(should)]
        + [("n", i, f, sorted(set(_analyze_for(stats_by_field[f], q))))
           for i, (f, q) in enumerate(must_not)]
        + [("f", i, f, sorted(set(_analyze_for(stats_by_field[f], q))))
           for i, (f, q) in enumerate(filter)]
    )
    terms_by_field: dict[str, list[str]] = {}
    for _, _, f, ts in clauses:
        terms_by_field.setdefault(f, []).extend(ts)
    segs, df_map, rng = _field_scan(spark, fielded_dir, terms_by_field)
    if segs is None or not df_map:
        if filter_specs and not (must or should or filter):
            # termless pure-spec query: DataFrame set algebra over the
            # shared top-level sidecars, like the single-index path
            from job_searchengine_project_spark.index.sharded import (
                dv_filter_docs_sharded,
            )

            cand = dv_filter_docs_sharded(spark, fielded_dir, filter_specs[0])
            for sp in filter_specs[1:]:
                cand = cand.join(
                    dv_filter_docs_sharded(spark, fielded_dir, sp),
                    "doc_id", "left_semi",
                )
            for sp in must_not_specs:
                cand = cand.join(
                    dv_filter_docs_sharded(spark, fielded_dir, sp),
                    "doc_id", "left_anti",
                )
            top0 = (
                cand.withColumn("score", F.lit(0.0))
                .orderBy(F.asc("doc_id"))
                .limit(k)
            )
            first_sub0 = _sub_dir(fielded_dir, sorted(stats_by_field)[0])
            return (
                _attach_urls_pruned(spark, first_sub0, top0)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("doc_id", "score", "url")
            )
        return empty
    bc_df = spark.sparkContext.broadcast(df_map)
    bc_clauses = spark.sparkContext.broadcast(clauses)
    consts = {
        f: {
            "n_eff": int(s["n_docs"]) - int(s.get("n_purged", 0)),
            "avgdl": float(s["avgdl"]),
            "k1": float(s["k1"]),
            "b": float(s["b"]),
            "n_docs": int(s["n_docs"]),
        }
        for f, s in stats_by_field.items()
    }
    sub_dirs = {f: _sub_dir(fielded_dir, f) for f in stats_by_field}
    # tombstones for spec evaluation: every sub-index carries the same
    # delete batch (shared doc ids); read the first's slice
    first_tomb_sub = _sub_dir(fielded_dir, sorted(stats_by_field)[0])
    n_must, n_should, n_not = len(must), len(should), len(must_not)
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
            shard = int(shard_val)
            # decode each (field, term) once; per-field norms/tombstones
            decoded: dict[tuple[str, str], tuple] = {}
            dl_of_field: dict[str, object] = {}
            for field, fgrp in grp.groupby("field", sort=False):
                c = consts[field]
                dl_of_field[field] = _load_shard_norms(
                    os.path.join(sub_dirs[field], NORMS_DIR),
                    shard, rng, c["n_docs"],
                )
                dele = _shard_tombstones(sub_dirs[field], shard, rng)
                for r in fgrp.itertuples():
                    docs, tfs = codec.decode_postings(codec.from_row(r))
                    if dele.size:
                        live = ~np.isin(docs, dele)
                        docs, tfs = docs[live], tfs[live]
                    decoded[(field, str(r.term))] = (docs, tfs)

            def clause_acc(field, terms):
                c = consts[field]
                dl_of = dl_of_field.get(field)
                arrays = {
                    t: decoded[(field, t)]
                    for t in terms
                    if (field, t) in decoded
                }
                if not arrays or dl_of is None:
                    return {}
                uniq, sums = accumulate_arrays(
                    arrays,
                    idf_of=lambda t, f=field: float(np.log1p(
                        (consts[f]["n_eff"] - dfm[(f, t)] + 0.5)
                        / (dfm[(f, t)] + 0.5)
                    )),
                    dl_of=dl_of,
                    avgdl=c["avgdl"],
                    k1=c["k1"],
                    b=c["b"],
                    deleted=np.empty(0, dtype=np.int64),  # already live
                )
                return dict(zip(uniq.tolist(), sums.tolist()))

            def clause_hits(field, terms):
                hits: set[int] = set()
                for t in terms:
                    if (field, t) in decoded:
                        hits.update(decoded[(field, t)][0].tolist())
                return hits

            must_accs = [None] * n_must
            should_accs = [None] * n_should
            not_sets = [None] * n_not
            filter_sets = [None] * (
                len(bc_clauses.value) - n_must - n_should - n_not
            )
            for kind, i, field, ts in bc_clauses.value:
                if kind == "m":
                    must_accs[i] = clause_acc(field, ts)
                elif kind == "s":
                    should_accs[i] = clause_acc(field, ts)
                elif kind == "n":
                    not_sets[i] = clause_hits(field, ts)
                else:
                    filter_sets[i] = clause_hits(field, ts)
            # declarative doc-values specs against this shard's slice
            # of the SHARED top-level sidecars (no driver doc sets)
            spec_dele = _shard_tombstones(first_tomb_sub, shard, rng)
            spec_fsets = [
                _shard_dv_docs(fielded_dir, shard, sp, spec_dele)
                for sp in filter_specs
            ]
            spec_nsets = [
                _shard_dv_docs(fielded_dir, shard, sp, spec_dele)
                for sp in must_not_specs
            ]
            scored = SearchEngine.bool_algebra(
                must_accs, should_accs, not_sets + spec_nsets,
                filter_sets + spec_fsets, msm,
            )[:k]
            if scored:
                docs_out, scores_out = zip(*scored)
                yield pd.DataFrame({"doc_id": docs_out, "score": scores_out})

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    partials = segs.repartition(shuffle_n, "shard").mapInPandas(
        shard_bool, schema="doc_id long, score double"
    )
    top = partials.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    first_sub = _sub_dir(fielded_dir, sorted(stats_by_field)[0])
    return (
        _attach_urls_pruned(spark, first_sub, top)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score", "url")
    )


def match_docs_sharded_multi(
    spark: SparkSession,
    fielded_dir: str,
    query: str,
    fields: list[str] | None = None,
) -> DataFrame:
    """The multi_match hit SET distributed: union of each field's
    match-docs DataFrame (per-field analyzers), distinct — feeds exact
    totals and agg scopes for the fielded distributed endpoint."""
    from job_searchengine_project_spark.index.sharded import match_docs_sharded

    with open(os.path.join(fielded_dir, FIELDS_MANIFEST)) as f:
        manifest = json.load(f)
    fields = sorted(fields if fields is not None else manifest["fields"])
    out: DataFrame | None = None
    for field in fields:
        stats = _sub_stats(fielded_dir, field)
        terms = _analyze_for(stats, query)
        if not terms:
            continue
        df = match_docs_sharded(spark, _sub_dir(fielded_dir, field), terms)
        out = df if out is None else out.unionByName(df)
    if out is None:
        return spark.createDataFrame([], "doc_id long")
    return out.distinct()
