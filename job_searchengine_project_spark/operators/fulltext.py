"""Fulltext operators over the driver's ``documents`` test table.

The tokenizer contract here (split on single spaces, keep tokens with
length > 1) mirrors the engine's morph analyzer on this table's ascii
corpus, and is expressed identically in Spark and the DuckDB oracle —
so the driver's correctness gate checks the *same* semantics the real
engine indexes.

``wand_bm25_top10`` is the flagship: it runs the actual compressed-
segment engine (build -> block-max WAND) and is oracle'd by plain SQL
BM25 — DuckDB independently verifies the whole storage+query stack.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from job_searchengine_project_spark import BM25_B, BM25_K1
from job_searchengine_project_spark.iolayout import local_df, read_spread

QUERY_TERMS = ["spark", "data", "table"]
K = 10

# ---- shared Spark-side token/tf/stat pipeline --------------------------------


def _eq_lit(t: str):
    """Single-arg HOF lambda factory (a 2-arg lambda would be read as
    the (element, index) form by F.filter)."""
    return lambda x: x == F.lit(t)


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.length("term") > 1)


def _bm25_scored(spark, sf_dir: str, terms: list[str]) -> DataFrame:
    # MAP-SIDE BM25 (r6 batch 3): doclen and the query terms' tfs are
    # pure per-doc facts — size()/filter() over the token array — so
    # the old explode -> groupBy(doc_id) doclen shuffle, the
    # explode -> groupBy(doc_id, term) tf shuffle, the df groupBy and
    # the dl join all collapse into ZERO pre-aggregation shuffles:
    # one narrow per-doc projection, one broadcast single-row
    # aggregate for (n, avgdl, df_t...), and the final top-k/sort.
    # Float semantics are IDENTICAL to the exploded form: each term's
    # partial score uses the same expression tree, and the per-doc sum
    # folds the partials in the same sorted-term order over the same
    # +0.0 seed that sort_array(collect_list(...)) produced (query
    # terms are distinct per doc, so term-ascending order is the
    # collect_list sort; docs missing a term contribute no element,
    # exactly like the missing tf row). A repeated query term scores
    # once, as in the grouped form.
    sterms = sorted(set(terms))
    docs = read_spread(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 1)
    per = docs.select(
        "doc_id",
        F.size(toks).alias("doclen"),
        *[
            F.size(F.filter(toks, _eq_lit(t))).alias(f"tf_{i}")
            for i, t in enumerate(sterms)
        ],
    ).filter(F.col("doclen") > 0)
    stats = per.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("doclen").alias("avgdl"),
        *[
            F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
            for i in range(len(sterms))
        ],
    )

    def _part(i: int):
        tf = F.col(f"tf_{i}").cast("long")
        df = F.col(f"df_{i}")
        return F.log1p((F.col("n") - df + 0.5) / (df + 0.5)) * (
            tf
            / (
                tf
                + F.lit(BM25_K1)
                * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("doclen") / F.col("avgdl"))
            )
        )

    ps = F.filter(
        F.array(
            *[
                F.struct(F.col(f"tf_{i}").alias("tf"), _part(i).alias("part"))
                for i in range(len(sterms))
            ]
        ),
        lambda s: s["tf"] > 0,
    )
    return (
        per.crossJoin(F.broadcast(stats))
        .withColumn("ps", ps)
        .filter(F.size("ps") > 0)
        .withColumn("score", F.round(F.aggregate("ps", F.lit(0.0), lambda a, x: a + x["part"]), 4))
        .select("doc_id", "score")
    )


def _bm25_sql(terms: list[str], limit: int | None) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    tail = (
        f"ORDER BY score DESC, doc_id LIMIT {limit}" if limit else "ORDER BY doc_id"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ({terms_sql}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored {tail}
"""


def bm25_scores(spark, sf_dir: str) -> DataFrame:
    """BM25 score for every matched doc (boundary-free oracle form)."""
    return _bm25_scored(spark, sf_dir, QUERY_TERMS).orderBy("doc_id")


def bm25_top10(spark, sf_dir: str) -> DataFrame:
    """BM25 top-10 (desc score, asc doc_id) — pure DataFrame path."""
    return (
        _bm25_scored(spark, sf_dir, QUERY_TERMS)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(K)
    )


def term_df_top20(spark, sf_dir: str) -> DataFrame:
    """Document frequency per term, top 20 (the build's df aggregation).

    r6: per-doc dedup happens MAP-SIDE (explode of array_distinct ==
    distinct over the exploded (doc_id, term) rows — doc_id keys the
    dedup either way), so the corpus-wide distinct shuffle disappears
    and the one remaining exchange carries partially-aggregated
    (term, count) rows instead of every (doc_id, term) pair."""
    docs = read_spread(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 1)
    return (
        docs.select(F.explode(F.array_distinct(toks)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


TERM_DF_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
)
SELECT term, count(*) AS df FROM toks GROUP BY term ORDER BY df DESC, term LIMIT 20
"""

_ENGINE_CACHE: dict[str, object] = {}


def _engine_for(
    spark: SparkSession, sf_dir: str, analyzer: str = "morph",
    positions: bool = False,
):
    """Build (once per sf_dir+analyzer+positions) a real segment index
    over the documents table and return a SearchEngine on it."""
    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.search.engine import SearchEngine

    key = f"{analyzer}{'+pos' if positions else ''}:{os.path.abspath(sf_dir)}"
    if key not in _ENGINE_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = docs.select(
            F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
            F.col("text"),
        )
        out = os.path.join(
            tempfile.gettempdir(),
            f"jse_idx_{analyzer}{'_pos' if positions else ''}_"
            + key.replace(os.sep, "_").replace("+", "_"),
        )
        build_index(
            spark, pages, out, analyzer=analyzer, resume=True,
            with_positions=positions,
        )
        _ENGINE_CACHE[key] = SearchEngine(out)
    return _ENGINE_CACHE[key]


def wand_bm25_top10(spark, sf_dir: str) -> DataFrame:
    """Flagship: compressed-segment block-max WAND top-10, independently
    verified by the DuckDB SQL BM25 oracle."""
    eng = _engine_for(spark, sf_dir)
    # over-fetch, then rank on (rounded score, doc_id) exactly like the
    # SQL oracle does, so rounding ties at the k-boundary can't diverge
    hits = eng.search(QUERY_TERMS, k=20 * K, with_urls=True)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


TWOGRAM_QUERY = "spark"  # analyzed to ['sp','pa','ar','rk'] on both sides


def wand_2gram_top10(spark, sf_dir: str) -> DataFrame:
    """The reference's ES body_text field end-to-end: 2-gram analyzed
    index (schema/es/es.sh:16-29), query string analyzed with the SAME
    analyzer (search_text), block-max segments, BM25 top-10 — with an
    independent plain-SQL 2-gram BM25 oracle in DuckDB."""
    eng = _engine_for(spark, sf_dir, analyzer="2gram")
    hits = eng.search_text(TWOGRAM_QUERY, k=20 * K, with_urls=True)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _twogram_sql(query: str, limit: int) -> str:
    grams = sorted({query.lower()[i : i + 2] for i in range(len(query) - 1)})
    grams_sql = ", ".join(f"'{g}'" for g in grams)
    return f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(lower(text)) - 1),
                i -> substr(lower(text), i::INT, 2))) AS term
  FROM documents WHERE length(text) >= 2
),
dl AS (SELECT doc_id, count(*) AS doclen FROM g GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM g WHERE term IN ({grams_sql}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


def update_compact_top10(spark, sf_dir: str) -> DataFrame:
    """The full index LIFECYCLE under the correctness gate: build over
    the even-doc_id half, update_index with the odd half (frozen-avgdl
    semantics), compact_index (re-encode fragmented terms), then BM25
    top-10. The DuckDB oracle freezes avgdl to the even half and uses
    the post-update corpus size for idf — exactly the engine's
    documented frozen-norms contract (index/update.py docstring)."""
    import shutil

    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.index.compact import compact_index
    from job_searchengine_project_spark.index.update import update_index
    from job_searchengine_project_spark.search.engine import SearchEngine

    key = f"upd:{os.path.abspath(sf_dir)}"
    if key not in _ENGINE_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = docs.select(
            F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
            F.col("text"),
        )
        out = os.path.join(
            tempfile.gettempdir(), "jse_idx_updc_" + key.replace(os.sep, "_")
        )
        done = os.path.join(out, "_UPDC_DONE")
        if not os.path.exists(done):
            shutil.rmtree(out, ignore_errors=True)
            even = pages.filter(F.expr("cast(substr(url, 7) as bigint) % 2 = 0"))
            odd = pages.filter(F.expr("cast(substr(url, 7) as bigint) % 2 = 1"))
            # small block size so the update measurably fragments blocks
            build_index(spark, even, out, block_size=32)
            update_index(spark, odd, out)
            res = compact_index(spark, out)
            assert res["compacted_terms"] > 0  # the pass must do real work
            with open(done, "w") as f:
                f.write("ok")
        _ENGINE_CACHE[key] = SearchEngine(out)
    eng = _ENGINE_CACHE[key]
    hits = eng.search(QUERY_TERMS, k=20 * K, with_urls=True)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _update_compact_sql(terms: list[str], limit: int) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n FROM dl),
frozen AS (SELECT avg(doclen) AS avgdl FROM dl WHERE doc_id % 2 = 0),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ({terms_sql}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / fr.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s CROSS JOIN frozen fr
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


# ---- per-field indexing (ES multi-field mapping parity) ----------------------

TITLE_LEN = 40  # the synthetic "title" field: a 40-char prefix of text
FIELD_QUERY = "spark data table"  # morph-analyzes to QUERY_TERMS


def _fielded_engine_for(spark: SparkSession, sf_dir: str):
    """Fielded index over documents: title (40-char prefix) + body,
    each with its OWN df/avgdl stats (ES per-field BM25)."""
    from job_searchengine_project_spark.index.fielded import (
        FieldedSearchEngine,
        build_fielded_index,
    )

    key = f"fielded:{os.path.abspath(sf_dir)}"
    if key not in _ENGINE_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = docs.select(
            F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
            F.substring(F.col("text"), 1, TITLE_LEN).alias("title"),
            F.col("text").alias("body"),
        )
        out = os.path.join(
            tempfile.gettempdir(), "jse_idx_" + key.replace(os.sep, "_").replace(":", "_")
        )
        if not os.path.exists(os.path.join(out, "fielded.json")):
            build_fielded_index(
                spark, pages, out, fields={"title": "morph", "body": "morph"}
            )
        _ENGINE_CACHE[key] = FieldedSearchEngine(out)
    return _ENGINE_CACHE[key]


def fielded_search_top10(spark, sf_dir: str) -> DataFrame:
    """Field-scoped search (ES `match` on one field): the same query
    against the TITLE field ranks by the title corpus's df/avgdl —
    independently verified by a DuckDB BM25 over the title prefix."""
    feng = _fielded_engine_for(spark, sf_dir)
    hits = feng.search_field(FIELD_QUERY, "title", k=20 * K, with_urls=True)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def multi_field_top10(spark, sf_dir: str) -> DataFrame:
    """ES multi_match type=most_fields across title+body: per-field
    BM25 scores sum per doc; the oracle full-outer-joins two
    independent SQL BM25s."""
    feng = _fielded_engine_for(spark, sf_dir)
    top = feng.search_multi(FIELD_QUERY, k=20 * K)
    url_of = feng.engine("body").url_of
    rows = sorted(
        ((int(url_of(d).split("doc://")[1]), round(s, 4)) for d, s in top),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _field_scored_cte(name: str, text_expr: str, terms: list[str]) -> str:
    """Unrounded full BM25 CTE block over one field's corpus."""
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    return f"""
{name}_toks AS (
  SELECT doc_id, t.tok AS term
  FROM (SELECT doc_id, {text_expr} AS ftext FROM documents),
       unnest(string_split(ftext, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
{name}_dl AS (SELECT doc_id, count(*) AS doclen FROM {name}_toks GROUP BY doc_id),
{name}_stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM {name}_dl),
{name}_tf AS (
  SELECT doc_id, term, count(*) AS tf FROM {name}_toks
  WHERE term IN ({terms_sql}) GROUP BY doc_id, term
),
{name}_dft AS (SELECT term, count(*) AS df FROM {name}_tf GROUP BY term),
{name}_scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))) AS score
  FROM {name}_tf tf JOIN {name}_dft dft USING (term)
  JOIN {name}_dl dl USING (doc_id) CROSS JOIN {name}_stats s
  GROUP BY tf.doc_id
)"""


def _fielded_sql(terms: list[str], limit: int) -> str:
    return f"""
WITH {_field_scored_cte("t", f"substr(text, 1, {TITLE_LEN})", terms).lstrip()}
SELECT doc_id, round(score, 4) AS score FROM t_scored
ORDER BY score DESC, doc_id LIMIT {limit}
"""


def _multi_field_sql(terms: list[str], limit: int) -> str:
    return f"""
WITH {_field_scored_cte("t", f"substr(text, 1, {TITLE_LEN})", terms).lstrip()},
{_field_scored_cte("b", "text", terms).lstrip()}
SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
       round(coalesce(t.score, 0) + coalesce(b.score, 0), 4) AS score
FROM t_scored t FULL OUTER JOIN b_scored b ON t.doc_id = b.doc_id
ORDER BY score DESC, doc_id LIMIT {limit}
"""


MULTI_TIE_BREAKER = 0.3


def multi_field_best_top10(spark, sf_dir: str) -> DataFrame:
    """ES multi_match type=best_fields (the DEFAULT ES combiner) across
    title+body: dis_max — the best single field's score plus
    tie_breaker x the other matching field's (index/fielded.py
    search_multi). Oracle: CASE over the two field-BM25 CTEs with the
    engine's first-max tie rule (sorted-field order: body before
    title)."""
    feng = _fielded_engine_for(spark, sf_dir)
    top = feng.search_multi(
        FIELD_QUERY, k=20 * K, type="best_fields", tie_breaker=MULTI_TIE_BREAKER
    )
    url_of = feng.engine("body").url_of
    rows = sorted(
        ((int(url_of(d).split("doc://")[1]), round(s, 4)) for d, s in top),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _multi_field_best_sql(terms: list[str], limit: int) -> str:
    tb = MULTI_TIE_BREAKER
    return f"""
WITH {_field_scored_cte("t", f"substr(text, 1, {TITLE_LEN})", terms).lstrip()},
{_field_scored_cte("b", "text", terms).lstrip()}
SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
       round(CASE
         WHEN b.score IS NOT NULL AND (t.score IS NULL OR b.score >= t.score)
           THEN b.score + CASE WHEN t.score IS NOT NULL THEN {tb} * t.score ELSE 0 END
         ELSE t.score + CASE WHEN b.score IS NOT NULL THEN {tb} * b.score ELSE 0 END
       END, 4) AS score
FROM t_scored t FULL OUTER JOIN b_scored b ON t.doc_id = b.doc_id
ORDER BY score DESC, doc_id LIMIT {limit}
"""


# ---- distributed fielded search (sharded per-field sub-indexes) --------------


def _sharded_fielded_for(spark: SparkSession, sf_dir: str) -> str:
    """Doc-range-sharded layout over EVERY field sub-index of the
    cached fielded index (shared doc ids -> shared shard ranges);
    rebuilt when any sub-layout's fingerprint is stale."""
    from job_searchengine_project_spark.index.sharded_fielded import (
        build_sharded_fielded,
        fielded_shards_fresh,
    )

    feng = _fielded_engine_for(spark, sf_dir)
    if not fielded_shards_fresh(feng.index_dir):
        build_sharded_fielded(spark, feng.index_dir, n_shards=8)
    return feng.index_dir


def _rows_from_sharded(spark, df) -> DataFrame:
    rows = sorted(
        (
            (int(r["url"].split("doc://")[1]), round(float(r["score"]), 4))
            for r in df.collect()
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def multi_field_sharded_top10(spark, sf_dir: str) -> DataFrame:
    """VERDICT r4 #1: ES multi_match most_fields DISTRIBUTED — per
    field sub-index sharded by the SHARED doc ranges, per-field BM25
    accumulated and summed per doc INSIDE each shard (the ES
    per-shard multi_match shape), associative global top-k. Same
    DuckDB two-field full-outer-join oracle as multi_field_top10."""
    from job_searchengine_project_spark.index.sharded_fielded import (
        search_sharded_multi,
    )

    idx = _sharded_fielded_for(spark, sf_dir)
    return _rows_from_sharded(
        spark, search_sharded_multi(spark, idx, FIELD_QUERY, k=20 * K)
    )


def best_fields_sharded_top10(spark, sf_dir: str) -> DataFrame:
    """Distributed ES multi_match best_fields (dis_max + tie_breaker,
    the ES default combiner): first-max field counts once, other
    matching fields x tie_breaker in sorted-field order — identical
    combiner to the driver engine, shard-local. Same oracle as
    multi_field_best_top10 — requested through the distributed DSL
    endpoint (query_sharded), so the fielded multi_match wiring sits
    under the hash gate too."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_fielded_for(spark, sf_dir)
    resp = query_sharded(
        spark, idx,
        {
            "query": {
                "multi_match": {
                    "query": FIELD_QUERY,
                    "type": "best_fields",
                    "tie_breaker": MULTI_TIE_BREAKER,
                }
            },
            "size": 20 * K,
        },
        max_result_window=20 * K,
    )
    rows = sorted(
        (
            (int(h["_id"].split("doc://")[1]), round(h["_score"], 4))
            for h in resp["hits"]["hits"]
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def bool_fielded_sharded_top10(spark, sf_dir: str) -> DataFrame:
    """Distributed ES bool with per-clause FIELD targeting: clauses
    analyze/score against their field's sharded sub-index inside each
    shard, the shared clause algebra combines shard-locally. Same
    oracle as the driver bool_fielded_top10."""
    from job_searchengine_project_spark.index.sharded_fielded import (
        search_sharded_bool_fielded,
    )

    idx = _sharded_fielded_for(spark, sf_dir)
    return _rows_from_sharded(
        spark,
        search_sharded_bool_fielded(
            spark, idx,
            must=[("title", "spark"), ("body", "data")],
            should=[("body", "table")],
            must_not=[("body", "dup")],
            k=10**9,
        ),
    )


# ---- upsert/delete lifecycle (ES `_id` overwrite parity) ---------------------

REPLACE_MOD = 10   # doc_id % 10 == 0 -> re-crawled with boosted text
DELETE_MOD = (17, 3)  # doc_id % 17 == 3 -> deleted outright
REPLACE_SUFFIX = " spark spark spark"


def _upsert_engine_for(spark: SparkSession, sf_dir: str, purge: bool):
    """Build -> update(replace=True) -> delete_docs [-> purging
    compaction], cached per sf_dir. Docs with doc_id %10==0 AND %17==3
    are replaced THEN deleted — the adversarial overlap both oracles
    must exclude."""
    import shutil

    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.index.compact import compact_index
    from job_searchengine_project_spark.index.tombstone import delete_docs
    from job_searchengine_project_spark.index.update import update_index
    from job_searchengine_project_spark.search.engine import SearchEngine

    key = f"ups{'_purge' if purge else ''}:{os.path.abspath(sf_dir)}"
    if key not in _ENGINE_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = docs.select(
            F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
            F.col("text"),
        )
        out = os.path.join(
            tempfile.gettempdir(), "jse_idx_" + key.replace(os.sep, "_").replace(":", "_")
        )
        done = os.path.join(out, "_UPSERT_DONE")
        if not os.path.exists(done):
            shutil.rmtree(out, ignore_errors=True)
            build_index(spark, pages, out, block_size=32)
            repl = docs.filter(F.col("doc_id") % REPLACE_MOD == 0).select(
                F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
                F.concat(F.col("text"), F.lit(REPLACE_SUFFIX)).alias("text"),
            )
            update_index(spark, repl, out, replace=True)
            del_ids = [
                int(r["doc_id"])
                for r in docs.filter(
                    F.col("doc_id") % DELETE_MOD[0] == DELETE_MOD[1]
                ).select("doc_id").collect()
            ]
            delete_docs(spark, out, [f"doc://{i:08d}" for i in del_ids])
            if purge:
                res = compact_index(spark, out)
                assert res["purged_docs"] > 0  # the purge must do real work
            with open(done, "w") as f:
                f.write("ok")
        _ENGINE_CACHE[key] = SearchEngine(out)
    return _ENGINE_CACHE[key]


def upsert_delete_top10(spark, sf_dir: str) -> DataFrame:
    """ES `_id` overwrite + DELETE, PRE-purge: tombstoned versions are
    never returned but still count in df and N (Lucene docs.deleted
    semantics — index/tombstone.py contract). The DuckDB oracle builds
    the version union (originals + replacements), computes df/N over
    ALL versions, freezes avgdl to the original corpus, and scores only
    live versions."""
    eng = _upsert_engine_for(spark, sf_dir, purge=False)
    hits = eng.search(QUERY_TERMS, k=20 * K, with_urls=True)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def upsert_purge_top10(spark, sf_dir: str) -> DataFrame:
    """Same lifecycle AFTER the purging compaction: tombstoned postings
    / forward / docstore rows physically dropped, df and N are
    live-only, avgdl stays frozen to the original build."""
    eng = _upsert_engine_for(spark, sf_dir, purge=True)
    hits = eng.search(QUERY_TERMS, k=20 * K, with_urls=True)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _upsert_sql(terms: list[str], limit: int, purge: bool) -> str:
    """Version-union BM25: ``vers_n`` holds every physically indexed
    version (pre-purge: originals + replacements, tombstoned included
    — Lucene docs.deleted count in df/N; post-purge: live versions
    only). Scoring always uses each live doc's NEWEST version (max v),
    and avgdl stays frozen to the original full corpus — the build's
    recorded stats."""
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    rm, dm, dr = REPLACE_MOD, DELETE_MOD[0], DELETE_MOD[1]
    return f"""
WITH vers_n AS (
  SELECT doc_id, text, 0 AS v FROM documents
  {"WHERE doc_id % " + str(dm) + " != " + str(dr) + " AND doc_id % " + str(rm) + " != 0" if purge else ""}
  UNION ALL
  SELECT doc_id, text || '{REPLACE_SUFFIX}', 1 AS v FROM documents
  WHERE doc_id % {rm} = 0 {"AND doc_id % " + str(dm) + " != " + str(dr) if purge else ""}
),
toks AS (
  SELECT doc_id, v, t.tok AS term
  FROM vers_n, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, v, count(*) AS doclen FROM toks GROUP BY doc_id, v),
nstat AS (SELECT count(*)::DOUBLE AS n FROM vers_n),
frozen AS (
  SELECT avg(cnt) AS avgdl FROM (
    SELECT count(*) AS cnt
    FROM documents, unnest(string_split(text, ' ')) AS t(tok)
    WHERE length(t.tok) > 1
    GROUP BY doc_id
  )
),
tf AS (
  SELECT doc_id, v, term, count(*) AS tf FROM toks
  WHERE term IN ({terms_sql}) GROUP BY doc_id, v, term
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
live AS (
  SELECT doc_id, max(v) AS v FROM vers_n
  WHERE doc_id % {dm} != {dr}
  GROUP BY doc_id
),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / fr.avgdl)))), 4) AS score
  FROM tf
  JOIN dft USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id AND dl.v = tf.v
  JOIN live ON live.doc_id = tf.doc_id AND live.v = tf.v
  CROSS JOIN nstat s CROSS JOIN frozen fr
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


PHRASE_QUERY = "spark data"  # adjacent words: ~290 docs have both words,
# only the phrase docs have them adjacent — positions are load-bearing


def phrase_2gram_top10(spark, sf_dir: str) -> DataFrame:
    """ES match_phrase end-to-end over the positional 2-gram index:
    consecutive 2-gram positions == contiguous substring, so the DuckDB
    oracle filters by substring containment and scores the same
    distinct-gram BM25 sum. Docs with both words NON-adjacent are the
    adversarial mass the positional check must reject."""
    eng = _engine_for(spark, sf_dir, analyzer="2gram", positions=True)
    hits = eng.search_phrase(PHRASE_QUERY, k=10**9)  # all matches, then oracle-rank
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _phrase_2gram_sql(phrase: str, limit: int) -> str:
    grams = sorted({phrase.lower()[i : i + 2] for i in range(len(phrase) - 1)})
    grams_sql = ", ".join(f"'{g}'" for g in grams)
    return f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(lower(text)) - 1),
                i -> substr(lower(text), i::INT, 2))) AS term
  FROM documents WHERE length(text) >= 2
),
dl AS (SELECT doc_id, count(*) AS doclen FROM g GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM g WHERE term IN ({{grams_sql}}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
matches AS (SELECT doc_id FROM documents WHERE contains(lower(text), '{{phrase}}')),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {{k1}} * (1 - {{b}} + {{b}} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  WHERE tf.doc_id IN (SELECT doc_id FROM matches)
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {{limit}}
""".format(grams_sql=grams_sql, phrase=phrase.lower(), k1=BM25_K1, b=BM25_B, limit=limit)


# ---- ES highlight + GET _doc -------------------------------------------------

HL_QUERY = "spark data"


def highlight_top10(spark, sf_dir: str) -> DataFrame:
    """ES highlight (number_of_fragments=0 whole-field contract):
    every analyzer token equal to a query term wraps in <em> tags,
    token-boundary exact — the DuckDB twin is one \\b-bounded
    regexp_replace over the same top-k join."""
    eng = _engine_for(spark, sf_dir)
    resp = eng.query(
        {
            "query": {"match": {"body": HL_QUERY}},
            "highlight": {"fields": {"body": {}}},
            "size": 20 * K,
        }
    )
    rows = sorted(
        (
            (
                int(h["_id"].split("doc://")[1]),
                round(h["_score"], 4),
                h["highlight"]["body"][0],
            )
            for h in resp["hits"]["hits"]
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double, hl string")


def _highlight_sql(limit: int) -> str:
    """ADVICE r4 alignment: the twin highlights per SPACE TOKEN (a
    CASE over the split list), matching the engine analyzer's token
    boundaries on this corpus class — in particular a slash-joined
    word ('spark/sql') is ONE token on both sides and never partially
    highlighted, where the old \\b-bounded regexp would have wrapped
    the 'spark' inside it. The residual divergence is
    punctuation-attached tokens ('spark,'), which the analyzer splits
    and the space twin does not — absent from the single-space
    fixture contract and pinned engine-side in
    tests/test_tombstone.py::test_highlight_tokens_exact."""
    terms = sorted(set(HL_QUERY.split()))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ({in_list})
       GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT s.doc_id, s.score,
       array_to_string(list_transform(string_split(d.text, ' '),
         x -> CASE WHEN lower(x) IN ({in_list})
                   THEN '<em>' || x || '</em>' ELSE x END), ' ') AS hl
FROM scored s JOIN documents d USING (doc_id)
ORDER BY s.score DESC, s.doc_id LIMIT {limit}
"""


HL_FRAG_SIZE = 10  # tokens per window (token-window fragmenter)
HL_FRAG_N = 2


def highlight_fragments(spark, sf_dir: str) -> DataFrame:
    """VERDICT r4 #7: fragment highlighting through the DISTRIBUTED
    endpoint — token-window fragmenter (windows of HL_FRAG_SIZE space
    tokens; windows containing a match kept in document order, first
    HL_FRAG_N), stored fields fetched by bucket-pruned point reads for
    the page only. One row per (top-K doc, fragment)."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_index_for(spark, sf_dir)
    # over-fetch 20*K (like highlight_top10) — enough to absorb
    # rounded-score boundary ties; highlighting is per-page work, so
    # requesting the full match set would pay stored reads for every
    # hit (ES highlights the PAGE, never the whole hit set)
    resp = query_sharded(
        spark, idx,
        {
            "query": {"match": {"body": HL_QUERY}},
            "highlight": {
                "fields": {
                    "body": {
                        "number_of_fragments": HL_FRAG_N,
                        "fragment_size": HL_FRAG_SIZE,
                    }
                }
            },
            "size": 20 * K,
        },
    )
    docs = sorted(
        (
            (int(h["_id"].split("doc://")[1]), round(h["_score"], 4),
             h["highlight"]["body"])
            for h in resp["hits"]["hits"]
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    rows = [
        (d, s, fi + 1, frag)
        for d, s, frags in docs
        for fi, frag in enumerate(frags)
    ]
    return local_df(spark, 
        rows, "doc_id bigint, score double, fi bigint, frag string"
    )


def _highlight_fragments_sql(limit: int) -> str:
    terms = sorted(set(HL_QUERY.split()))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ({in_list}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
top AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}),
tok2 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS p
  FROM documents WHERE doc_id IN (SELECT doc_id FROM top)
),
win AS (SELECT doc_id, CAST(floor((p - 1) / {HL_FRAG_SIZE}) AS INT) AS w, p, tok FROM tok2),
kept AS (SELECT doc_id, w FROM win GROUP BY doc_id, w
         HAVING bool_or(lower(tok) IN ({in_list}))),
frag AS (
  SELECT win.doc_id, win.w,
         string_agg(CASE WHEN lower(win.tok) IN ({in_list})
                    THEN '<em>' || win.tok || '</em>' ELSE win.tok END,
                    ' ' ORDER BY win.p) AS frag
  FROM win JOIN kept USING (doc_id, w) GROUP BY win.doc_id, win.w
),
ranked AS (
  SELECT doc_id, w, frag,
         row_number() OVER (PARTITION BY doc_id ORDER BY w) AS fi
  FROM frag
)
SELECT t.doc_id, t.score, r.fi::BIGINT AS fi, r.frag
FROM top t JOIN ranked r USING (doc_id)
WHERE r.fi <= {HL_FRAG_N}
ORDER BY t.score DESC, t.doc_id, r.fi
"""


GET_DOC_ID = 7


def get_doc(spark, sf_dir: str) -> DataFrame:
    """ES GET /_doc/<id> parity: one url-bucket point read of the
    docstore returns the stored _source; oracle is the raw table row."""
    eng = _engine_for(spark, sf_dir)
    r = eng.get(f"doc://{GET_DOC_ID:08d}")
    assert r["found"]
    return local_df(spark, 
        [(GET_DOC_ID, r["_source"]["body"])], "doc_id bigint, text string"
    )


GET_DOC_SQL = f"SELECT doc_id, text FROM documents WHERE doc_id = {GET_DOC_ID}"


# ---- ES prefix / wildcard (constant-score multi-term queries) ----------------

PREFIX_QUERY = "spa"
WILDCARD_QUERY = "d*ta"  # fnmatch form; SQL twin LIKE 'd%ta'


def _termdict_index_for(spark, sf_dir: str):
    from job_searchengine_project_spark.index.termdict import (
        build_term_dictionary,
        termdict_fresh,
    )

    eng = _engine_for(spark, sf_dir)
    if not termdict_fresh(eng.index_dir):
        build_term_dictionary(spark, eng.index_dir)
    return eng


def prefix_top10(spark, sf_dir: str) -> DataFrame:
    """ES `prefix` query: constant_score 1.0 per matching doc (the ES
    multi-term rewrite), term expansion via the persisted sorted
    dictionary (range-pruned read). Oracle: DISTINCT docs whose tokens
    LIKE 'spa%'."""
    eng = _termdict_index_for(spark, sf_dir)
    hits = eng.search_prefix(PREFIX_QUERY, k=10**7, with_urls=True)
    ids = sorted(int(h.url.split("doc://")[1]) for h in hits)[:K]
    return local_df(spark, 
        [(i, 1.0) for i in ids], "doc_id bigint, score double"
    )


PREFIX_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
)
SELECT DISTINCT doc_id, 1.0::DOUBLE AS score FROM toks
WHERE term LIKE '{PREFIX_QUERY}%'
ORDER BY doc_id LIMIT {K}
"""


def wildcard_match_count(spark, sf_dir: str) -> DataFrame:
    """ES `wildcard` + `_count`: pattern expands through the sorted
    dictionary (literal-prefix pruned, fnmatch verified), the hit set
    counts DISTRIBUTED via match_docs_sharded — dictionary artifact on
    the driver, postings work on the executors."""
    from job_searchengine_project_spark.index.sharded import match_docs_sharded
    from job_searchengine_project_spark.index.termdict import wildcard_terms

    eng = _termdict_index_for(spark, sf_dir)
    terms = wildcard_terms(eng.index_dir, WILDCARD_QUERY)
    idx = _sharded_index_for(spark, sf_dir)
    n = match_docs_sharded(spark, idx, terms).count()
    return local_df(spark, [(n,)], "count bigint")


WILDCARD_COUNT_SQL = """
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
)
SELECT count(DISTINCT doc_id)::BIGINT AS count FROM toks
WHERE term LIKE 'd%ta'
"""


# ---- ES match_phrase_prefix + _analyze ---------------------------------------

PP_QUERY = "spark da"  # 'spark' then any token starting 'da', adjacent


def phrase_prefix_top10(spark, sf_dir: str) -> DataFrame:
    """ES match_phrase_prefix (search-as-you-type): the last token is
    a prefix expanded through the persisted sorted dictionary, the
    fixed terms position-verify in sequence with any expansion at the
    final slot. Constant_score family contract (1.0, asc doc_id) —
    same as prefix/wildcard. The DuckDB twin joins analyzed token
    positions with a LIKE on the successor token."""
    from job_searchengine_project_spark.index.termdict import (
        build_term_dictionary,
        prefix_terms,
        termdict_fresh,
    )

    eng = _engine_for(spark, sf_dir, analyzer="morph", positions=True)
    if not termdict_fresh(eng.index_dir):
        build_term_dictionary(spark, eng.index_dir)
    # the ES max_expansions=50 cap must be inert for the oracle to
    # skip cap arithmetic — this corpus keeps 'da*' well under it
    assert len(prefix_terms(eng.index_dir, PP_QUERY.split()[-1])) < 50
    hits = eng.search_phrase_prefix(PP_QUERY, k=10**7)
    eng._fetch_urls([h.doc_id for h in hits])
    ids = sorted(int(eng.url_of(h.doc_id).split("doc://")[1]) for h in hits)[:K]
    return local_df(spark, 
        [(i, 1.0) for i in ids], "doc_id bigint, score double"
    )


def _phrase_prefix_sql(limit: int) -> str:
    t0, pre = PP_QUERY.split()
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 1) AS lst
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(lst) AS tok, generate_subscripts(lst, 1) AS p
  FROM base
),
m AS (
  SELECT DISTINCT a.doc_id
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.tok = '{t0}' AND b.tok LIKE '{pre}%'
)
SELECT doc_id, 1.0::DOUBLE AS score FROM m ORDER BY doc_id LIMIT {limit}
"""


def analyze_tokens(spark, sf_dir: str) -> DataFrame:
    """ES _analyze endpoint parity, distributed: the analyzer's exact
    (token, position) emission per doc — positions index the FILTERED
    token sequence, i.e. what the positional index stores (the engine
    API twin is SearchEngine.analyze, pinned in tests)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 20
    )
    arr = F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 1)
    return (
        docs.select("doc_id", F.posexplode(arr).alias("position", "token"))
        .withColumn("position", F.col("position").cast("long"))
        .orderBy("doc_id", "position")
    )


ANALYZE_TOKENS_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS lst FROM documents WHERE doc_id < 20
),
raw AS (
  SELECT doc_id, unnest(lst) AS token, generate_subscripts(lst, 1) AS p
  FROM base
),
toks AS (
  SELECT doc_id, token,
         row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS position
  FROM raw WHERE length(token) > 1
)
SELECT doc_id, position::BIGINT AS position, token
FROM toks ORDER BY doc_id, position
"""


# ---- ES match_phrase slop + search_after cursor pagination -------------------

PHRASE_SLOP_QUERY = "spark data"
PHRASE_SLOP = 2  # terms in order within a window of len + 2


def phrase_slop_top10(spark, sf_dir: str) -> DataFrame:
    """ES match_phrase with slop over a MORPH positional index:
    'spark' then 'data' in order within <= slop intervening tokens
    (ordered-window contract, search/engine.py search_phrase — exact
    adjacency at slop=0, oracle-expressible superset of it here).
    Ranked by the distinct-term BM25 sum like every phrase query."""
    eng = _engine_for(spark, sf_dir, analyzer="morph", positions=True)
    hits = eng.search_phrase(PHRASE_SLOP_QUERY, k=10**9, slop=PHRASE_SLOP)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _phrase_slop_sql(limit: int) -> str:
    t0, t1 = PHRASE_SLOP_QUERY.split()
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 1) AS lst
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(lst) AS term, generate_subscripts(lst, 1) AS p
  FROM base
),
m AS (
  SELECT DISTINCT a.doc_id
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
  WHERE a.term = '{t0}' AND b.term = '{t1}'
    AND b.p > a.p AND b.p - a.p <= 1 + {PHRASE_SLOP}
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('{t0}', '{t1}') GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  WHERE tf.doc_id IN (SELECT doc_id FROM m)
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


def search_after_top10(spark, sf_dir: str) -> DataFrame:
    """ES search_after cursor pagination: page 2 is reachable ONLY
    through page 1's last (score, doc_id) sort key — the scale-safe
    deep-pagination form (O(candidates) per page, no from+size depth
    term; ES caps from+size at 10k for exactly this reason). Emits
    pages 1+2 concatenated so the oracle is the plain top-2K — page 2
    rows prove the cursor tiles exactly."""
    eng = _engine_for(spark, sf_dir)
    p1 = eng.search(QUERY_TERMS, k=K, strategy="exhaustive", with_urls=False)
    cursor = (p1[-1].score, p1[-1].doc_id)
    p2 = eng.search(QUERY_TERMS, k=K, search_after=cursor, with_urls=False)
    hits = p1 + p2
    assert len({h.doc_id for h in hits}) == len(hits), "cursor pages overlap"
    eng._fetch_urls([h.doc_id for h in hits])
    rows = sorted(
        (
            (int(eng.url_of(h.doc_id).split("doc://")[1]), round(h.score, 4))
            for h in hits
        ),
        key=lambda r: (-r[1], r[0]),
    )
    return local_df(spark, rows, "doc_id bigint, score double")


# ---- doc-values range/term filters -------------------------------------------

DV_RANGE = (150, 450)  # n_chars in [gte, lt)
DV_LANG = "en"


DH_EPOCH_MS = 1735689600000  # 2025-01-01T00:00:00Z
DH_DAY_MS = 86400000
DH_HOUR_MS = 3600000


def _dv_ts_col():
    """Deterministic synthetic crawl timestamp per doc (the documents
    table carries none): 2025-01-01 + (doc_id % 90) days +
    (doc_id % 7) hours — identical arithmetic in the DuckDB oracle."""
    ms = (
        F.lit(DH_EPOCH_MS)
        + (F.col("doc_id") % 90) * F.lit(DH_DAY_MS)
        + (F.col("doc_id") % 7) * F.lit(DH_HOUR_MS)
    )
    return F.timestamp_millis(ms.cast("long")).alias("ts")


def _dv_engine_for(spark: SparkSession, sf_dir: str):
    """Morph index over documents WITH doc-values sidecars for
    n_chars (numeric range filters), lang (term filters) and a
    derived crawl timestamp ts (date_histogram)."""
    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.search.engine import SearchEngine

    key = f"dv2:{os.path.abspath(sf_dir)}"
    if key not in _ENGINE_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = docs.select(
            F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
            F.col("text"), F.col("n_chars"), F.col("lang"), _dv_ts_col(),
        )
        out = os.path.join(
            tempfile.gettempdir(), "jse_idx_" + key.replace(os.sep, "_").replace(":", "_")
        )
        build_index(
            spark, pages, out, resume=True,
            doc_values=["n_chars", "lang", "ts"],
        )
        _ENGINE_CACHE[key] = SearchEngine(out)
    return _ENGINE_CACHE[key]


def range_filter_top10(spark, sf_dir: str) -> DataFrame:
    """ES range + term filters over doc-values sidecars, inside a bool
    request body: must clauses score, the n_chars range and lang term
    gate without scoring (filter context). The oracle re-derives the
    gate from the raw columns."""
    eng = _dv_engine_for(spark, sf_dir)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"body": t}} for t in BOOL_MUST],
                "filter": [
                    {"range": {"n_chars": {"gte": DV_RANGE[0], "lt": DV_RANGE[1]}}},
                    {"term": {"lang": DV_LANG}},
                ],
            }
        },
        "size": 10**7,
        # only ids/scores are consumed: _source off skips the
        # full-hit-set docstore read (ES request parity)
        "_source": False,
    }
    resp = eng.query(body)
    rows = sorted(
        (
            (int(h["_id"].split("doc://")[1]), round(h["_score"], 4))
            for h in resp["hits"]["hits"]
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _range_filter_sql(limit: int) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in BOOL_MUST)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ({terms_sql}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
part AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl))) AS p
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
m0 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_MUST[0]}'),
m1 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_MUST[1]}'),
fset AS (
  SELECT doc_id FROM documents
  WHERE n_chars >= {DV_RANGE[0]} AND n_chars < {DV_RANGE[1]} AND lang = '{DV_LANG}'
),
scored AS (
  SELECT m0.doc_id, round(m0.p + m1.p, 4) AS score
  FROM m0 JOIN m1 USING (doc_id) JOIN fset USING (doc_id)
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


def sort_by_field_top10(spark, sf_dir: str) -> DataFrame:
    """ES field sort (doc-values sort): docs matching 'spark' ranked
    by n_chars DESC (tie asc doc_id, pinned) — relevance replaced by a
    field ordering, the other half of ES's ranking surface."""
    eng = _dv_engine_for(spark, sf_dir)
    resp = eng.query(
        {
            "query": {"match": {"body": "spark"}},
            "sort": [{"n_chars": {"order": "desc"}}],
            "size": 10**7,  # all matches: the engine tie-breaks on its
            # INTERNAL doc ids; re-rank on the table ids like the oracle
            "_source": False,  # only ids + sort values are consumed
        }
    )
    rows = sorted(
        (
            (int(h["_id"].split("doc://")[1]), int(h["sort"][0]))
            for h in resp["hits"]["hits"]
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, n_chars bigint")


SORT_BY_FIELD_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
hit AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
SELECT d.doc_id, d.n_chars
FROM documents d JOIN hit USING (doc_id)
ORDER BY d.n_chars DESC, d.doc_id LIMIT {K}
"""


def match_count(spark, sf_dir: str) -> DataFrame:
    """ES _count endpoint: exact live-doc count of a bool query with a
    range filter — no hits fetched."""
    eng = _dv_engine_for(spark, sf_dir)
    n = eng.count(
        {
            "query": {
                "bool": {
                    "must": [{"match": {"body": "spark"}}],
                    "filter": [{"range": {"n_chars": {"gte": DV_RANGE[0]}}}],
                }
            }
        }
    )["count"]
    return local_df(spark, [(n,)], "count bigint")


MATCH_COUNT_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
)
SELECT count(DISTINCT d.doc_id)::BIGINT AS count
FROM documents d JOIN toks USING (doc_id)
WHERE toks.term = 'spark' AND d.n_chars >= {DV_RANGE[0]}
"""


def terms_agg(spark, sf_dir: str) -> DataFrame:
    """ES `terms` aggregation inside a query context (the Kibana
    dashboard shape): per-lang live-doc counts over the docs matching
    'spark', desc count then asc key — oracle'd by a plain GROUP BY."""
    eng = _dv_engine_for(spark, sf_dir)
    resp = eng.query(
        {
            "query": {"match": {"body": "spark"}},
            "size": 0,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 10}}},
        }
    )
    rows = [
        (b["key"], int(b["doc_count"]))
        for b in resp["aggregations"]["langs"]["buckets"]
    ]
    return local_df(spark, rows, "key string, doc_count bigint")


TERMS_AGG_SQL = """
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
hit AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
SELECT d.lang AS key, count(*)::BIGINT AS doc_count
FROM documents d JOIN hit USING (doc_id)
GROUP BY d.lang ORDER BY doc_count DESC, key LIMIT 10
"""


def histogram_agg(spark, sf_dir: str) -> DataFrame:
    """ES `histogram` aggregation under a term filter: n_chars in
    interval-100 buckets over lang='en' docs (empty buckets omitted,
    ES min_doc_count=1 shape)."""
    eng = _dv_engine_for(spark, sf_dir)
    resp = eng.query(
        {
            "query": {"bool": {"filter": [{"term": {"lang": DV_LANG}}]}},
            "size": 0,
            "aggs": {"h": {"histogram": {"field": "n_chars", "interval": 100}}},
        }
    )
    rows = [
        (float(b["key"]), int(b["doc_count"]))
        for b in resp["aggregations"]["h"]["buckets"]
    ]
    return local_df(spark, rows, "key double, doc_count bigint")


HISTOGRAM_AGG_SQL = f"""
SELECT (floor(n_chars / 100) * 100)::DOUBLE AS key, count(*)::BIGINT AS doc_count
FROM documents WHERE lang = '{DV_LANG}'
GROUP BY key ORDER BY key
"""


_METRIC_BODY = {
    "query": {"match": {"b": "spark"}},
    "size": 0,
    "aggs": {
        k: {k: {"field": "n_chars"}}
        for k in ("value_count", "min", "max", "sum", "avg", "cardinality")
    },
}


def _metric_rows(spark, resp) -> DataFrame:
    a = resp["aggregations"]
    row = (
        int(a["value_count"]["value"]),
        int(a["min"]["value"]),
        int(a["max"]["value"]),
        int(a["sum"]["value"]),
        round(float(a["avg"]["value"]), 4),
        int(a["cardinality"]["value"]),
    )
    return local_df(spark, 
        [row], "cnt bigint, mn bigint, mx bigint, sm bigint, av double, cd bigint"
    )


def metric_aggs(spark, sf_dir: str) -> DataFrame:
    """ES metric aggregations (value_count/min/max/sum/avg) over a
    doc-values column inside a query context — the Kibana stats-panel
    shape. Integer sums are exact; avg = exact sum / count in float64
    on both sides."""
    eng = _dv_engine_for(spark, sf_dir)
    return _metric_rows(spark, eng.query(_METRIC_BODY))


def metric_aggs_sharded(spark, sf_dir: str) -> DataFrame:
    """The same metric aggs answered by the DISTRIBUTED endpoint: one
    Spark agg per metric over the sidecar table (partial + merge),
    scoped by the distributed hit set. Same oracle as metric_aggs."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_dv_index_for(spark, sf_dir)
    return _metric_rows(spark, query_sharded(spark, idx, _METRIC_BODY))


METRIC_AGGS_SQL = """
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
hit AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
SELECT count(*)::BIGINT AS cnt,
       min(d.n_chars)::BIGINT AS mn,
       max(d.n_chars)::BIGINT AS mx,
       sum(d.n_chars)::BIGINT AS sm,
       round(avg(d.n_chars), 4)::DOUBLE AS av,
       count(DISTINCT d.n_chars)::BIGINT AS cd
FROM documents d JOIN hit USING (doc_id)
"""


# ---- terms sub-aggregations + percentiles ------------------------------------

_SUBAGG_BODY = {
    "query": {"match": {"b": "spark"}},
    "size": 0,
    "aggs": {
        "langs": {
            "terms": {"field": "lang", "size": 10},
            "aggs": {
                "avg_chars": {"avg": {"field": "n_chars"}},
                "max_chars": {"max": {"field": "n_chars"}},
                "distinct_chars": {"cardinality": {"field": "n_chars"}},
            },
        }
    },
}


def _subagg_rows(spark, resp) -> DataFrame:
    rows = [
        (
            b["key"],
            int(b["doc_count"]),
            round(float(b["avg_chars"]["value"]), 4),
            int(b["max_chars"]["value"]),
            int(b["distinct_chars"]["value"]),
        )
        for b in resp["aggregations"]["langs"]["buckets"]
    ]
    return local_df(spark, 
        rows,
        "key string, doc_count bigint, avg_chars double, "
        "max_chars bigint, distinct_chars bigint",
    )


def terms_subagg(spark, sf_dir: str) -> DataFrame:
    """VERDICT r4 #3: ES `terms` buckets with nested metric sub-aggs
    (the Kibana per-bucket-stats shape): per-lang doc counts PLUS
    avg/max/exact-distinct of n_chars inside each bucket, scoped to
    the docs matching 'spark'. Driver engine path; oracle one GROUP
    BY with the same agg list."""
    eng = _dv_engine_for(spark, sf_dir)
    return _subagg_rows(spark, eng.query(_SUBAGG_BODY))


def terms_subagg_sharded(spark, sf_dir: str) -> DataFrame:
    """The same nested aggregation DISTRIBUTED: sub-agg sidecars join
    on doc_id, then ONE Spark groupBy computes bucket count + every
    sub metric in the same partial-aggregate pass — nesting never adds
    a second shuffle. Same oracle as terms_subagg."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_dv_index_for(spark, sf_dir)
    return _subagg_rows(spark, query_sharded(spark, idx, _SUBAGG_BODY))


TERMS_SUBAGG_SQL = """
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
hit AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
SELECT d.lang AS key, count(*)::BIGINT AS doc_count,
       round(avg(d.n_chars), 4)::DOUBLE AS avg_chars,
       max(d.n_chars)::BIGINT AS max_chars,
       count(DISTINCT d.n_chars)::BIGINT AS distinct_chars
FROM documents d JOIN hit USING (doc_id)
GROUP BY d.lang ORDER BY doc_count DESC, key LIMIT 10
"""


_DH_BODY = {
    "query": {"match": {"b": "spark"}},
    "size": 0,
    "aggs": {"per_day": {"date_histogram": {"field": "ts",
                                            "fixed_interval": "1d"}}},
}


def _dh_rows(spark, resp) -> DataFrame:
    rows = [
        (int(b["key"]), int(b["doc_count"]))
        for b in resp["aggregations"]["per_day"]["buckets"]
    ]
    return local_df(spark, rows, "key bigint, doc_count bigint")


def date_histogram_agg(spark, sf_dir: str) -> DataFrame:
    """ES `date_histogram` (fixed_interval=1d) over a timestamp
    doc-values column inside a query context — the Kibana
    docs-over-time panel. Bucket key = epoch millis floored to the
    day (ES's numeric key); the crawl timestamp derives
    deterministically from doc_id (the table carries none), with the
    same arithmetic in the oracle."""
    eng = _dv_engine_for(spark, sf_dir)
    return _dh_rows(spark, eng.query(_DH_BODY))


def date_histogram_agg_sharded(spark, sf_dir: str) -> DataFrame:
    """The same date_histogram DISTRIBUTED: one Spark groupBy over
    unix_millis of the timestamp sidecar, scoped by the distributed
    hit set. Same oracle as date_histogram_agg."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_dv_index_for(spark, sf_dir)
    return _dh_rows(spark, query_sharded(spark, idx, _DH_BODY))


DATE_HISTOGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
hit AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
SELECT (((CAST({DH_EPOCH_MS} AS BIGINT) + (d.doc_id % 90) * {DH_DAY_MS}
          + (d.doc_id % 7) * {DH_HOUR_MS}) // {DH_DAY_MS}) * {DH_DAY_MS})::BIGINT AS key,
       count(*)::BIGINT AS doc_count
FROM documents d JOIN hit USING (doc_id)
GROUP BY key ORDER BY key
"""


PCTS = [25.0, 50.0, 75.0]

_PCT_BODY = {
    "query": {"match": {"b": "spark"}},
    "size": 0,
    "aggs": {"p": {"percentiles": {"field": "n_chars", "percents": PCTS}}},
}


def _pct_rows(spark, resp) -> DataFrame:
    vals = resp["aggregations"]["p"]["values"]
    rows = [(float(p), round(float(vals[str(p)]), 4)) for p in PCTS]
    return local_df(spark, rows, "percent double, value double")


def percentiles_agg(spark, sf_dir: str) -> DataFrame:
    """VERDICT r4 #5: ES `percentiles` agg — EXACT linear-interpolation
    contract (ES's t-digest approximates this value; numpy, Spark
    `percentile` and DuckDB `quantile_cont` share the definition) over
    the n_chars of docs matching 'spark'."""
    eng = _dv_engine_for(spark, sf_dir)
    return _pct_rows(spark, eng.query(_PCT_BODY))


def percentiles_agg_sharded(spark, sf_dir: str) -> DataFrame:
    """The same percentiles DISTRIBUTED: one Spark `percentile` agg
    over the sidecar table scoped by the hit set (the at-scale
    `percentile_approx` variant is exposed and tolerance-tested, not
    hash-gated). Same oracle as percentiles_agg."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_dv_index_for(spark, sf_dir)
    return _pct_rows(spark, query_sharded(spark, idx, _PCT_BODY))


PERCENTILES_AGG_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
hit AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark')
SELECT unnest([{", ".join(str(p) for p in PCTS)}])::DOUBLE AS percent,
       round(unnest(quantile_cont(d.n_chars, [{", ".join(str(p / 100.0) for p in PCTS)}])), 4)::DOUBLE AS value
FROM documents d JOIN hit USING (doc_id)
"""


def dsl_bool_top10(spark, sf_dir: str) -> DataFrame:
    """The same bool query expressed as the raw ES request-body JSON a
    reference user writes today, run through engine.query() — same
    oracle as bool_query_top10, so the DSL layer sits under the hash
    gate end-to-end."""
    eng = _engine_for(spark, sf_dir)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"body": t}} for t in BOOL_MUST],
                "should": [{"match": {"body": t}} for t in BOOL_SHOULD],
                "must_not": [{"match": {"body": t}} for t in BOOL_MUST_NOT],
                "filter": [{"match": {"body": t}} for t in BOOL_FILTER],
                "minimum_should_match": BOOL_MSM,
            }
        },
        "size": 10**7,
        "_source": False,  # only ids/scores are consumed
    }
    resp = eng.query(body)
    rows = sorted(
        (
            (int(h["_id"].split("doc://")[1]), round(h["_score"], 4))
            for h in resp["hits"]["hits"]
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def dsl_sharded_top10(spark, sf_dir: str) -> DataFrame:
    """The SAME ES request body as dsl_bool_top10, answered by the
    DISTRIBUTED endpoint (search/cluster.py query_sharded): per-shard
    bool kernels, DataFrame hit-set algebra for the exact total —
    a reference user's ES client pointed at the cluster path, under
    the same DuckDB oracle as the driver DSL."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_index_for(spark, sf_dir)
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"body": t}} for t in BOOL_MUST],
                "should": [{"match": {"body": t}} for t in BOOL_SHOULD],
                "must_not": [{"match": {"body": t}} for t in BOOL_MUST_NOT],
                "filter": [{"match": {"body": t}} for t in BOOL_FILTER],
                "minimum_should_match": BOOL_MSM,
            }
        },
        "size": 10**7,
    }
    # the oracle needs ALL matches to re-rank on rounded score: raise
    # the window explicitly, the ES index.max_result_window analog
    resp = query_sharded(spark, idx, body, max_result_window=10**7)
    rows = sorted(
        (
            (int(h["_id"].split("doc://")[1]), round(h["_score"], 4))
            for h in resp["hits"]["hits"]
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


CURSOR_SORT = [{"_score": "desc"}, {"_doc": "asc"}]


def dsl_sharded_search_after(spark, sf_dir: str) -> DataFrame:
    """ES search_after through the DISTRIBUTED endpoint: page 1 under
    the canonical cursor sort [{"_score": "desc"}, {"_doc": "asc"}]
    (every hit carries a resumable sort key; the cursor path runs the
    exhaustive kernel in every shard so cursor scores compare exactly
    across pages), page 2 reachable ONLY through page 1's last sort
    key. Pages concatenated so the oracle is the plain top-2K — page 2
    rows prove the cursor tiles exactly. Depth-paging past
    max_result_window on this endpoint raises instead (tested)."""
    from job_searchengine_project_spark.search.cluster import query_sharded

    idx = _sharded_index_for(spark, sf_dir)
    q = {"match": {"body": " ".join(QUERY_TERMS)}}
    p1 = query_sharded(
        spark, idx, {"query": q, "size": K, "sort": CURSOR_SORT}
    )["hits"]["hits"]
    cursor = p1[-1]["sort"]
    p2 = query_sharded(
        spark, idx,
        {"query": q, "size": K, "sort": CURSOR_SORT, "search_after": cursor},
    )["hits"]["hits"]
    hits = p1 + p2
    assert len({h["_id"] for h in hits}) == len(hits), "cursor pages overlap"
    rows = sorted(
        (
            (int(h["_id"].split("doc://")[1]), round(h["_score"], 4))
            for h in hits
        ),
        key=lambda r: (-r[1], r[0]),
    )
    return local_df(spark, rows, "doc_id bigint, score double")


MS_Q1 = QUERY_TERMS
MS_Q2 = ["join", "table"]
MS_K = 5


def msearch_top5(spark, sf_dir: str) -> DataFrame:
    """ES _msearch over the sharded layout: two match bodies answered
    in TWO distributed passes total (shared-scan batch scoring kernel
    + one-pass tagged exact totals) instead of two full per-query
    round trips. Oracle: per-query BM25 CTEs over shared token stats,
    union + window top-5."""
    from job_searchengine_project_spark.search.cluster import msearch_sharded

    idx = _sharded_index_for(spark, sf_dir)
    bodies = [
        {"query": {"match": {"body": " ".join(MS_Q1)}}, "size": 20 * K},
        {"query": {"match": {"body": " ".join(MS_Q2)}}, "size": 20 * K},
    ]
    resp = msearch_sharded(spark, idx, bodies, max_result_window=20 * K)
    rows = []
    for qi, r in enumerate(resp["responses"], start=1):
        docs = sorted(
            (
                (int(h["_id"].split("doc://")[1]), round(h["_score"], 4))
                for h in r["hits"]["hits"]
            ),
            key=lambda t: (-t[1], t[0]),
        )[:MS_K]
        rows += [(f"q{qi}", d, s) for d, s in docs]
    return local_df(spark, 
        rows, "query_id string, doc_id bigint, score double"
    )


def _msearch_sql() -> str:
    def block(n, terms):
        ts = ", ".join(f"'{t}'" for t in sorted(set(terms)))
        return f"""
tf{n} AS (SELECT doc_id, term, count(*) AS tf FROM toks
         WHERE term IN ({ts}) GROUP BY doc_id, term),
dft{n} AS (SELECT term, count(*) AS df FROM tf{n} GROUP BY term),
s{n} AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf{n} tf JOIN dft{n} d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)"""

    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
{block(1, MS_Q1).lstrip()},
{block(2, MS_Q2).lstrip()},
u AS (
  SELECT 'q1' AS query_id, doc_id, score FROM s1
  UNION ALL
  SELECT 'q2', doc_id, score FROM s2
),
rk AS (
  SELECT u.*, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id
  ) AS rn FROM u
)
SELECT query_id, doc_id, score FROM rk WHERE rn <= {MS_K}
ORDER BY query_id, score DESC, doc_id
"""


# ---- ES fuzzy match ----------------------------------------------------------

FUZZY_PROBES = ["sprk", "datt"]  # misspellings: expand to spark / data


def fuzzy_top10(spark, sf_dir: str) -> DataFrame:
    """ES fuzzy match: misspelled query terms expand to dictionary
    terms within edit distance 1 (engine walks its term dictionary;
    the oracle recomputes the same expansion with DuckDB's
    levenshtein()), then plain match-OR BM25 over the expansion."""
    eng = _engine_for(spark, sf_dir)
    hits = eng.search_fuzzy(FUZZY_PROBES, k=20 * K, max_edits=1, with_urls=True)
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _fuzzy_sql(limit: int) -> str:
    ors = " OR ".join(f"levenshtein(term, '{p}') <= 1" for p in FUZZY_PROBES)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
fterms AS (SELECT DISTINCT term FROM toks WHERE {ors}),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN (SELECT term FROM fterms) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
             * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl)))), 4) AS score
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


# ---- distributed (sharded) query paths under the oracle gate -----------------


def _sharded_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Doc-range-sharded layout over the cached morph index (rebuilt
    whenever the layout's recorded fingerprint no longer matches the
    index — shards_fresh, NOT directory existence)."""
    from job_searchengine_project_spark.index.sharded import (
        build_sharded_segments,
        shards_fresh,
    )

    eng = _engine_for(spark, sf_dir)
    if not shards_fresh(eng.index_dir):
        build_sharded_segments(spark, eng.index_dir, n_shards=8)
    return eng.index_dir


def wand_sharded_top10(spark, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED block-max WAND path (per-shard kernels,
    shard-local norms, associative top-k merge) under the same DuckDB
    BM25 oracle as the driver engine."""
    from job_searchengine_project_spark.index.sharded import search_sharded

    idx = _sharded_index_for(spark, sf_dir)
    df = search_sharded(spark, idx, QUERY_TERMS, k=20 * K)
    rows = sorted(
        (
            (int(r["url"].split("doc://")[1]), round(float(r["score"]), 4))
            for r in df.collect()
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _sharded_dv_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Sharded layout over the doc-values index: the shards AND the
    shard-partitioned sidecar slices (build_sharded_segments writes
    both when the index has doc_values)."""
    from job_searchengine_project_spark.index.sharded import (
        SHARD_DV_DIR,
        build_sharded_segments,
        shards_fresh,
    )

    eng = _dv_engine_for(spark, sf_dir)
    idx = eng.index_dir
    if not (shards_fresh(idx) and os.path.isdir(os.path.join(idx, SHARD_DV_DIR))):
        build_sharded_segments(spark, idx, n_shards=8)
    return idx


def bool_sharded_filter_top10(spark, sf_dir: str) -> DataFrame:
    """VERDICT r3 #1 closure: a BROAD doc-values filter (n_chars >=
    150 matches most of the corpus, plus a lang term) evaluated
    SHARD-LOCALLY — the specs ship as tiny dicts and each shard kernel
    reads only its own value-pruned sidecar slice
    (shard_docvalues/<col>/shard=K); no doc-id set is built on or
    broadcast from the driver (regression-tested). Same oracle family
    as range_filter_top10."""
    from job_searchengine_project_spark.index.sharded import search_sharded_bool

    idx = _sharded_dv_index_for(spark, sf_dir)
    df = search_sharded_bool(
        spark, idx, must=BOOL_MUST,
        filter_specs=[
            {"col": "n_chars", "gte": DV_RANGE[0]},
            {"col": "lang", "eq": DV_LANG},
        ],
        k=10**7,
    )
    rows = sorted(
        (
            (int(r["url"].split("doc://")[1]), round(float(r["score"]), 4))
            for r in df.collect()
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _broad_filter_sql(limit: int) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in BOOL_MUST)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ({terms_sql}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
part AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl))) AS p
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
m0 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_MUST[0]}'),
m1 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_MUST[1]}'),
fset AS (
  SELECT doc_id FROM documents
  WHERE n_chars >= {DV_RANGE[0]} AND lang = '{DV_LANG}'
),
scored AS (
  SELECT m0.doc_id, round(m0.p + m1.p, 4) AS score
  FROM m0 JOIN m1 USING (doc_id) JOIN fset USING (doc_id)
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


def terms_agg_sharded(spark, sf_dir: str) -> DataFrame:
    """VERDICT r3 #2 closure: the same query-scoped `terms` agg as
    terms_agg, computed as ONE Spark groupBy over the sidecar table
    scoped by the distributed match-docs hit set — Catalyst's map-side
    partial aggregate is the per-shard partial, the key exchange the
    associative merge; the driver Counter path is demoted to oracle.
    Same DuckDB oracle as terms_agg."""
    from job_searchengine_project_spark.index.sharded import (
        aggregate_terms_sharded,
        match_docs_sharded,
    )

    idx = _sharded_dv_index_for(spark, sf_dir)
    eng = _dv_engine_for(spark, sf_dir)
    hits = match_docs_sharded(spark, idx, eng._analyze("spark"))
    return aggregate_terms_sharded(spark, idx, "lang", size=10, doc_filter=hits)


def histogram_agg_sharded(spark, sf_dir: str) -> DataFrame:
    """Distributed `histogram` agg under a doc-values term filter:
    the lang gate is a pushed-down DataFrame (dv_filter_docs_sharded),
    the bucketing one groupBy — no driver-side column scan. Same
    DuckDB oracle as histogram_agg."""
    from job_searchengine_project_spark.index.sharded import (
        aggregate_histogram_sharded,
        dv_filter_docs_sharded,
    )

    idx = _sharded_dv_index_for(spark, sf_dir)
    gate = dv_filter_docs_sharded(spark, idx, {"col": "lang", "eq": DV_LANG})
    return aggregate_histogram_sharded(
        spark, idx, "n_chars", 100, doc_filter=gate
    )


def fuzzy_sharded_top10(spark, sf_dir: str) -> DataFrame:
    """VERDICT r3 #3 closure: distributed fuzzy match — expansion via
    the PERSISTED delete-variant table (index/fuzzy.py, variant-pruned
    lookup), scoring via the sharded kernels. Same DuckDB
    levenshtein() oracle as fuzzy_top10."""
    from job_searchengine_project_spark.index.fuzzy import (
        build_fuzzy_variants,
        variants_fresh,
    )
    from job_searchengine_project_spark.index.sharded import search_sharded_fuzzy

    idx = _sharded_index_for(spark, sf_dir)
    if not variants_fresh(idx, 1):
        build_fuzzy_variants(spark, idx, max_edits=1)
    df = search_sharded_fuzzy(spark, idx, FUZZY_PROBES, k=20 * K, max_edits=1)
    rows = sorted(
        (
            (int(r["url"].split("doc://")[1]), round(float(r["score"]), 4))
            for r in df.collect()
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def bool_sharded_top10(spark, sf_dir: str) -> DataFrame:
    """The distributed bool path: shard-local clause algebra, global
    merge — same oracle as the driver-side bool_query_top10."""
    from job_searchengine_project_spark.index.sharded import search_sharded_bool

    idx = _sharded_index_for(spark, sf_dir)
    df = search_sharded_bool(
        spark, idx, must=BOOL_MUST, should=BOOL_SHOULD,
        must_not=BOOL_MUST_NOT, filter=BOOL_FILTER,
        minimum_should_match=BOOL_MSM, k=10**7,
    )
    rows = sorted(
        (
            (int(r["url"].split("doc://")[1]), round(float(r["score"]), 4))
            for r in df.collect()
        ),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


# ---- ES bool with per-clause field targeting ---------------------------------


def bool_fielded_top10(spark, sf_dir: str) -> DataFrame:
    """The full ES bool request shape — clauses target FIELDS with
    their own analyzers and stats: must = title:spark AND body:data
    (scored per field), should = body:table (boost), must_not =
    body:dup. Oracle: per-field single-term BM25 CTEs joined by the
    same algebra."""
    feng = _fielded_engine_for(spark, sf_dir)
    top = feng.search_bool(
        must=[("title", "spark"), ("body", "data")],
        should=[("body", "table")],
        must_not=[("body", "dup")],
        k=10**9,
    )
    url_of = feng.engine("body").url_of
    rows = sorted(
        ((int(url_of(d).split("doc://")[1]), round(s, 4)) for d, s in top),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _bool_fielded_sql(limit: int) -> str:
    return f"""
WITH {_field_scored_cte("t", f"substr(text, 1, {TITLE_LEN})", ["spark"]).lstrip()},
{_field_scored_cte("bd", "text", ["data"]).lstrip()},
{_field_scored_cte("bt", "text", ["table"]).lstrip()},
nset AS (
  SELECT DISTINCT doc_id
  FROM documents, unnest(string_split(text, ' ')) AS x(tok)
  WHERE x.tok = 'dup'
)
SELECT t.doc_id,
       round(t.score + bd.score + coalesce(bt.score, 0), 4) AS score
FROM t_scored t
JOIN bd_scored bd USING (doc_id)
LEFT JOIN bt_scored bt USING (doc_id)
WHERE t.doc_id NOT IN (SELECT doc_id FROM nset)
ORDER BY score DESC, doc_id LIMIT {limit}
"""


# ---- ES bool compound query --------------------------------------------------

BOOL_MUST = ["spark", "data"]        # conjunctive, scoring
BOOL_SHOULD = ["table", "window"]    # optional, scoring, msm=1
BOOL_MUST_NOT = ["dup"]              # exclusion, non-scoring
BOOL_FILTER = ["join"]               # required, NON-scoring (filter context)
BOOL_MSM = 1


def bool_query_top10(spark, sf_dir: str) -> DataFrame:
    """ES `bool` query end-to-end on the segment engine: must clauses
    AND-combine and score, filter clauses gate without scoring,
    must_not excludes, and minimum_should_match=1 requires at least
    one scoring should clause. The DuckDB oracle re-derives the same
    algebra from plain SQL joins over per-term BM25 partials."""
    eng = _engine_for(spark, sf_dir)
    hits = eng.search_bool(
        must=BOOL_MUST, should=BOOL_SHOULD, must_not=BOOL_MUST_NOT,
        filter=BOOL_FILTER, minimum_should_match=BOOL_MSM,
        k=10**9, with_urls=True,
    )
    rows = sorted(
        ((int(h.url.split("doc://")[1]), round(h.score, 4)) for h in hits),
        key=lambda r: (-r[1], r[0]),
    )[:K]
    return local_df(spark, rows, "doc_id bigint, score double")


def _bool_sql(limit: int) -> str:
    """Oracle for bool_query_top10. Per-term BM25 partials pivot into
    per-clause columns; additions run in the engine's declared-clause
    order (left-assoc: spark + data + table? + window?) so float
    summation is bit-identical before the 4-dp round."""
    score_terms = sorted(set(BOOL_MUST + BOOL_SHOULD))
    terms_sql = ", ".join(f"'{t}'" for t in score_terms)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(t.tok) > 1
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(doclen) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ({terms_sql}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
part AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.doclen / s.avgdl))) AS p
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
m0 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_MUST[0]}'),
m1 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_MUST[1]}'),
s0 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_SHOULD[0]}'),
s1 AS (SELECT doc_id, p FROM part WHERE term = '{BOOL_SHOULD[1]}'),
fset AS (SELECT DISTINCT doc_id FROM toks WHERE term = '{BOOL_FILTER[0]}'),
nset AS (SELECT DISTINCT doc_id FROM toks WHERE term = '{BOOL_MUST_NOT[0]}'),
scored AS (
  SELECT m0.doc_id,
         round(m0.p + m1.p + coalesce(s0.p, 0) + coalesce(s1.p, 0), 4) AS score
  FROM m0
  JOIN m1 USING (doc_id)
  JOIN fset USING (doc_id)
  LEFT JOIN s0 USING (doc_id)
  LEFT JOIN s1 USING (doc_id)
  WHERE m0.doc_id NOT IN (SELECT doc_id FROM nset)
    AND (s0.doc_id IS NOT NULL OR s1.doc_id IS NOT NULL)
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {limit}
"""


QUERIES = {
    "bm25_scores": (bm25_scores, _bm25_sql(QUERY_TERMS, None)),
    "bm25_top10": (bm25_top10, _bm25_sql(QUERY_TERMS, K)),
    "term_df_top20": (term_df_top20, TERM_DF_SQL),
    "wand_bm25_top10": (wand_bm25_top10, _bm25_sql(QUERY_TERMS, K)),
    "wand_2gram_top10": (wand_2gram_top10, _twogram_sql(TWOGRAM_QUERY, K)),
    "phrase_2gram_top10": (phrase_2gram_top10, _phrase_2gram_sql(PHRASE_QUERY, K)),
    "update_compact_top10": (update_compact_top10, _update_compact_sql(QUERY_TERMS, K)),
    "upsert_delete_top10": (upsert_delete_top10, _upsert_sql(QUERY_TERMS, K, purge=False)),
    "upsert_purge_top10": (upsert_purge_top10, _upsert_sql(QUERY_TERMS, K, purge=True)),
    "fielded_search_top10": (fielded_search_top10, _fielded_sql(QUERY_TERMS, K)),
    "multi_field_top10": (multi_field_top10, _multi_field_sql(QUERY_TERMS, K)),
    "multi_field_best_top10": (multi_field_best_top10, _multi_field_best_sql(QUERY_TERMS, K)),
    "multi_field_sharded_top10": (multi_field_sharded_top10, _multi_field_sql(QUERY_TERMS, K)),
    "best_fields_sharded_top10": (best_fields_sharded_top10, _multi_field_best_sql(QUERY_TERMS, K)),
    "bool_fielded_sharded_top10": (bool_fielded_sharded_top10, _bool_fielded_sql(K)),
    "phrase_slop_top10": (phrase_slop_top10, _phrase_slop_sql(K)),
    "search_after_top10": (search_after_top10, _bm25_sql(QUERY_TERMS, 2 * K)),
    "bool_query_top10": (bool_query_top10, _bool_sql(K)),
    "bool_fielded_top10": (bool_fielded_top10, _bool_fielded_sql(K)),
    "wand_sharded_top10": (wand_sharded_top10, _bm25_sql(QUERY_TERMS, K)),
    "bool_sharded_top10": (bool_sharded_top10, _bool_sql(K)),
    "fuzzy_top10": (fuzzy_top10, _fuzzy_sql(K)),
    "dsl_bool_top10": (dsl_bool_top10, _bool_sql(K)),
    "dsl_sharded_top10": (dsl_sharded_top10, _bool_sql(K)),
    "dsl_sharded_search_after": (dsl_sharded_search_after, _bm25_sql(QUERY_TERMS, 2 * K)),
    "msearch_top5": (msearch_top5, _msearch_sql()),
    "range_filter_top10": (range_filter_top10, _range_filter_sql(K)),
    "bool_sharded_filter_top10": (bool_sharded_filter_top10, _broad_filter_sql(K)),
    "fuzzy_sharded_top10": (fuzzy_sharded_top10, _fuzzy_sql(K)),
    "terms_agg": (terms_agg, TERMS_AGG_SQL),
    "histogram_agg": (histogram_agg, HISTOGRAM_AGG_SQL),
    "terms_agg_sharded": (terms_agg_sharded, TERMS_AGG_SQL),
    "metric_aggs": (metric_aggs, METRIC_AGGS_SQL),
    "terms_subagg": (terms_subagg, TERMS_SUBAGG_SQL),
    "terms_subagg_sharded": (terms_subagg_sharded, TERMS_SUBAGG_SQL),
    "percentiles_agg": (percentiles_agg, PERCENTILES_AGG_SQL),
    "percentiles_agg_sharded": (percentiles_agg_sharded, PERCENTILES_AGG_SQL),
    "date_histogram_agg": (date_histogram_agg, DATE_HISTOGRAM_SQL),
    "date_histogram_agg_sharded": (date_histogram_agg_sharded, DATE_HISTOGRAM_SQL),
    "metric_aggs_sharded": (metric_aggs_sharded, METRIC_AGGS_SQL),
    "histogram_agg_sharded": (histogram_agg_sharded, HISTOGRAM_AGG_SQL),
    "sort_by_field_top10": (sort_by_field_top10, SORT_BY_FIELD_SQL),
    "match_count": (match_count, MATCH_COUNT_SQL),
    "prefix_top10": (prefix_top10, PREFIX_SQL),
    "phrase_prefix_top10": (phrase_prefix_top10, _phrase_prefix_sql(K)),
    "analyze_tokens": (analyze_tokens, ANALYZE_TOKENS_SQL),
    "highlight_top10": (highlight_top10, _highlight_sql(K)),
    "highlight_fragments": (highlight_fragments, _highlight_fragments_sql(K)),
    "get_doc": (get_doc, GET_DOC_SQL),
    "wildcard_match_count": (wildcard_match_count, WILDCARD_COUNT_SQL),
}
