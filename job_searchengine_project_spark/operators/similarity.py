"""Similarity search over embedding columns (array<float>).

- ``ann_cosine_topk``: brute-force cosine top-k — the exact baseline.
  Dot products stay JVM-side (``zip_with`` + ``aggregate``); the "ANN"
  at 100 TB is the LSH-bucketed variant below which prunes the pair
  space the same way MinHash banding does for near-dup.
- ``ann_threshold_pairs``: all pairs above a cosine threshold
  (boundary-tie-free for the oracle comparison).
- ``ann_lsh_bucketed``: multi-table random-hyperplane LSH with
  OR-amplification — T independent tables of b sign bits each
  (md5-derived ±1 hyperplanes); a pair is a candidate if it collides
  in ANY table (rows explode to T (table, bucket) keys and the self
  join is on that composite key, so the union across tables is one
  shuffle, not T joins). Candidates are deduped then exact-cosine
  verified. SQL-oracle'd like everything else (the hyperplanes are
  md5-parity-derived, so DuckDB reproduces them exactly).
- ``ann_lsh_recall``: measured recall of the LSH variant against the
  exact ``ann_threshold_pairs`` truth — one row (n_true, n_found,
  recall).

Parameter math (hyperplane LSH): a pair at angle θ collides in one
b-bit table with p(θ)^b where p = 1 - θ/π, and in ≥1 of T tables with
1 - (1 - p^b)^T. The test fixture's true pairs sit at cos ≈ 0.4
(θ ≈ 66°, p ≈ 0.63) — near-orthogonal, the hardest case — so recall
≥ 0.9 needs few bits and many tables (b=2, T=8 → 0.98 expected).
Tighter thresholds (real near-dup, cos ≥ 0.9 → p ≈ 0.86) keep the
same recall with far more selective b (p^8 ≈ 0.29/table), which is
where the bucket pruning actually pays at 100 TB.

Scale: brute force is O(n·q) per query batch and exists as the
correctness oracle; the LSH variant's shuffle is on (table, bucket)
keys, candidate scoring is bucket-local, and the exact-verify touches
only deduped candidates.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from job_searchengine_project_spark.iolayout import local_df, read_spread

N_QUERY = 10  # query vectors: vec_id < N_QUERY
TOP_K = 5
COS_THRESHOLD = 0.4
# (b, T) are OPERATOR PARAMETERS (see _lsh_candidates). Two documented
# profiles, gated by their own recall queries:
# - low-threshold fixture (cos >= 0.4, near-orthogonal true pairs —
#   the hardest case): few bits, many tables. NOT scale-safe as a
#   default — 2 bits = 4 buckets/table makes each table's self-join
#   near-quadratic at large n; it exists because this fixture's truth
#   sits at cos ~ 0.4 where selective b would destroy recall.
# - high-threshold near-dup profile (cos >= 0.9, the 100-TB dedup
#   shape): b=8 -> 256 buckets/table, selective bucketing that prunes
#   the pair space, OR-amplified over 8 tables (measured recall 0.97+
#   on the planted-twin fixture).
LSH_TABLES = 8  # T independent hash tables (OR-amplification)
LSH_PLANES = 2  # b sign bits per table (AND within a table)
HI_THRESHOLD = 0.9
HI_PLANES = 8
HI_TABLES = 8
N_TWINS = 60  # planted near-duplicates for the high-threshold fixture
TWIN_MIX = 0.35  # twin = a + TWIN_MIX * next(a): cos(twin, a) ~ 0.94
DIM = 64


def _np_mat(series) -> "object":
    """pd.Series of fixed-dim array values -> (n, D) float64 matrix.
    float32 -> float64 widening is exact, matching Spark's
    ``x.cast("double")``."""
    import numpy as np

    return np.array(series.tolist(), dtype=np.float64)


def _fold_dot_np(x, y):
    """Left-fold dot product, one numpy mul+add per dimension IN
    ORDER: acc = (((x0*y0) + x1*y1) + ...) — the exact IEEE operation
    sequence of the old interpreted expression
    ``aggregate(zip_with(a, b, *), 0.0, +)``, so every produced
    double is BIT-IDENTICAL to the expression form (tested), at
    vectorized-numpy speed instead of per-element Catalyst
    interpretation (guide §4.2: hand whole batches to native code)."""
    import numpy as np

    acc = np.zeros(x.shape[0])
    for d in range(x.shape[1]):
        acc += x[:, d] * y[:, d]
    return acc


@F.pandas_udf(T.DoubleType())
def _dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    return pd.Series(_fold_dot_np(_np_mat(a), _np_mat(b)))


@F.pandas_udf(T.DoubleType())
def _norm_udf(a: pd.Series) -> pd.Series:
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    x = _np_mat(a)
    return pd.Series(np.sqrt(_fold_dot_np(x, x)))


def _dot(a, b):
    """Interpreted-expression left-fold dot. Kept for the ALL-PAIRS
    oracle paths: their non-equi joins execute as cartesian products,
    where an ArrowEvalPython input is re-evaluated per partition PAIR
    and every tiny cartesian task pays a Python round-trip — there the
    per-row JVM expression wins. Equi-join paths with large pair
    counts use _dot_udf (bit-identical values, see _fold_dot_np)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sides(emb: DataFrame, fast: bool = False):
    """Pair-scoring sides with the norm precomputed PER VECTOR before
    the join: higher-order aggregates don't codegen, so computing
    norms inside the pair expression costs 3 interpreted folds per
    PAIR; hoisting them makes it 1 fold per pair + 1 per vector.
    Identical floats — same per-vector fold order, same sqrt.
    ``fast=True`` computes the norm in the vectorized Arrow kernel
    (bit-identical, for the equi-join verify paths)."""
    norm = _norm_udf if fast else _norm
    ea = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("nb"),
    )
    return ea, eb


def _pair_cos(fast: bool = False):
    dot = _dot_udf if fast else _dot
    return F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)


def ann_cosine_topk(spark, sf_dir: str) -> DataFrame:
    """For each query vector (vec_id < 10): top-5 neighbors by cosine.

    Rank key is (round(cos,4) DESC, neighbor_id ASC) so float-noise
    at 1e-16 can't flip ranks between engines.
    """
    import numpy as np
    import pyarrow.dataset as pads

    emb = read_spread(spark, f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    # the query side is n_query rows BY CONSTRUCTION: point-read it
    # driver-side (pyarrow, exact float32 values) and score every
    # query inside ONE Arrow kernel per corpus row — the old broadcast
    # nested-loop join shipped each embedding n_query times through
    # the Python boundary as separate pair rows (r6). Dots/norms keep
    # the left-fold order (_fold_dot_np), nq folds over the same
    # float->double widening the _norm expression used, and the
    # round + rank stay in Catalyst — values and ranks are identical.
    qtbl = pads.dataset(f"{sf_dir}/embeddings.parquet").to_table(
        columns=["vec_id", "embedding"],
        filter=pads.field("vec_id") < N_QUERY,
    )
    qrows = sorted(zip(qtbl["vec_id"].to_pylist(), qtbl["embedding"].to_pylist()))
    if not qrows:  # no query vectors: no (query, neighbor) rows
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank int"
        )
    qids = [int(i) for i, _ in qrows]
    qmat = np.array([v for _, v in qrows], dtype=np.float64)
    nq = np.sqrt(_fold_dot_np(qmat, qmat))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _qcos(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype="object")
        x = _np_mat(v)
        ne = np.sqrt(_fold_dot_np(x, x))
        acc = np.zeros((x.shape[0], qmat.shape[0]))
        for d in range(x.shape[1]):
            acc += qmat[None, :, d] * x[:, d, None]
        cos = acc / (nq[None, :] * ne[:, None])
        return pd.Series(list(cos))

    qid_arr = F.array(*[F.lit(i) for i in qids])
    pairs = (
        emb.select("vec_id", F.posexplode(_qcos(F.col("embedding"))).alias("pos", "raw"))
        .select(
            F.element_at(qid_arr, F.col("pos") + 1).cast("long").alias("query_id"),
            "vec_id",
            F.round(F.col("raw"), 4).alias("cos"),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos", "rank")
        .orderBy("query_id", "rank")
    )


ANN_TOPK_SQL = f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(list_transform(q.embedding, x -> x::DOUBLE), list_transform(e.embedding, x -> x::DOUBLE)), 4) AS cos
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERY}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_threshold_pairs(spark, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine >= 0.4 (exact, order-free output)."""
    emb = read_spread(spark, f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    ea, eb = _sides(emb)
    return (
        ea.join(eb, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _pair_cos())
        .filter(F.col("cos") >= COS_THRESHOLD)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


ANN_THRESHOLD_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(list_transform(a.embedding, x -> x::DOUBLE), list_transform(b.embedding, x -> x::DOUBLE)), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(list_transform(a.embedding, x -> x::DOUBLE), list_transform(b.embedding, x -> x::DOUBLE)), 4) >= {COS_THRESHOLD}
ORDER BY id_a, id_b
"""


def _plane_signs(table: int, plane: int) -> list[int]:
    """±1 hyperplane for (table, plane): the parity of the first hex
    digit of md5('t{table}p{plane}_d{dim}') per dimension — a
    deterministic pseudo-random sign vector both engines reproduce.
    Precomputed driver-side ONCE and emitted as literals (the naive
    form recomputed tables*planes*DIM md5s per ROW — 4096 for the
    selective profile)."""
    return [
        (int(hashlib.md5(f"t{table}p{plane}_d{d}".encode()).hexdigest()[0], 16) % 2) * 2 - 1
        for d in range(DIM)
    ]


def _bucket_array(vec_col, planes: int, tables: int):
    """All T bucket strings from ONE vectorized Arrow kernel: the
    tables*planes sign-of-dot projections run as numpy left-fold
    accumulations (one mul+add per dimension in order — the exact
    IEEE sequence of the old interpreted zip_with+aggregate subtree,
    so every dot's sign and hence every bucket string is identical;
    see _fold_dot_np). The expression form cost ~2 interpreted lambda
    steps per (row x table x plane x dim) — the dominant wall-clock of
    the selective b=8,T=8 profile at sf1.0 — and carried a
    64-plane literal tree through analysis/codegen besides."""
    import numpy as np

    signs = np.array(
        [[_plane_signs(t, p) for p in range(planes)] for t in range(tables)],
        dtype=np.float64,
    ).reshape(tables * planes, DIM)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype="object")
        x = _np_mat(v)
        acc = np.zeros((x.shape[0], signs.shape[0]))
        for d in range(x.shape[1]):
            acc += x[:, d, None] * signs[None, :, d]
        bits = acc > 0
        out = []
        for row in bits:
            chars = "".join("1" if b else "0" for b in row)
            out.append([chars[t * planes : (t + 1) * planes] for t in range(tables)])
        return pd.Series(out)

    return _buckets(vec_col)


def _lsh_candidates(
    emb: DataFrame, planes: int = LSH_PLANES, tables: int = LSH_TABLES
) -> DataFrame:
    """Deduped candidate pairs colliding in >=1 of the T tables.

    One posexplode to (table, bucket) rows, ONE self-join on the
    composite key — the OR across tables is part of the join key, not
    T separate joins — then distinct. ``planes``/``tables`` select the
    recall/selectivity trade (module header: profiles)."""
    buckets = _bucket_array(F.col("embedding"), planes, tables)
    keyed = emb.select(
        "vec_id", F.posexplode(buckets).alias("tbl", "bucket")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )


def ann_lsh_bucketed(spark, sf_dir: str) -> DataFrame:
    """Multi-table LSH near-neighbor pairs: candidates collide in any
    of the T tables, then exact cosine >= 0.4 verifies. Candidate
    generation never goes all-pairs; the verify join touches only
    deduped candidates."""
    emb = read_spread(spark, f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    cand = _lsh_candidates(emb)
    ea, eb = _sides(emb, fast=True)
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos", _pair_cos(fast=True))
        .filter(F.col("cos") >= COS_THRESHOLD)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


def ann_lsh_recall(spark, sf_dir: str) -> DataFrame:
    """Recall of the multi-table LSH pairs vs the exact threshold-pair
    truth. LSH output is a subset of the truth (same exact verify on a
    pruned candidate set), so recall = found / true."""
    truth = ann_threshold_pairs(spark, sf_dir).select("id_a", "id_b")
    found = ann_lsh_bucketed(spark, sf_dir).select("id_a", "id_b")
    n_true = truth.count()
    n_found = found.join(truth, ["id_a", "id_b"], "left_semi").count()
    recall = round(n_found / n_true, 4) if n_true else 1.0
    return local_df(spark, 
        [(n_true, n_found, recall)], "n_true long, n_found long, recall double"
    )


# ---- high-threshold near-dup profile (the 100-TB dedup shape) -----------------


def lsh_near_dup_pairs(
    emb: DataFrame,
    threshold: float = HI_THRESHOLD,
    planes: int = HI_PLANES,
    tables: int = HI_TABLES,
) -> DataFrame:
    """Generic near-duplicate pair finder over any (vec_id, embedding)
    DataFrame: multi-table hyperplane LSH candidates at the given
    (planes, tables) profile, exact-cosine verified at ``threshold``.

    The scale-safe default is the SELECTIVE profile: b=8 sign bits per
    table -> 256 buckets/table, so each table's self-join pairs shrink
    ~256x vs all-pairs, OR-amplified over T=8 tables for recall
    (collision prob at cos 0.9: p = 1 - acos(0.9)/pi ~ 0.857,
    p^8 ~ 0.29/table, 1-(1-0.29)^8 ~ 0.94 over 8 tables; measured
    recall on the planted-twin fixture: 1.0). The low-threshold
    (b=2, T=8) setting survives only as the documented fixture profile
    for cos >= 0.4 truths — pass it explicitly if you need it.

    Plan shape (decide with small rows, move heavy rows once): the
    candidate pairs are verified BUCKET-LOCALLY — one shuffle of
    (vec, table, bucket) rows groups each hash bucket on one task,
    where a vectorized numpy kernel scores every in-bucket pair with
    the exact left-fold cosine (bit-identical to the expression form,
    see _fold_dot_np) and emits only the pairs near the threshold.
    The previous form shuffled the FULL candidate pair list (at the
    selective profile nearly all candidates are false positives of
    random 8-bit collisions) through a distinct and then re-joined
    the embedding table twice to re-attach both vectors — three
    corpus-scale shuffles carrying 64-dim payloads, for a result of a
    few dozen rows. Survivor pairs dedup across tables AFTER scoring
    (cos is deterministic per pair, so distinct on the scored row is
    the same set). Rounding/threshold semantics stay in Catalyst: the
    kernel pre-filters with a safe margin on the raw cosine and Spark
    applies the exact round(.,4) >= threshold gate."""
    import pandas as pd

    buckets = _bucket_array(F.col("embedding"), planes, tables)
    keyed = emb.select(
        "vec_id", "embedding", F.posexplode(buckets).alias("tbl", "bucket")
    )
    margin = float(threshold) - 1e-3

    def _bucket_verify(batches):
        import numpy as np

        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if pdf.empty:
            return
        for _, grp in pdf.groupby(["tbl", "bucket"], sort=False):
            if len(grp) < 2:
                continue
            grp = grp.sort_values("vec_id", kind="stable")
            ids = grp["vec_id"].to_numpy()
            x = _np_mat(grp["embedding"])
            norms = np.sqrt(_fold_dot_np(x, x))
            n = len(ids)
            # pairwise left-fold dots, blocked on the row axis to
            # bound the (block x n) accumulator
            blk = 2048
            out_a, out_b, out_c = [], [], []
            for s in range(0, n, blk):
                e = min(s + blk, n)
                acc = np.zeros((e - s, n))
                for d in range(x.shape[1]):
                    acc += x[s:e, d, None] * x[None, :, d]
                cos_raw = acc / (norms[s:e, None] * norms[None, :])
                ii, jj = np.nonzero(cos_raw >= margin)
                keep = (ii + s) < jj  # id_a < id_b (rows are id-sorted)
                ii, jj = ii[keep], jj[keep]
                out_a.extend(ids[ii + s].tolist())
                out_b.extend(ids[jj].tolist())
                out_c.extend(cos_raw[ii, jj].tolist())
            if out_a:
                yield pd.DataFrame(
                    {"id_a": out_a, "id_b": out_b, "cos_raw": out_c}
                )

    shuffle_n = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scored = keyed.repartition(shuffle_n, "tbl", "bucket").mapInPandas(
        _bucket_verify, schema="id_a long, id_b long, cos_raw double"
    )
    return (
        scored.select(
            "id_a", "id_b", F.round(F.col("cos_raw"), 4).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


TWIN_ID_BASE = 100000  # planted twin of vec i gets vec_id i + TWIN_ID_BASE


def _augment_twins(emb: DataFrame) -> DataFrame:
    """Planted near-duplicate fixture for the high-threshold profile:
    the corpus has no natural pairs above cos 0.9 (max natural 0.51),
    so plant twin(i) = emb[i] + TWIN_MIX * emb[i+1] for i < N_TWINS —
    cos(twin, base) lands in [0.93, 0.96], derivable identically in
    DuckDB (everything cast to double before mixing)."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    nxt = emb.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("nx"))
    twins = (
        emb.filter(F.col("vec_id") < N_TWINS)
        .join(nxt, "vec_id")
        .select(
            (F.col("vec_id") + TWIN_ID_BASE).alias("vec_id"),
            F.zip_with(
                "embedding",
                "nx",
                lambda x, y: x.cast("double") + TWIN_MIX * y.cast("double"),
            ).alias("embedding"),
        )
    )
    return base.unionByName(twins)


def ann_lsh_hi_pairs(spark, sf_dir: str) -> DataFrame:
    """Selective-profile (b=8, T=8) near-dup pairs at cos >= 0.9 over
    the planted-twin fixture. The found set must be (a subset of) the
    60 planted twin pairs."""
    emb = read_spread(spark, f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    return lsh_near_dup_pairs(_augment_twins(emb)).orderBy("id_a", "id_b")


def ann_lsh_hi_recall(spark, sf_dir: str) -> DataFrame:
    """Recall gate for the scale-safe LSH profile: found / true at
    cos >= 0.9 on the planted-twin fixture (truth = exact all-pairs
    over the augmented set — oracle-only scale, never the operator)."""
    emb = read_spread(spark, f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    aug = _augment_twins(emb)
    ta, tb = _sides(aug)
    truth = (
        ta.join(tb, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _pair_cos())
        .filter(F.col("cos") >= HI_THRESHOLD)
        .select("id_a", "id_b")
    )
    found = lsh_near_dup_pairs(aug).select("id_a", "id_b")
    n_true = truth.count()
    n_found = found.join(truth, ["id_a", "id_b"], "left_semi").count()
    recall = round(n_found / n_true, 4) if n_true else 1.0
    return local_df(spark, 
        [(n_true, n_found, recall)], "n_true long, n_found long, recall double"
    )


def _sql_bucket(table: int, planes: int = LSH_PLANES) -> str:
    """Same literal ±1 hyperplanes as the Spark side: a signed sum per
    plane instead of per-row md5 recomputation."""
    parts = []
    for p in range(planes):
        signs = _plane_signs(table, p)
        dot = " ".join(
            f"{'+' if s > 0 else '-'} embedding[{d + 1}]::DOUBLE"
            for d, s in enumerate(signs)
        ).lstrip("+ ")
        parts.append(f"(CASE WHEN ({dot}) > 0 THEN '1' ELSE '0' END)")
    return " || ".join(parts)


_SQL_KEYED = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_sql_bucket(t)} AS bucket FROM embeddings"
    for t in range(LSH_TABLES)
)

_SQL_LSH_PAIRS = f"""
keyed AS ({_SQL_KEYED}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
lsh_pairs AS (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(list_transform(ea.embedding, x -> x::DOUBLE), list_transform(eb.embedding, x -> x::DOUBLE)), 4) AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
  WHERE round(list_cosine_similarity(list_transform(ea.embedding, x -> x::DOUBLE), list_transform(eb.embedding, x -> x::DOUBLE)), 4) >= {COS_THRESHOLD}
)"""

ANN_LSH_SQL = f"""
WITH {_SQL_LSH_PAIRS.lstrip()}
SELECT id_a, id_b, cos FROM lsh_pairs ORDER BY id_a, id_b
"""

ANN_LSH_RECALL_SQL = f"""
WITH {_SQL_LSH_PAIRS.lstrip()},
truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(list_transform(a.embedding, x -> x::DOUBLE), list_transform(b.embedding, x -> x::DOUBLE)), 4) >= {COS_THRESHOLD}
)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM lsh_pairs p JOIN truth t
         ON p.id_a = t.id_a AND p.id_b = t.id_b)::BIGINT AS n_found,
       round((SELECT count(*) FROM lsh_pairs p JOIN truth t
               ON p.id_a = t.id_a AND p.id_b = t.id_b)::DOUBLE
             / (SELECT count(*) FROM truth), 4) AS recall
"""


# high-threshold profile oracle: same md5-parity hyperplanes at b=8,
# over the planted-twin augmented set (twin math in DOUBLE, like Spark)
_SQL_AUG = f"""
aug AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
  UNION ALL
  SELECT a.vec_id + {TWIN_ID_BASE} AS vec_id,
         list_transform(generate_series(1, {DIM}),
                        d -> a.embedding[d]::DOUBLE + {TWIN_MIX} * b.embedding[d]::DOUBLE) AS embedding
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id < {N_TWINS}
)"""

_SQL_HI_KEYED = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_sql_bucket(t, HI_PLANES)} AS bucket FROM aug"
    for t in range(HI_TABLES)
)

_SQL_HI_PAIRS = f"""
keyed AS ({_SQL_HI_KEYED}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
hi_pairs AS (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(list_transform(ea.embedding, x -> x::DOUBLE), list_transform(eb.embedding, x -> x::DOUBLE)), 4) AS cos
  FROM cand c
  JOIN aug ea ON ea.vec_id = c.id_a
  JOIN aug eb ON eb.vec_id = c.id_b
  WHERE round(list_cosine_similarity(list_transform(ea.embedding, x -> x::DOUBLE), list_transform(eb.embedding, x -> x::DOUBLE)), 4) >= {HI_THRESHOLD}
)"""

ANN_LSH_HI_SQL = f"""
WITH {_SQL_AUG.lstrip()},
{_SQL_HI_PAIRS.lstrip()}
SELECT id_a, id_b, cos FROM hi_pairs ORDER BY id_a, id_b
"""

ANN_LSH_HI_RECALL_SQL = f"""
WITH {_SQL_AUG.lstrip()},
{_SQL_HI_PAIRS.lstrip()},
truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(list_transform(a.embedding, x -> x::DOUBLE), list_transform(b.embedding, x -> x::DOUBLE)), 4) >= {HI_THRESHOLD}
)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM hi_pairs p JOIN truth t
         ON p.id_a = t.id_a AND p.id_b = t.id_b)::BIGINT AS n_found,
       round((SELECT count(*) FROM hi_pairs p JOIN truth t
               ON p.id_a = t.id_a AND p.id_b = t.id_b)::DOUBLE
             / (SELECT count(*) FROM truth), 4) AS recall
"""


# ---- IVF-Flat ----------------------------------------------------------------

IVF_NLIST = 16  # coarse centroids
IVF_NPROBE = 5  # centroid lists scanned per query
IVF_ITERS = 2  # Lloyd iterations for the trained codebook


def _ivf_assign(emb: DataFrame, centroids: DataFrame, rank_n: int, out: str) -> DataFrame:
    """Rank centroids per vector by (round(cos,4) DESC, centroid_id) and
    keep the top rank_n — rank 1 is the IVF list assignment, ranks
    1..nprobe are a query's probe set. The codebook is a tiny
    broadcast-scale object BY CONSTRUCTION (nlist ~ sqrt(n) rows), so
    it collects driver-side and ships inside ONE Arrow kernel that
    scores every centroid per vector in a single pass — the old form
    cross-joined the nlist rows against the corpus and paid an Arrow
    round-trip per (vector, centroid) PAIR, shipping each embedding
    nlist times through the Python boundary. Raw cosines use the same
    left-fold dot/norm order as the expression form (_fold_dot_np, so
    each value is bit-identical); the round(.,4) and the rank stay in
    Catalyst, exactly as before."""
    import numpy as np

    crows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cv"]])
        for r in centroids.collect()
    )
    if not crows:  # an empty codebook assigns no vector
        return emb.select(
            F.col("vec_id").alias(out),
            F.lit(None).cast("long").alias("centroid_id"),
            F.lit(None).cast("int").alias("crank"),
        ).limit(0)
    cids = [c for c, _ in crows]
    cmat = np.array([v for _, v in crows], dtype=np.float64)
    cnorm = np.sqrt(_fold_dot_np(cmat, cmat))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _all_ccos(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype="object")
        x = _np_mat(v)
        nv = np.sqrt(_fold_dot_np(x, x))
        acc = np.zeros((x.shape[0], cmat.shape[0]))
        for d in range(x.shape[1]):
            acc += x[:, d, None] * cmat[None, :, d]
        ccos = acc / (nv[:, None] * cnorm[None, :])
        return pd.Series(list(ccos))

    # rank WITHOUT a shuffle: all nlist cosines for a vector live in
    # one array row, so the (round(ccos,4) DESC, centroid_id ASC) rank
    # is an array_sort over (rounded, id) structs — the same total
    # order row_number() over a vec_id window produced, with the
    # round() still evaluated by Catalyst (bit-for-bit the old
    # semantics) and ZERO exchanges instead of one per assignment.
    id_arr = F.array(*[F.lit(c) for c in cids])
    structs = F.transform(
        _all_ccos(F.col("embedding")),
        lambda x, i: F.struct(
            F.round(x, 4).alias("ccos"),
            F.element_at(id_arr, i + 1).cast("long").alias("centroid_id"),
        ),
    )
    ranked = F.slice(
        F.array_sort(
            structs,
            lambda a, b: F.when(a["ccos"] > b["ccos"], F.lit(-1))
            .when(a["ccos"] < b["ccos"], F.lit(1))
            .when(a["centroid_id"] < b["centroid_id"], F.lit(-1))
            .otherwise(F.lit(1)),
        ),
        1,
        rank_n,
    )
    return emb.select(
        F.col("vec_id").alias(out), F.posexplode(ranked).alias("pos", "s")
    ).select(
        out,
        F.col("s.centroid_id").alias("centroid_id"),
        (F.col("pos") + 1).cast("int").alias("crank"),
    )


def _kmeans_codebook(
    emb: DataFrame, nlist: int = IVF_NLIST, iters: int = IVF_ITERS
) -> DataFrame:
    """Trained IVF codebook: Lloyd k-means over the corpus, initialized
    from the deterministic sample (vec_id < nlist) and run for a FIXED
    iteration count so the DuckDB oracle can mirror training exactly
    (unrolled CTEs). Determinism knobs: assignment ranks by
    (round(cos,4) DESC, centroid_id) and each updated centroid
    coordinate is round(avg, 4) — float-sum order can't flip either.
    A cluster that loses all members drops out identically in both
    engines. At scale this is the standard sampled-k-means shape: the
    centroid side stays tiny (broadcast), each iteration is one
    shuffle on (centroid_id, dim)."""
    cent = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    for _ in range(iters):
        assign = _ivf_assign(emb, cent, 1, "vec_id").drop("crank")
        exploded = assign.join(emb, "vec_id").select(
            "centroid_id", F.posexplode("embedding").alias("d", "x")
        )
        means = exploded.groupBy("centroid_id", "d").agg(
            F.round(F.avg(F.col("x").cast("double")), 4).alias("m")
        )
        cent = means.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    return cent


# trained codebooks PERSIST beside the derived artifacts (parquet +
# meta marker) and memoize in-process on top: training is a BUILD-time
# step (like the index build); a fresh process LOADS the parquet
# instead of silently retraining. A codebook is by construction a
# broadcast-scale object (nlist x dim doubles; nlist grows ~sqrt(n),
# so even 10^12 vectors need only ~10^6 centroids — megabytes).
_CODEBOOK_CACHE: dict[str, list] = {}


def codebook_dir(cache_key: str, nlist: int, iters: int) -> str:
    import hashlib
    import tempfile

    h = hashlib.sha256(f"{cache_key}|{nlist}|{iters}".encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"jse_ivf_codebook_{h}")


def persist_codebook(
    spark,
    emb: DataFrame,
    out_dir: str,
    nlist: int = IVF_NLIST,
    iters: int = IVF_ITERS,
) -> None:
    """Train (sampled Lloyd, _kmeans_codebook) and write the codebook:
    parquet rows (centroid_id, cv) + a _CODEBOOK_META.json commit
    marker (params recorded; the atomic marker write is the commit
    point — a crash mid-write leaves no marker and the next call
    retrains)."""
    import json

    rows = _kmeans_codebook(emb, nlist=nlist, iters=iters)
    rows.write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
    meta = {"nlist": int(nlist), "iters": int(iters)}
    tmp = os.path.join(out_dir, "_CODEBOOK_META.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(out_dir, "_CODEBOOK_META.json"))


def load_codebook(out_dir: str) -> list | None:
    """Read a persisted codebook (driver-side pyarrow — it is a tiny
    broadcast-scale artifact); None when absent/uncommitted."""
    import json

    import pyarrow.dataset as pads

    marker = os.path.join(out_dir, "_CODEBOOK_META.json")
    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        json.load(f)  # validates the commit marker
    tbl = pads.dataset(os.path.join(out_dir, "centroids")).to_table()
    out = sorted(
        (int(c), [float(x) for x in v])
        for c, v in zip(
            tbl.column("centroid_id").to_pylist(), tbl.column("cv").to_pylist()
        )
    )
    return out


def _codebook_for(
    spark,
    emb: DataFrame,
    cache_key: str,
    nlist: int = IVF_NLIST,
    iters: int = IVF_ITERS,
) -> DataFrame:
    key = f"{cache_key}|{nlist}|{iters}"
    if key not in _CODEBOOK_CACHE:
        cdir = codebook_dir(cache_key, nlist, iters)
        loaded = load_codebook(cdir)
        if loaded is None:
            persist_codebook(spark, emb, cdir, nlist=nlist, iters=iters)
            loaded = load_codebook(cdir)
        _CODEBOOK_CACHE[key] = loaded
    return local_df(spark, 
        _CODEBOOK_CACHE[key], "centroid_id bigint, cv array<double>"
    )


def ivf_topk(
    spark,
    emb: DataFrame,
    cache_key: str,
    k: int = TOP_K,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    iters: int = IVF_ITERS,
    n_query: int = N_QUERY,
) -> DataFrame:
    """Parameterized IVF-Flat ANN (ann_ivf_topk is the fixture-profile
    driver query over it). ``nlist``/``nprobe`` are OPERATOR
    PARAMETERS: the fixture profile (nlist=16, nprobe=5) suits the
    60-6000-vector test tables; at scale size nlist ≈ sqrt(n) (10^6
    lists for 10^12 vectors keeps both the per-list scan and the
    codebook broadcast bounded) and tune nprobe for the recall target.
    The trained codebook persists beside the derived artifacts
    (persist_codebook) and is LOADED on later calls/processes, never
    silently retrained."""
    centroids = _codebook_for(spark, emb, cache_key, nlist=nlist, iters=iters)
    # both assignment passes are now SHUFFLE-FREE (array_sort rank in
    # _ivf_assign), so no checkpoint is needed: the lists pass is one
    # map-only scan and the probes pass prunes its scan to the n_query
    # vectors.
    lists = _ivf_assign(emb, centroids, 1, "neighbor_id").drop("crank")
    q = emb.filter(F.col("vec_id") < n_query)
    probes = _ivf_assign(q, centroids, nprobe, "query_id").drop("crank")
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("nq"),
    )
    ev = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        _norm_udf(F.col("embedding")).alias("nn"),
    )
    # probes is n_query*nprobe rows -> broadcast, so candidate
    # generation never shuffles the corpus-side lists; the old
    # .distinct() was a no-op (each vector lives in exactly ONE crank-1
    # list and probes rows are unique per (query, centroid), so
    # (query_id, neighbor_id) pairs cannot repeat) — dropped with the
    # shuffle it carried.
    cand = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(ev, "neighbor_id")
        .withColumn(
            "cos",
            F.round(_dot_udf(F.col("qv"), F.col("nv")) / (F.col("nq") * F.col("nn")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    )


def ann_ivf_topk(spark, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: vectors partition into nlist=16 coarse-centroid
    lists (codebook = sampled k-means, see _kmeans_codebook; trained
    once, PERSISTED beside the derived artifacts, loaded thereafter);
    each query scans only its nprobe=5 nearest lists and ranks
    candidates by exact cosine (measured recall@5 vs exact: 0.92 /
    0.94 / 1.0 at sf0.001 / 0.01 / 0.1). At scale the candidate join
    shuffles on centroid_id (list-local scoring) instead of going
    all-pairs, and nlist grows ~sqrt(n) so the probe fraction
    shrinks — see ivf_topk for the parameterized form.

    Plain read, not read_spread (r6): ivf_topk derives FOUR scans from
    this frame and each re-plans the round-robin exchange as its own
    AQE job; the per-row work (nlist fold-dots in one Arrow kernel) is
    far cheaper than four exchanges on an under-split local table, and
    at real scale the layout feeds enough tasks anyway (read_spread
    would no-op there)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    return ivf_topk(spark, emb, cache_key=os.path.abspath(sf_dir))


def _sql_kmeans_ctes(nlist: int = IVF_NLIST, iters: int = IVF_ITERS) -> str:
    """Unrolled Lloyd iterations mirroring _kmeans_codebook: c0 is the
    sample init, a{i}/c{i} are iteration i's assignment and updated
    centroids (parallel unnests zip per-dimension)."""
    ctes = [
        f"""c0 AS (
  SELECT vec_id AS centroid_id, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM embeddings WHERE vec_id < {nlist}
)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""a{i} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(
               list_transform(e.embedding, x -> x::DOUBLE), c.cv), 4) DESC,
             c.centroid_id) AS rn
    FROM embeddings e, c{i - 1} c) WHERE rn = 1
)""")
        ctes.append(f"""c{i} AS (
  SELECT centroid_id, list(round(mx, 4) ORDER BY d) AS cv
  FROM (
    SELECT centroid_id, d, avg(x) AS mx FROM (
      SELECT centroid_id, unnest(generate_series(1, {DIM})) AS d,
             unnest(list_transform(embedding, x -> x::DOUBLE)) AS x
      FROM a{i} JOIN embeddings USING (vec_id)
    ) GROUP BY centroid_id, d
  ) GROUP BY centroid_id
)""")
    return ",\n".join(ctes)


ANN_IVF_SQL = f"""
WITH {_sql_kmeans_ctes().lstrip()},
centroids AS (SELECT centroid_id, cv FROM c{IVF_ITERS}),
assign AS (
  SELECT vec_id, centroid_id, row_number() OVER (
           PARTITION BY vec_id
           ORDER BY round(list_cosine_similarity(
             list_transform(embedding, x -> x::DOUBLE), cv), 4) DESC, centroid_id
         ) AS crank
  FROM embeddings, centroids
),
lists AS (SELECT vec_id AS neighbor_id, centroid_id FROM assign WHERE crank = 1),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM assign
  WHERE crank <= {IVF_NPROBE} AND vec_id < {N_QUERY}
),
cand AS (
  SELECT DISTINCT p.query_id, l.neighbor_id
  FROM probes p JOIN lists l USING (centroid_id)
  WHERE l.neighbor_id != p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(list_transform(q.embedding, x -> x::DOUBLE),
                                      list_transform(e.embedding, x -> x::DOUBLE)), 4) AS cos
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


QUERIES = {
    "ann_cosine_topk": (ann_cosine_topk, ANN_TOPK_SQL),
    "ann_threshold_pairs": (ann_threshold_pairs, ANN_THRESHOLD_SQL),
    "ann_lsh_bucketed": (ann_lsh_bucketed, ANN_LSH_SQL),
    "ann_lsh_recall": (ann_lsh_recall, ANN_LSH_RECALL_SQL),
    "ann_lsh_hi_pairs": (ann_lsh_hi_pairs, ANN_LSH_HI_SQL),
    "ann_lsh_hi_recall": (ann_lsh_hi_recall, ANN_LSH_HI_RECALL_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
}
