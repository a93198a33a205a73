"""Index build: pages -> compressed block-max segments, resumable.

Physical plan (one lineage-tracked batch DAG — the Spark collapse of
the reference's six daemons, SURVEY.md §3.2):

    pages
      -> prepare_docs           (Arrow UDF tokenize; tf computed in-UDF
                                 = map-side partial aggregation)
      -> write docstore+forward (stage "docs", resumable checkpoint)
      -> sampled df estimate    (head-term detection, _head_terms)
      -> pack forward rows      (mapInArrow _pack_forward_arrow: per
                                input partition, one row per
                                (term, salt) group holding the
                                postings' doc ids / tfs / tf-norms
                                [/ positions] as binary blobs; salt
                                is the explicit skew split: head terms
                                with df > target get n_salts doc-RANGE
                                partitions, salt = doc_id // range, so
                                partial segments are doc-disjoint)
      -> repartition(term,salt) -> mapInArrow encode
                                (_encode_packed_arrow, numpy codec)
      -> groupBy(term)          merge partials by blob CONCATENATION
                                (only compressed bytes shuffle here —
                                the whole point of salting first)
      -> write segments parquet partitioned by term_bucket
         (+ stats, + per-partition lineage metrics)

``update_index`` and the doc-range shard derive run the same pack ->
repartition(term, salt) -> encode pipeline; only the salt differs.

Skew rationale: Zipfian head terms would otherwise send >20% of all
posting rows through single reducers (north_rule: skew handled
explicitly). The salt phase encodes/compresses inside the salt
partition, so a head term's merge input is ~n_salts compressed blobs,
not df raw rows.

Resume contract (reference spine: the txid lineage table,
psql_create.psql:8-17): each stage commits an atomic `_STAGE_OK.json`
marker carrying a deterministic build fingerprint; `build_index(...,
resume=True)` skips stages whose marker matches the fingerprint —
kill the job anywhere and a rerun does only the remaining stages.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from job_searchengine_project_spark import BM25_B, BM25_K1
from job_searchengine_project_spark.index import codec
from job_searchengine_project_spark.index.prepare import prepare_docs

SEGMENT_SCHEMA = (
    "term string, term_bucket int, df long, first_doc long, "
    "doc_blob binary, tf_blob binary, "
    "block_n array<int>, block_last_doc array<long>, "
    "block_doc_bytes array<int>, block_tf_bytes array<int>, "
    "block_max_tfnorm array<double>, n_parts int, bytes_written long"
)

# positional variant: pos columns exist ONLY in positional indexes —
# non-positional builds must not pay Arrow/shuffle overhead for empty
# columns on every partial row (readers handle both schemas)
_POS_COLS_SQL = ", pos_blob binary, block_pos_bytes array<int>"
SEGMENT_SCHEMA_POS = SEGMENT_SCHEMA + _POS_COLS_SQL

PARTIAL_SCHEMA = SEGMENT_SCHEMA.replace(
    "term string, term_bucket int,", "term string, salt int,"
)
PARTIAL_SCHEMA_POS = PARTIAL_SCHEMA + _POS_COLS_SQL


@dataclass
class BuildResult:
    out_dir: str
    n_docs: int
    avgdl: float
    n_terms: int
    total_postings: int
    stages_run: list[str]
    stages_skipped: list[str]


def _marker_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, f"_STAGE_OK_{stage}.json")


def _stage_done(out_dir: str, stage: str, fingerprint: str) -> bool:
    p = _marker_path(out_dir, stage)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as f:
            return json.load(f).get("fingerprint") == fingerprint
    except (json.JSONDecodeError, OSError):
        return False


def _commit_stage(out_dir: str, stage: str, fingerprint: str, **metrics) -> None:
    tmp = _marker_path(out_dir, stage) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"stage": stage, "fingerprint": fingerprint, **metrics}, f)
    os.replace(tmp, _marker_path(out_dir, stage))  # atomic commit


def _enc_to_row(
    term: str, enc: codec.EncodedPostings, n_parts: int, with_pos: bool = False
) -> dict:
    row = {
        "term": term,
        "df": enc.count,
        "first_doc": enc.first_doc,
        "doc_blob": enc.doc_blob,
        "tf_blob": enc.tf_blob,
        "block_n": enc.block_n.tolist(),
        "block_last_doc": enc.block_last_doc.tolist(),
        "block_doc_bytes": enc.block_doc_bytes.tolist(),
        "block_tf_bytes": enc.block_tf_bytes.tolist(),
        "block_max_tfnorm": enc.block_max_tfnorm.tolist(),
        "n_parts": n_parts,
        "bytes_written": len(enc.doc_blob) + len(enc.tf_blob) + len(enc.pos_blob),
    }
    if with_pos:
        row["pos_blob"] = enc.pos_blob
        row["block_pos_bytes"] = enc.block_pos_bytes.tolist()
    return row


_PARTIAL_COLS = [
    "term", "salt", "df", "first_doc", "doc_blob", "tf_blob", "block_n",
    "block_last_doc", "block_doc_bytes", "block_tf_bytes",
    "block_max_tfnorm", "n_parts", "bytes_written",
]
_PARTIAL_COLS_POS = _PARTIAL_COLS + ["pos_blob", "block_pos_bytes"]


def _pack_partition_arrow(batches, avgdl: float):
    """Map-side pack kernel (r6, guide §2.3/§8: shuffle metadata-light
    proxies, never per-posting rows): group THIS input partition's
    postings by (term, salt) and emit one row per group carrying the
    doc ids / tfs / precomputed tf-norms as raw binary blobs (~20 B
    per posting in a handful of rows per term) — the encode shuffle
    previously moved one 5-field row PER POSTING, and the per-row
    serialization overhead of that exchange, not the encode kernel,
    dominated the whole segments stage. tfn here is the identical
    numpy expression the encode kernel evaluated, just computed before
    the exchange instead of after it."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = list(batches)
    if not parts:
        return
    tbl = pa.Table.from_batches(parts)
    if tbl.num_rows == 0:
        return
    dict_arr = pc.dictionary_encode(tbl.column("term").combine_chunks())
    tc = dict_arr.indices.to_numpy()
    terms_uniq = dict_arr.dictionary.to_pylist()
    salts = tbl.column("salt").to_numpy()
    docs = tbl.column("doc_id").to_numpy().astype(np.int64, copy=False)
    tfs = tbl.column("tf").to_numpy().astype(np.int64, copy=False)
    dls = tbl.column("doclen").to_numpy().astype(np.float64)
    tfn = tfs / (tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * (dls / avgdl)))
    order = np.lexsort((docs, salts, tc))
    tc, sa, docs, tfs, tfn = tc[order], salts[order], docs[order], tfs[order], tfn[order]
    change = np.empty(tc.size, dtype=bool)
    change[0] = True
    change[1:] = (tc[1:] != tc[:-1]) | (sa[1:] != sa[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], tc.size)
    terms_out, salts_out, d_blobs, t_blobs, n_blobs = [], [], [], [], []
    for s, e in zip(starts, ends):
        terms_out.append(terms_uniq[tc[s]])
        salts_out.append(int(sa[s]))
        d_blobs.append(docs[s:e].tobytes())
        t_blobs.append(tfs[s:e].astype(np.int32).tobytes())
        n_blobs.append(tfn[s:e].tobytes())
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(terms_out, type=pa.string()),
            pa.array(salts_out, type=pa.int32()),
            pa.array(d_blobs, type=pa.binary()),
            pa.array(t_blobs, type=pa.binary()),
            pa.array(n_blobs, type=pa.binary()),
        ],
        ["term", "salt", "docs_blob", "tfs_blob", "tfn_blob"],
    )


_PACKED_SCHEMA = (
    "term string, salt int, docs_blob binary, tfs_blob binary, tfn_blob binary"
)

_PACKED_SCHEMA_B = "term string, salt int, term_bucket int, " \
    "docs_blob binary, tfs_blob binary, tfn_blob binary"
_PACKED_SCHEMA_B_POS = _PACKED_SCHEMA_B + ", pos_blob binary"


def _head_terms(fwd: DataFrame, n_docs: int, target_postings_per_salt: int) -> dict:
    """{term: n_salts} for the head terms of a forward table: terms
    whose estimated df exceeds ``target_postings_per_salt``. The df
    comes from a doc SAMPLE: salting only needs df *estimates* (any
    salt layout merges correctly), sampling keeps this scan
    ~constant-cost as the corpus grows, and the map-side combine makes
    the agg itself skew-immune. The map is tiny by construction."""
    frac = min(1.0, 100_000 / max(n_docs, 1))
    sampled = fwd.sample(fraction=frac, seed=42) if frac < 1.0 else fwd
    df_est = (
        sampled.select(F.explode("terms").alias("t"))
        .groupBy(F.col("t.term").alias("term"))
        .agg((F.count("*") / F.lit(frac)).alias("df_est"))
    )
    head = df_est.filter(F.col("df_est") > target_postings_per_salt).select(
        "term",
        F.ceil(F.col("df_est") / target_postings_per_salt).cast("int").alias("n_salts"),
    )
    return {r["term"]: int(r["n_salts"]) for r in head.collect()}


def _pack_forward(fwd: DataFrame, **kw) -> DataFrame:
    """Packed (term, salt, term_bucket, blobs) rows of a forward table,
    with a pos_blob when its terms carry positions (see
    _pack_forward_arrow; ``kw`` goes to the kernel). Coalesced to
    the session parallelism first: packing collapses a partition's
    postings to (term, salt) groups, so FEWER, larger pack tasks raise
    postings-per-blob toward |partition| / |vocab| (guide §2.2: fewer
    larger map tasks) while still feeding every core."""
    with_pos = "pos" in fwd.schema["terms"].dataType.elementType.names
    par = max(1, fwd.sparkSession.sparkContext.defaultParallelism)
    return fwd.select("doc_id", "doclen", "terms").coalesce(par).mapInArrow(
        lambda it: _pack_forward_arrow(it, **kw),
        schema=_PACKED_SCHEMA_B_POS if with_pos else _PACKED_SCHEMA_B,
    )


def _encode_packed(packed: DataFrame, block_size: int) -> DataFrame:
    """The (term, salt) repartition of packed rows, then PARTITION-wise
    encode (one Arrow call per partition, vectorized codec inside):
    one partial row per (term, salt) group."""
    with_pos = "pos_blob" in packed.columns
    shuffle_n = int(packed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return packed.repartition(shuffle_n, "term", "salt").mapInArrow(
        lambda it: _encode_packed_arrow(it, block_size=block_size),
        schema=PARTIAL_SCHEMA_POS if with_pos else PARTIAL_SCHEMA,
    )


def _ragged_take(values: "np.ndarray", lens: "np.ndarray", order: "np.ndarray"):
    """Runs of ``values`` (run i holds lens[i] consecutive elements)
    reordered so the result is run order[0], then order[1], ...
    Returns (values, offsets): offsets are the result's run starts
    plus the final end."""
    src = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=src[1:])
    lens_o = lens[order]
    dst = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens_o, out=dst[1:])
    idx = np.repeat(src[:-1][order] - dst[:-1], lens_o) + np.arange(dst[-1])
    return values[idx], dst


def _pack_forward_arrow(batches, avgdl: float, n_docs: int, head_map: dict,
                        term_buckets: int, shard_rng: int | None = None,
                        base: int = 0):
    """Pack kernel fed DIRECTLY by the forward table's nested rows
    (r6): exploding ~40 posting rows per doc JVM-side and converting
    every one of them through the Arrow boundary — row-at-a-time
    ArrowWriter conversion, not the shuffle itself — dominated the
    segments stage. Reading the forward rows moves the same leaf
    values as columnar array regions (no per-posting row exists
    anywhere), and the salt assignment plus the term_bucket
    derivation run at VOCABULARY cost in-kernel.

    Salt of a head term with n_salts > 1 is
    ``(doc_id - base) // ceil(n_docs / n_salts)``, else 0: ``base`` is
    the first doc id of the packed range (0 for a build, the old
    n_docs for an update batch of ``n_docs`` docs). ``shard_rng``
    instead splits EVERY term by the same doc range (the sharded
    layout: salt == shard). Both equal the former Spark expressions
    ``((doc_id - base) / range).cast("int")`` exactly (ceil and trunc
    agree for int inputs < 2^31; test-gated).

    Positional forward rows (``terms.pos``) add a ``pos_blob``: each
    posting's tf positions, int32, in the postings' order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        if batch.num_rows == 0:
            continue
        doc_ids = batch.column("doc_id").to_numpy().astype(np.int64, copy=False)
        dls = batch.column("doclen").to_numpy().astype(np.float64)
        terms_col = batch.column("terms")
        counts = pc.list_value_length(terms_col).to_numpy().astype(np.int64)
        flat = pc.list_flatten(terms_col)
        tfs_all = flat.field("tf").to_numpy().astype(np.int64)
        with_pos = flat.type.get_field_index("pos") >= 0
        d = pc.dictionary_encode(flat.field("term"))
        codes = d.indices.to_numpy().astype(np.int64)
        vocab = d.dictionary.to_pylist()
        nv = len(vocab)
        ns_vocab = np.fromiter(
            (head_map.get(t, 1) for t in vocab), dtype=np.int64, count=nv
        )
        rps_vocab = -(-n_docs // ns_vocab)
        tb_vocab = np.fromiter(
            (_term_bucket_py(t, term_buckets) for t in vocab),
            dtype=np.int64, count=nv,
        )
        docs_rep = np.repeat(doc_ids, counts)
        dls_rep = np.repeat(dls, counts)
        if shard_rng is not None:
            # sharded-layout derivation: every term splits by the SAME
            # doc range (salt == shard), identical to the old
            # (doc_id / rng) cast-int column
            salts = (docs_rep // shard_rng).astype(np.int64)
        else:
            salts = np.where(
                ns_vocab[codes] == 1, 0, (docs_rep - base) // rps_vocab[codes]
            ).astype(np.int64)
        tfn = tfs_all / (
            tfs_all + BM25_K1 * (1.0 - BM25_B + BM25_B * (dls_rep / avgdl))
        )
        if codes.size == 0:
            continue
        order = np.lexsort((docs_rep, salts, codes))
        tc, sa = codes[order], salts[order]
        docs_s, tfs_s, tfn_s = docs_rep[order], tfs_all[order], tfn[order]
        change = np.empty(tc.size, dtype=bool)
        change[0] = True
        change[1:] = (tc[1:] != tc[:-1]) | (sa[1:] != sa[:-1])
        starts = np.flatnonzero(change)
        bounds = np.append(starts, tc.size).astype(np.int64)
        # blob columns built from ONE data buffer + an offsets array
        # (a binary Arrow column IS offsets + contiguous bytes): no
        # per-group Python bytes objects — with a wide vocabulary the
        # group count approaches the posting count and a per-group
        # .tobytes() loop would dominate the kernel (guide §4.2).
        terms_arr = pc.take(d.dictionary, pa.array(tc[starts]))
        cols = [
            terms_arr.cast(pa.string()),
            pa.array(sa[starts].astype(np.int32), type=pa.int32()),
            pa.array(tb_vocab[tc[starts]].astype(np.int32), type=pa.int32()),
            _binary_from_fixed(docs_s, bounds, 8),
            _binary_from_fixed(tfs_s.astype(np.int32), bounds, 4),
            _binary_from_fixed(tfn_s, bounds, 8),
        ]
        names = ["term", "salt", "term_bucket", "docs_blob", "tfs_blob", "tfn_blob"]
        if with_pos:
            pos_all = pc.list_flatten(flat.field("pos")).to_numpy()
            pos_s, p_off = _ragged_take(
                pos_all.astype(np.int32, copy=False), tfs_all, order
            )
            cols.append(_binary_from_fixed(pos_s, p_off[bounds], 4))
            names.append("pos_blob")
        yield pa.RecordBatch.from_arrays(cols, names)


def _fixed_from_binary(arr, dtype, width: int):
    """Inverse of _binary_from_fixed: (flat numpy values, per-row
    element counts) from a binary Arrow array, via the offsets buffer
    — no per-row bytes objects. Works on sliced arrays (honors
    arr.offset)."""
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=dtype), np.empty(0, dtype=np.int64)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[arr.offset : arr.offset + n + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    flat = data[offsets[0] : offsets[-1]]
    if (offsets[0] % width) != 0:
        flat = flat.copy()
    values = flat.view(dtype)
    counts = (np.diff(offsets.astype(np.int64))) // width
    return values, counts


def _binary_from_fixed(values: "np.ndarray", bounds: "np.ndarray", width: int):
    """Arrow binary array over a fixed-width numpy array: one data
    buffer (the array's own bytes) + int32 offsets at element
    granularity x width. bounds = group starts + final end. Raises
    ValueError instead of letting an offset past 2 GiB wrap."""
    import pyarrow as pa

    if int(bounds[-1]) * width >= 2**31:
        raise ValueError(
            f"_binary_from_fixed: {int(bounds[-1]) * width} bytes exceed "
            "the int32 offsets of an Arrow binary array"
        )
    data = values.tobytes()
    offsets = (bounds * width).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(bounds) - 1,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
    )


def _encode_packed_arrow(batches, block_size: int):
    """Encode kernel over PACKED (term, salt) blob rows: unpack the
    binary arrays, flatten, lexsort — identical (term, salt, doc)
    multiset and order as the per-posting form, so the emitted partial
    rows are byte-identical — then the same vectorized grouped codec
    pass. Rows with a ``pos_blob`` carry each posting's tf positions
    through the same lexsort and encode per group with
    ``codec.encode_postings(..., positions=...)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = list(batches)
    if not parts:
        return
    tbl = pa.Table.from_batches(parts)
    if tbl.num_rows == 0:
        return
    dict_arr = pc.dictionary_encode(tbl.column("term").combine_chunks())
    row_tc = dict_arr.indices.to_numpy()
    terms_uniq = dict_arr.dictionary.to_pylist()
    row_salts = tbl.column("salt").to_numpy()
    # blob ingestion without per-row bytes objects (guide §4.2): a
    # binary column is one contiguous data buffer + offsets, so each
    # column unpacks with ONE copy + view
    docs, counts = _fixed_from_binary(
        tbl.column("docs_blob").combine_chunks(), np.int64, 8
    )
    tfs, _ = _fixed_from_binary(
        tbl.column("tfs_blob").combine_chunks(), np.int32, 4
    )
    tfs = tfs.astype(np.int64)
    tfn, _ = _fixed_from_binary(
        tbl.column("tfn_blob").combine_chunks(), np.float64, 8
    )
    terms_codes = np.repeat(row_tc, counts)
    salts = np.repeat(row_salts, counts)
    with_pos = "pos_blob" in tbl.column_names

    order = np.lexsort((docs, salts, terms_codes))
    if with_pos:
        pos, _ = _fixed_from_binary(
            tbl.column("pos_blob").combine_chunks(), np.int32, 4
        )
        pos, p_off = _ragged_take(pos, tfs, order)
    tc, sa, docs, tfs, tfn = (
        terms_codes[order], salts[order], docs[order], tfs[order], tfn[order]
    )
    change = np.empty(tc.size, dtype=bool)
    change[0] = True
    change[1:] = (tc[1:] != tc[:-1]) | (sa[1:] != sa[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], tc.size)
    if with_pos:
        encs = [
            codec.encode_postings(
                docs[s:e], tfs[s:e], tfn[s:e], block_size=block_size,
                positions=pos[p_off[s] : p_off[e]],
            )
            for s, e in zip(starts, ends)
        ]
    else:
        encs = codec.encode_postings_grouped(
            starts, ends, docs, tfs, tfn, block_size=block_size
        )
    yield from _emit_partial_batch(starts, encs, tc, sa, terms_uniq, with_pos)


def _emit_partial_batch(starts, encs, tc, sa, terms_uniq, with_pos):
    import pyarrow as pa

    cols: dict[str, list] = {c: [] for c in _PARTIAL_COLS_POS}
    for s, enc in zip(starts, encs):
        cols["term"].append(terms_uniq[tc[s]])
        cols["salt"].append(int(sa[s]))
        cols["df"].append(enc.count)
        cols["first_doc"].append(enc.first_doc)
        cols["doc_blob"].append(enc.doc_blob)
        cols["tf_blob"].append(enc.tf_blob)
        cols["block_n"].append(enc.block_n)
        cols["block_last_doc"].append(enc.block_last_doc)
        cols["block_doc_bytes"].append(enc.block_doc_bytes)
        cols["block_tf_bytes"].append(enc.block_tf_bytes)
        cols["block_max_tfnorm"].append(enc.block_max_tfnorm)
        cols["n_parts"].append(1)
        cols["bytes_written"].append(
            len(enc.doc_blob) + len(enc.tf_blob) + len(enc.pos_blob)
        )
        cols["pos_blob"].append(enc.pos_blob)
        cols["block_pos_bytes"].append(enc.block_pos_bytes)
    types = {
        "term": pa.string(), "salt": pa.int32(), "df": pa.int64(),
        "first_doc": pa.int64(), "doc_blob": pa.binary(),
        "tf_blob": pa.binary(), "block_n": pa.list_(pa.int32()),
        "block_last_doc": pa.list_(pa.int64()),
        "block_doc_bytes": pa.list_(pa.int32()),
        "block_tf_bytes": pa.list_(pa.int32()),
        "block_max_tfnorm": pa.list_(pa.float64()), "n_parts": pa.int32(),
        "bytes_written": pa.int64(), "pos_blob": pa.binary(),
        "block_pos_bytes": pa.list_(pa.int32()),
    }
    names = _PARTIAL_COLS_POS if with_pos else _PARTIAL_COLS
    yield pa.RecordBatch.from_arrays(
        [pa.array(cols[c], type=types[c]) for c in names], names
    )


def _encode_partition_arrow(batches, avgdl: float, block_size: int):
    """mapInArrow kernel (non-positional): encode every (term, salt)
    group in the partition. The posting columns go straight from the
    Arrow batches to numpy (no pandas materialization of the widest
    shuffle in the build) and the term column dictionary-encodes in C;
    group encoding is the vectorized whole-partition codec pass."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = list(batches)
    if not parts:  # empty shuffle partition (partitions > groups)
        return
    tbl = pa.Table.from_batches(parts)
    if tbl.num_rows == 0:
        return
    dict_arr = pc.dictionary_encode(tbl.column("term").combine_chunks())
    terms_codes = dict_arr.indices.to_numpy()
    terms_uniq = dict_arr.dictionary.to_pylist()
    salts = tbl.column("salt").to_numpy()
    docs = tbl.column("doc_id").to_numpy().astype(np.int64, copy=False)
    tfs = tbl.column("tf").to_numpy().astype(np.int64, copy=False)
    dls = tbl.column("doclen").to_numpy().astype(np.float64)
    tfn = tfs / (tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * (dls / avgdl)))

    order = np.lexsort((docs, salts, terms_codes))
    tc, sa, docs, tfs, tfn = (
        terms_codes[order], salts[order], docs[order], tfs[order], tfn[order]
    )
    change = np.empty(tc.size, dtype=bool)
    change[0] = True
    change[1:] = (tc[1:] != tc[:-1]) | (sa[1:] != sa[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], tc.size)
    encs = codec.encode_postings_grouped(
        starts, ends, docs, tfs, tfn, block_size=block_size
    )
    cols: dict[str, list] = {c: [] for c in _PARTIAL_COLS}
    for s, enc in zip(starts, encs):
        cols["term"].append(terms_uniq[tc[s]])
        cols["salt"].append(int(sa[s]))
        cols["df"].append(enc.count)
        cols["first_doc"].append(enc.first_doc)
        cols["doc_blob"].append(enc.doc_blob)
        cols["tf_blob"].append(enc.tf_blob)
        cols["block_n"].append(enc.block_n)
        cols["block_last_doc"].append(enc.block_last_doc)
        cols["block_doc_bytes"].append(enc.block_doc_bytes)
        cols["block_tf_bytes"].append(enc.block_tf_bytes)
        cols["block_max_tfnorm"].append(enc.block_max_tfnorm)
        cols["n_parts"].append(1)
        cols["bytes_written"].append(len(enc.doc_blob) + len(enc.tf_blob))
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(cols["term"], type=pa.string()),
            pa.array(cols["salt"], type=pa.int32()),
            pa.array(cols["df"], type=pa.int64()),
            pa.array(cols["first_doc"], type=pa.int64()),
            pa.array(cols["doc_blob"], type=pa.binary()),
            pa.array(cols["tf_blob"], type=pa.binary()),
            pa.array(cols["block_n"], type=pa.list_(pa.int32())),
            pa.array(cols["block_last_doc"], type=pa.list_(pa.int64())),
            pa.array(cols["block_doc_bytes"], type=pa.list_(pa.int32())),
            pa.array(cols["block_tf_bytes"], type=pa.list_(pa.int32())),
            pa.array(cols["block_max_tfnorm"], type=pa.list_(pa.float64())),
            pa.array(cols["n_parts"], type=pa.int32()),
            pa.array(cols["bytes_written"], type=pa.int64()),
        ],
        _PARTIAL_COLS,
    )


def _merge_partition(batches, term_buckets: int):
    """mapInPandas kernel: concat each term's doc-range-disjoint
    partials (ordered by first_doc). Input rows are compressed blobs —
    this shuffle + loop only ever touches encoded bytes."""
    parts = list(batches)
    if not parts:  # empty shuffle partition (partitions > groups)
        return
    pdf = pd.concat(parts, ignore_index=True)
    if pdf.empty:
        return
    pdf = pdf.sort_values(["term", "first_doc"], kind="stable")
    with_pos = "pos_blob" in pdf.columns
    # vectorized singleton fast path (r6): almost every term has ONE
    # partial (multi-part terms are only the salted head), and the
    # per-row iloc/to_dict pandas loop over tens of thousands of
    # singleton terms dominated this kernel. Row CONTENT is unchanged
    # (same passthrough + bytes normalization; output order is
    # restored by the writer's sortWithinPartitions("term")).
    dup = pdf["term"].duplicated(keep=False)
    singles = pdf[~dup]
    out_frames = []
    if len(singles):
        single_out = singles.drop(columns=["salt"]).copy()
        single_out["doc_blob"] = single_out["doc_blob"].map(bytes)
        single_out["tf_blob"] = single_out["tf_blob"].map(bytes)
        if with_pos:
            single_out["pos_blob"] = single_out["pos_blob"].map(
                lambda b: bytes(b or b"")
            )
            single_out["block_pos_bytes"] = single_out["block_pos_bytes"].map(
                lambda v: [] if v is None else v
            )
        single_out["term_bucket"] = [
            _term_bucket_py(str(t), term_buckets) for t in single_out["term"]
        ]
        out_frames.append(single_out)
    pdf = pdf[dup]
    rows = []
    for term, grp in pdf.groupby("term", sort=False):
        if len(grp) == 1:
            row = grp.iloc[0].to_dict()
            row.pop("salt", None)
            row["doc_blob"] = bytes(row["doc_blob"])
            row["tf_blob"] = bytes(row["tf_blob"])
            if with_pos:
                row["pos_blob"] = bytes(row.get("pos_blob") or b"")
                if row.get("block_pos_bytes") is None:
                    row["block_pos_bytes"] = []
        else:
            parts = [
                codec.EncodedPostings(
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
                        else None
                    ),
                )
                for r in grp.itertuples()
            ]
            row = _enc_to_row(
                str(term), codec.concat_encoded(parts), len(parts), with_pos=with_pos
            )
        row["term_bucket"] = _term_bucket_py(str(term), term_buckets)
        rows.append(row)
    if rows:
        out_frames.append(pd.DataFrame(rows))
    if not out_frames:
        return
    yield pd.concat(out_frames, ignore_index=True)


def _term_bucket_py(term: str, buckets: int) -> int:
    # stable, language-neutral bucket: first 8 bytes of the term's utf-8
    # sha-256 mod buckets (NOT xxhash: must be reproducible in Python
    # at query time without a JVM call)
    import hashlib

    h = hashlib.sha256(term.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") % buckets


def _url_bucket_expr(buckets: int):
    """JVM twin of _term_bucket_py applied to url: stored-field readers
    locate a url's bucket with _term_bucket_py, so every stored-field
    point-read test checks that the two agree."""
    return F.pmod(
        F.conv(F.substring(F.sha2(F.col("url"), 256), 1, 16), 16, 10).cast(
            "decimal(25,0)"
        ),
        F.lit(buckets),
    ).cast("int")


def _write_stored_fields(
    pages: DataFrame, stored_dir: str, *, use_extractor: bool,
    stored_buckets: int, mode: str = "overwrite", gen: int = 0,
) -> None:
    """Stored-field docstore: (url, body, <other page columns>) hash-
    bucketed by url and sorted by url within each bucket. Body is the
    extracted text when the extractor runs (what ES stores as _source
    body_text), else the input text column verbatim.

    ``_gen`` records the writing update's generation base (the index's
    n_docs at write time): a REPLACED url has one stored row per
    version, and readers serve the max-_gen row (ES `_id` overwrite —
    the newest _source wins)."""
    from job_searchengine_project_spark.functions.extract import extract_text

    body_col = (
        extract_text(F.col("html")) if use_extractor else F.col("text")
    ).alias("body")
    extras = [c for c in pages.columns if c not in ("url", "text", "html")]
    (
        pages.select("url", body_col, *extras)
        .withColumn("_gen", F.lit(gen).cast("long"))
        .withColumn("sbucket", _url_bucket_expr(stored_buckets))
        .repartition("sbucket")
        .sortWithinPartitions("url")
        .write.mode(mode)
        .partitionBy("sbucket")
        .parquet(stored_dir)
    )


def _write_doc_values(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cols: list[str],
    min_doc_id: int = 0,
) -> None:
    """Doc-values sidecars for filterable scalar columns (the ES
    BKD-tree / doc-values analog): per column, ``docvalues/<col>/``
    holds (doc_id, <col>) rows globally SORTED BY VALUE, so a range or
    term filter is a pushed parquet read whose row-group statistics
    prune to the matching value range — never a corpus scan. Kept out
    of the forward index (and its doc-id shuffle) on purpose; the
    (url-keyed) join here moves only tiny scalar columns.

    ``min_doc_id`` > 0 appends only the rows of a new update
    generation (each update adds one value-sorted file set per column
    — pruning is per-file, so generations stack like segments and a
    purging compaction can fold them)."""
    fwd = spark.read.parquet(os.path.join(out_dir, "forward")).select("doc_id", "url")
    if min_doc_id:
        fwd = fwd.filter(F.col("doc_id") >= min_doc_id)
    joined = fwd.join(pages.select("url", *cols), "url")
    for c in cols:
        (
            joined.select("doc_id", c)
            .orderBy(c)
            .write.mode("append" if min_doc_id else "overwrite")
            .parquet(os.path.join(out_dir, "docvalues", c))
        )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    analyzer: str = "morph",
    use_extractor: bool = False,
    block_size: int = codec.BLOCK_SIZE,
    target_postings_per_salt: int = 200_000,
    term_buckets: int = 64,
    resume: bool = False,
    checkpoint_groups: int = 1,
    store_fields: bool = True,
    stored_buckets: int = 64,
    with_positions: bool = False,
    doc_values: list[str] | None = None,
    _fail_after_groups: int | None = None,  # test-only fault injection
) -> BuildResult:
    os.makedirs(out_dir, exist_ok=True)
    params_fp = (
        f"analyzer={analyzer}|block={block_size}|buckets={term_buckets}"
        + ("|pos" if with_positions else "")
        + (f"|dv={','.join(sorted(doc_values))}" if doc_values else "")
    )
    stages_run, stages_skipped = [], []
    profile = os.environ.get("JSE_BUILD_PROFILE") == "1"
    _t = time.time()

    def _tick(label: str) -> None:
        nonlocal _t
        if profile:
            now = time.time()
            print(f"[build] {label}: {now - _t:.2f}s", flush=True)
            _t = now

    forward_dir = os.path.join(out_dir, "forward")
    segments_dir = os.path.join(out_dir, "segments")
    lineage_dir = os.path.join(out_dir, "lineage")
    stats_path = os.path.join(out_dir, "stats.json")

    # ---- stage "docs": analyze + persist forward index & docstore -------
    # ONE scan of the input computes both the content fingerprint
    # (count + order-independent xor of per-row hashes) and the
    # per-bucket counts the dense-id assignment needs. The per-row hash
    # covers url AND content (html when the extractor runs, else text):
    # a rebuild over changed text under unchanged urls must invalidate
    # the stage markers, or resume=True would serve a stale index.
    id_buckets = 256
    content_src = "html" if use_extractor else "text"
    bucket_rows = (
        pages.groupBy(
            F.pmod(F.xxhash64("url"), F.lit(id_buckets)).alias("_bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.expr(f"bit_xor(xxhash64(url, {content_src}))").alias("h"),
        )
        .collect()
    )
    n_input = sum(r["n"] for r in bucket_rows)
    h_input = 0
    for r in bucket_rows:
        h_input ^= r["h"]
    bucket_counts = {r["_bucket"]: r["n"] for r in bucket_rows}
    input_fp = f"{n_input}|{h_input}|{params_fp}"
    _tick("fingerprint+bucket-counts scan")

    if resume and _stage_done(out_dir, "docs", input_fp):
        stages_skipped.append("docs")
    else:
        docs = prepare_docs(
            pages, analyzer=analyzer, use_extractor=use_extractor,
            id_buckets=id_buckets, bucket_counts=bucket_counts,
            with_positions=with_positions,
        )
        docs.write.mode("overwrite").parquet(forward_dir)
        _tick("tokenize+ids+forward write")
        if store_fields:
            # stored-field docstore (ES _source parity, README.md:19-38):
            # kept OUT of the forward index on purpose — the doc-id
            # assignment shuffle must never carry body text (module
            # docstring of index/prepare.py). Instead the stored table
            # hash-buckets by url (sha256 twin of _term_bucket_py) and
            # sorts by url inside each bucket, so a k-row hit list
            # fetches fields with bucket partition pruning + url
            # row-group pruning, no join against the corpus.
            _write_stored_fields(
                pages, os.path.join(out_dir, "stored"),
                use_extractor=use_extractor, stored_buckets=stored_buckets,
            )
            _tick("stored fields write")
        if doc_values:
            _write_doc_values(spark, pages, out_dir, doc_values)
            _tick("doc-values write")
        fwd = spark.read.parquet(forward_dir)
        # one forward scan -> per-partition lineage AND global stats
        per_part = (
            fwd.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("doc_count"),
                F.lit(0).cast("long").alias("term_count"),
                F.sum("doclen").cast("long").alias("bytes_written"),
            )
            .collect()
        )
        _tick("stats+lineage scan")
        n_docs_ = int(sum(r["doc_count"] for r in per_part))
        total_tokens = int(sum(r["bytes_written"] for r in per_part))
        avgdl_ = total_tokens / max(n_docs_, 1)
        _write_stats_dict(
            stats_path,
            n_docs=n_docs_, avgdl=avgdl_, total_tokens=total_tokens,
            analyzer=analyzer, block_size=block_size,
            term_buckets=term_buckets, fingerprint=input_fp,
            store_fields=store_fields, stored_buckets=stored_buckets,
            positions=with_positions, use_extractor=use_extractor,
            doc_values=doc_values,
        )
        _append_lineage(
            spark, lineage_dir, stage="docs", build_fp=input_fp,
            rows=[r.asDict() for r in per_part],
        )
        _commit_stage(out_dir, "docs", input_fp, n_docs=n_docs_, avgdl=avgdl_)
        _tick("docs lineage+stats write")
        stages_run.append("docs")

    with open(stats_path) as f:
        stats = json.load(f)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]

    # ---- stage "segments": salted repartition-by-term encode + merge ----
    if resume and _stage_done(out_dir, "segments", input_fp):
        stages_skipped.append("segments")
    else:
        # bucket-level resume (the reference's per-txid claim
        # granularity, psql_create.psql:8-17): lineage rows record
        # which term_buckets are already committed for THIS
        # fingerprint; only the missing buckets are rebuilt, written
        # with dynamic partition overwrite.
        done_buckets: set[int] = set()
        if resume:
            lin_pd = _read_lineage(lineage_dir)
            if lin_pd is not None and "build_fp" in lin_pd.columns:
                sel = lin_pd[
                    (lin_pd["stage"] == "segments")
                    & (lin_pd["build_fp"] == input_fp)
                    & lin_pd["completed"]
                ]
                done_buckets = {int(x) for x in sel["partition_id"]}
        fwd = spark.read.parquet(forward_dir)
        _tick("df sample plan")
        head_map = _head_terms(fwd, n_docs, target_postings_per_salt)
        _tick("head collect")
        # postings packed straight off the forward table's nested rows:
        # no explode, no per-posting Arrow conversion, no broadcast salt
        # join (see _pack_forward_arrow)
        src_all = _pack_forward(
            fwd, avgdl=avgdl, n_docs=n_docs,
            head_map=head_map, term_buckets=term_buckets,
        )
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # buckets still to build, split into checkpoint groups: each
        # group is one Spark job committed with dynamic partition
        # overwrite + its lineage rows — kill between groups and a
        # resume rebuilds only the missing buckets
        todo = [b for b in range(term_buckets) if b not in done_buckets]
        if not done_buckets:
            # full (re)build: clear stale bucket dirs from any previous
            # fingerprint — dynamic overwrite only replaces buckets the
            # new data touches
            import shutil

            shutil.rmtree(segments_dir, ignore_errors=True)
        groups = [
            todo[g::checkpoint_groups] for g in range(min(checkpoint_groups, max(len(todo), 1)))
        ]
        groups = [g for g in groups if g]
        # with >1 checkpoint group, stage the packed postings ONCE
        # (partitioned by group) so each group's job reads only its
        # pruned slice — re-running the forward scan and pack per group
        # would multiply the heaviest pass by the group count (the
        # staged rows are ~20 B/posting blobs, not per-posting rows)
        staged_dir = os.path.join(out_dir, "_staged_postings")
        if len(groups) > 1:
            group_of = {b: gi for gi, bs in enumerate(groups) for b in bs}
            gmap = F.create_map(*[F.lit(x) for kv in sorted(group_of.items()) for x in kv])
            (
                src_all.withColumn("ckpt_group", gmap[F.col("term_bucket")])
                .filter(F.col("ckpt_group").isNotNull())
                .write.mode("overwrite")
                .partitionBy("ckpt_group")
                .parquet(staged_dir)
            )
            _tick("stage salted postings")
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            for gi, bucket_group in enumerate(groups):
                if len(groups) > 1:
                    sub = spark.read.parquet(staged_dir).filter(
                        F.col("ckpt_group") == gi
                    ).drop("ckpt_group")
                elif len(bucket_group) < term_buckets:
                    sub = src_all.filter(F.col("term_bucket").isin(bucket_group))
                else:
                    sub = src_all
                sub = sub.drop("term_bucket")
                # PACKED blob rows (~20 B/posting, a handful of rows
                # per term) shuffle by (term, salt) — per-posting rows
                # never exist anywhere in the pipeline (r6)
                partials = _encode_packed(sub, block_size)
                # merge shuffle moves only compressed blobs (the point
                # of salting-then-encoding); blocks concat directly
                segments = partials.repartition(shuffle_n, "term").mapInPandas(
                    lambda it: _merge_partition(it, term_buckets=term_buckets),
                    schema=SEGMENT_SCHEMA_POS if with_positions else SEGMENT_SCHEMA,
                )
                (
                    segments.repartition("term_bucket")
                    .sortWithinPartitions("term")
                    .write.mode("overwrite")
                    .partitionBy("term_bucket")
                    .parquet(segments_dir)
                )
                built = spark.read.parquet(segments_dir).filter(
                    F.col("term_bucket").isin(bucket_group)
                )
                per_bucket = built.groupBy(
                    F.col("term_bucket").alias("partition_id")
                ).agg(
                    F.sum("df").alias("doc_count"),
                    F.count("*").alias("term_count"),
                    F.sum("bytes_written").alias("bytes_written"),
                ).collect()
                _append_lineage(
                    spark, lineage_dir, stage="segments", build_fp=input_fp,
                    rows=[r.asDict() for r in per_bucket],
                )
                _tick(f"segments group {gi} ({len(bucket_group)} buckets)")
                if _fail_after_groups is not None and gi + 1 >= _fail_after_groups:
                    raise RuntimeError("injected kill between checkpoint groups")
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        if len(groups) > 1:
            import shutil

            shutil.rmtree(staged_dir, ignore_errors=True)
        # stage commit: totals from the lineage rows of this fingerprint,
        # deduped per bucket — lineage is append-only, so a second
        # non-resume build over identical input appends a second
        # (identical, same-fingerprint) row per bucket; max-per-bucket
        # keeps the totals exact instead of doubling them
        lin_pd = _read_lineage(lineage_dir)
        sel = lin_pd[
            (lin_pd["stage"] == "segments")
            & (lin_pd["build_fp"] == input_fp)
            & lin_pd["completed"]
        ]
        per_bucket_max = sel.groupby("partition_id")[["term_count", "doc_count"]].max()
        _commit_stage(
            out_dir, "segments", input_fp,
            n_terms=int(per_bucket_max["term_count"].sum()),
            total_postings=int(per_bucket_max["doc_count"].sum()),
        )
        _tick("segments lineage")
        stages_run.append("segments")

    with open(_marker_path(out_dir, "segments")) as f:
        seg_meta = json.load(f)
    return BuildResult(
        out_dir=out_dir,
        n_docs=n_docs,
        avgdl=avgdl,
        n_terms=seg_meta["n_terms"],
        total_postings=seg_meta["total_postings"],
        stages_run=stages_run,
        stages_skipped=stages_skipped,
    )


def _write_stats_dict(
    stats_path, *, n_docs, avgdl, total_tokens, analyzer, block_size,
    term_buckets, fingerprint, store_fields=False, stored_buckets=64,
    positions=False, use_extractor=False, n_purged=0, doc_values=None,
    last_purge_fp=None,
):
    stats = {
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        "total_tokens": int(total_tokens),
        "analyzer": analyzer,
        "block_size": block_size,
        "term_buckets": term_buckets,
        "k1": BM25_K1,
        "b": BM25_B,
        "fingerprint": fingerprint,
        "store_fields": bool(store_fields),
        "stored_buckets": int(stored_buckets),
        "positions": bool(positions),
        "use_extractor": bool(use_extractor),
        # docs physically removed by a purging compaction: idf N is
        # n_docs - n_purged (n_docs itself stays monotonic — it is the
        # doc-ID SPACE, the base for the next update's dense ids)
        "n_purged": int(n_purged),
        "doc_values": sorted(doc_values) if doc_values else [],
        # fingerprint of the tombstone set credited by the LAST purge:
        # a crash between the purge's stats commit and the tombstone
        # clear replays the purge, and this marker keeps the replay
        # from crediting the same tombstones to n_purged twice
        "last_purge_fp": last_purge_fp,
    }
    tmp = stats_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, stats_path)


_LINEAGE_ARROW_SCHEMA = None


def _lineage_schema():
    global _LINEAGE_ARROW_SCHEMA
    if _LINEAGE_ARROW_SCHEMA is None:
        import pyarrow as pa

        _LINEAGE_ARROW_SCHEMA = pa.schema(
            [
                ("partition_id", pa.int32()),
                ("doc_count", pa.int64()),
                ("term_count", pa.int64()),
                ("bytes_written", pa.int64()),
                ("stage", pa.string()),
                ("build_fp", pa.string()),
                ("content_hash", pa.string()),
                ("completed", pa.bool_()),
            ]
        )
    return _LINEAGE_ARROW_SCHEMA


def _append_lineage(spark, lineage_dir, stage: str, build_fp: str, rows) -> None:
    """Per-partition reconciliation metrics (reference: job.hadoop_event).

    The rows are a handful of already-collected aggregates, so they are
    written DRIVER-SIDE with pyarrow — launching a Spark job to persist
    ~32 rows costs 1-2s of serial wall-clock per build stage, which is
    pure Amdahl loss on a cluster (and measurably clips the N->4N
    scaling ratio on the bench)."""
    import hashlib
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    recs = {
        "partition_id": [], "doc_count": [], "term_count": [],
        "bytes_written": [], "stage": [], "build_fp": [],
        "content_hash": [], "completed": [],
    }
    for r in rows:
        pid, dc = int(r["partition_id"]), int(r["doc_count"])
        recs["partition_id"].append(pid)
        recs["doc_count"].append(dc)
        recs["term_count"].append(int(r["term_count"]))
        recs["bytes_written"].append(int(r["bytes_written"]))
        recs["stage"].append(stage)
        recs["build_fp"].append(build_fp)
        # same derivation as the former sha2(concat_ws('|', ...)) column
        recs["content_hash"].append(
            hashlib.sha256(f"{build_fp}|{stage}|{pid}|{dc}".encode()).hexdigest()
        )
        recs["completed"].append(True)
    os.makedirs(lineage_dir, exist_ok=True)
    tbl = pa.table(recs, schema=_lineage_schema())
    pq.write_table(tbl, os.path.join(lineage_dir, f"part-{uuid.uuid4().hex}.parquet"))


def _read_lineage(lineage_dir: str):
    """Driver-side lineage read (pandas) — rows number in the hundreds
    at most (buckets x stages x runs); None when absent/empty."""
    import pyarrow.dataset as pads

    if not os.path.isdir(lineage_dir):
        return None
    files = [
        os.path.join(lineage_dir, f)
        for f in os.listdir(lineage_dir)
        if f.endswith(".parquet")
    ]
    if not files:
        return None
    return pads.dataset(files, format="parquet").to_table().to_pandas()
