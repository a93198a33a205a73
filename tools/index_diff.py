"""Compare two index directories as tables.

Usage:  python tools/index_diff.py A B

Reads each table of both index dirs with pyarrow (hive partition
columns included), sorts it by its key and compares it row by row:

* ``segments/``    by (term_bucket, term, first_doc)
* ``shards/``      by (shard, term)
* ``shard_norms/`` by (shard, doc_id)
* ``forward/``     by doc_id
* ``stats.json``   as a JSON object

A table absent from both dirs is skipped. Prints the first difference
and exits 1, or prints ``identical`` and exits 0. File names, file
counts and row order inside files are not compared: two builds that
write the same rows are the same index.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.dataset as pads

TABLES = (
    ("segments", ("term_bucket", "term", "first_doc")),
    ("shards", ("shard", "term")),
    ("shard_norms", ("shard", "doc_id")),
    ("forward", ("doc_id",)),
)
_CHUNK = 4096


def read_table(index_dir: str, sub: str, keys):
    """The table under ``index_dir/sub`` sorted by ``keys`` with its
    columns in name order, or None when the directory is absent."""
    path = os.path.join(index_dir, sub)
    if not os.path.isdir(path):
        return None
    tbl = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    tbl = tbl.select(sorted(tbl.column_names))
    return tbl.sort_by([(k, "ascending") for k in keys])


def first_diff(a, b, keys) -> str | None:
    """Description of the first difference between two sorted tables."""
    if not a.schema.equals(b.schema):
        return f"schema differs:\n{a.schema}\nvs\n{b.schema}"
    n = min(a.num_rows, b.num_rows)
    for off in range(0, n, _CHUNK):
        ca, cb = a.slice(off, _CHUNK), b.slice(off, _CHUNK)
        if ca.equals(cb):
            continue
        for ra, rb in zip(ca.to_pylist(), cb.to_pylist()):
            if ra != rb:
                cols = [c for c in a.column_names if ra[c] != rb[c]]
                return f"key {tuple(ra[k] for k in keys)}: columns {cols} differ"
    if a.num_rows != b.num_rows:
        return f"row count {a.num_rows} vs {b.num_rows}"
    return None


def diff_indexes(dir_a: str, dir_b: str) -> str | None:
    """First difference between two index dirs, or None."""
    for sub, keys in TABLES:
        ta, tb = read_table(dir_a, sub, keys), read_table(dir_b, sub, keys)
        if ta is None and tb is None:
            continue
        if ta is None or tb is None:
            return f"{sub}/: present in only one index"
        d = first_diff(ta, tb, keys)
        if d is not None:
            return f"{sub}/: {d}"
    stats = []
    for d in (dir_a, dir_b):
        with open(os.path.join(d, "stats.json")) as f:
            stats.append(json.load(f))
    for k in sorted(set(stats[0]) | set(stats[1])):
        if stats[0].get(k) != stats[1].get(k):
            return f"stats.json: key {k!r}: {stats[0].get(k)!r} vs {stats[1].get(k)!r}"
    return None


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    d = diff_indexes(*argv)
    print("identical" if d is None else d)
    return 0 if d is None else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
