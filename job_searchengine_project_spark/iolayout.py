"""Input-layout helpers: spread under-split scans across the cluster.

A parquet scan parallelizes at row-group granularity: a table written
as one file with one row group yields ONE non-empty scan task no
matter how many cores the session has, so any per-row-heavy
computation layered on the scan (regex families, shingle hashing,
hyperplane projections, token explodes) runs serially while the rest
of the cluster idles — the "input skew" case of the optimization
playbook (one unsplittable input unit; repartition immediately after
the read).

``read_spread`` counts the path's splittable units driver-side (local
parquet footers — microseconds) and round-robin repartitions to the
session's default parallelism ONLY when the scan cannot reach it on
its own. At real scale the input has orders of magnitude more row
groups than the cluster has cores and the helper is a no-op — the
repartition never becomes a hidden full-corpus shuffle.

Only output-order-insensitive pipelines should use it (everything in
this repo pins final ordering explicitly).
"""

from __future__ import annotations

import bisect
import glob
import os

from pyspark.sql import DataFrame, SparkSession


def scan_units(path: str) -> int:
    """Number of splittable scan units (row groups) under a local
    parquet file or directory. Returns a large number on any metadata
    hiccup so callers fail open (no repartition)."""
    import pyarrow.parquet as pq

    try:
        files = (
            glob.glob(os.path.join(path, "*.parquet"))
            if os.path.isdir(path)
            else [path]
        )
        return sum(pq.read_metadata(f).num_row_groups for f in files) or 1
    except Exception:
        return 1 << 30


def read_spread(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, round-robin repartitioned to the
    session's default parallelism when the file layout cannot feed
    that many scan tasks. The shuffle moves only the (small) under-
    split table once; the per-row work downstream then uses every
    core instead of one."""
    df = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    if scan_units(path) >= par:
        return df
    return df.repartition(par)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny driver-local result set as a LocalRelation.

    ``spark.createDataFrame(list, ddl)`` builds an RDD-backed plan
    whose every ``collect()`` pays a full one-task Spark job (~0.3 s
    of scheduling on this box) — the dominant cost of every
    driver-engine query's result materialization. Routing the same
    rows through a pandas frame with an EXPLICIT schema plans a
    ``LocalTableScan`` (Arrow conversion), whose collect is job-free.
    Values are identical (same schema coercion; exact ints/doubles
    pass through Arrow untouched). Falls back to the classic path for
    anything pandas/Arrow cannot represent."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    try:
        pdf = pd.DataFrame(
            [tuple(r) for r in rows], columns=[f.name for f in st.fields]
        )
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(rows, st)


class ParquetSnapshot:
    """Keyed point reads over one parquet directory, listed once.

    The partition directories (``partition=<value>/`` when
    ``partition`` names the hive partition column) are listed at first
    use; a partition's data files are listed and their footers cached
    the first time a read touches it, with each row group's min/max of
    the key column. A read then opens only the row groups whose key
    range can hold a requested value (one file open with the cached
    footer, ``use_threads=False``) and keeps the rows with
    ``pc.is_in`` — no dataset discovery and no threaded scanner per
    call, which cost ~2.5 ms per touched file against ~0.5 ms for the
    row-group read itself. Only footers are kept: no file handle
    outlives a read.

    The file set is a snapshot: files written after a partition was
    first read are not seen. An owner that must see them opens a new
    snapshot (a ``SearchEngine`` is opened anew after ``update_index``
    or ``compact_index``).

    Paths are driver-local filesystem paths: the reads use pyarrow's
    local file opener, not the Spark reader, so an index on HDFS or S3
    needs the Spark-side read paths instead.
    """

    def __init__(self, root: str, partition: str | None = None):
        self.root = root
        self.partition = partition
        self._dirs: dict[str | None, str] | None = None
        self._footers: dict[str | None, list] = {}  # part -> [(path, footer)]
        self._ranges: dict[tuple[str, str], list] = {}  # (key, path) -> [(rg, min, max)]

    def _files(self, part: str | None) -> list:
        if part not in self._footers:
            import pyarrow.parquet as pq

            d = self._dirs[part]
            # data files only: Spark's _SUCCESS markers and .crc side
            # files are skipped
            self._footers[part] = [
                (os.path.join(d, f), pq.read_metadata(os.path.join(d, f)))
                for f in (sorted(os.listdir(d)) if os.path.isdir(d) else [])
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        return self._footers[part]

    def _key_ranges(self, key: str, path: str, md) -> list:
        """[(row group, min, max)] of ``key`` in one file; min/max are
        None when the footer has no statistics for it."""
        if (key, path) not in self._ranges:
            col = next(j for j in range(md.num_columns) if md.schema.column(j).path == key)
            out = []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(col).statistics
                has = st is not None and st.has_min_max
                out.append((i, st.min, st.max) if has else (i, None, None))
            self._ranges[(key, path)] = out
        return self._ranges[(key, path)]

    def read(self, columns: list[str] | None = None, key: str | None = None, values=None, parts=None):
        """pyarrow Table of ``columns`` (every column when None): the rows
        whose ``key`` is in ``values`` (every row when ``key`` is None),
        from the partitions ``parts`` only when given. Rows keep
        partition, file, then row order."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if self._dirs is None:
            if self.partition is None:
                self._dirs = {None: self.root}
            else:
                prefix = self.partition + "="
                names = sorted(os.listdir(self.root)) if os.path.isdir(self.root) else []
                self._dirs = {
                    n[len(prefix):]: os.path.join(self.root, n)
                    for n in names
                    if n.startswith(prefix)
                }
        wanted = None if parts is None else {str(p) for p in parts}
        read_cols = columns
        if key is not None:
            want = sorted(set(values))
            if columns is not None and key not in columns:
                read_cols = [*columns, key]
        tables = []
        for part in self._dirs:
            if wanted is not None and part not in wanted:
                continue
            for path, md in self._files(part):
                rgs = range(md.num_row_groups)
                if key is not None:
                    rgs = [
                        i for i, lo, hi in self._key_ranges(key, path, md)
                        if lo is None
                        or bisect.bisect_left(want, lo) < bisect.bisect_right(want, hi)
                    ]
                if rgs:
                    with pq.ParquetFile(path, metadata=md) as pf:
                        tables.append(
                            pf.read_row_groups(rgs, columns=read_cols, use_threads=False)
                        )
        if tables:
            tbl = pa.concat_tables(tables, promote_options="default")
            if key is not None:
                vals = pa.array(want, type=tbl.schema.field(key).type)
                tbl = tbl.filter(pc.is_in(tbl[key], value_set=vals))
            return tbl if columns is None else tbl.select(columns)
        # nothing matched: an empty table of the directory's schema
        for part in self._dirs:
            for _path, md in self._files(part):
                tbl = md.schema.to_arrow_schema().empty_table()
                return tbl if columns is None else tbl.select(columns)
        return pa.table({c: pa.array([], pa.null()) for c in columns or []})
