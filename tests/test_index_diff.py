"""tools/index_diff.py: identical trees pass, the first differing key
is reported."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

_TOOL = os.path.join(os.path.dirname(__file__), "..", "tools", "index_diff.py")


def _tool():
    spec = importlib.util.spec_from_file_location("index_diff", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _index(root, rows):
    """A minimal index dir: two term_bucket partitions + stats.json."""
    for bucket in (0, 1):
        part = os.path.join(root, "segments", f"term_bucket={bucket}")
        os.makedirs(part)
        sel = [r for r in rows if r[0] == bucket]
        pq.write_table(
            pa.table({
                "term": [r[1] for r in sel],
                "first_doc": pa.array([r[2] for r in sel], pa.int64()),
                "doc_blob": pa.array([r[3] for r in sel], pa.binary()),
            }),
            os.path.join(part, "part-0.parquet"),
        )
    with open(os.path.join(root, "stats.json"), "w") as f:
        json.dump({"n_docs": 9}, f)


def test_index_diff_reports_first_differing_key(tmp_path):
    tool = _tool()
    rows = [(0, "a", 0, b"x"), (0, "a", 5, b"y"), (1, "b", 1, b"z")]
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _index(a, rows)
    _index(b, list(reversed(rows)))  # row order inside files is ignored
    assert tool.main([a, b]) == 0

    shutil.rmtree(b)
    _index(b, [rows[0], (0, "a", 5, b"Y"), rows[2]])
    assert tool.diff_indexes(a, b) == (
        "segments/: key (0, 'a', 5): columns ['doc_blob'] differ"
    )
    assert tool.main([a, b]) == 1

    shutil.rmtree(b)
    _index(b, rows)
    with open(os.path.join(b, "stats.json"), "w") as f:
        json.dump({"n_docs": 10}, f)
    assert tool.diff_indexes(a, b) == "stats.json: key 'n_docs': 9 vs 10"
