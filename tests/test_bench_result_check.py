"""tools/bench_result_check.py on synthetic perfbench result lines: a
complete line passes; a missing, non-finite or malformed one fails and
is named."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_ROOT = os.path.join(os.path.dirname(__file__), "..")
_TOOL = os.path.join(_ROOT, "tools", "bench_result_check.py")


def _tool():
    spec = importlib.util.spec_from_file_location("bench_result_check", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _listed(mode: str) -> list[str]:
    with open(os.path.join(_ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[mode]]


def _saved(tmp_path, metrics: dict, raw: str | None = None) -> str:
    """A saved run stdout: the detail line, then the result line."""
    result = {"correct": True, "attempted": 3, "failed": 0, "metrics": metrics}
    path = tmp_path / "run.out"
    path.write_text(
        json.dumps({"detail": {"x": 1}}) + "\n" + (raw or json.dumps(result)) + "\n\n"
    )
    return str(path)


def _full(mode: str) -> dict:
    return {n: {"value": 1.5, "unit": "s"} for n in _listed(mode)}


@pytest.mark.parametrize("mode", ["end_to_end", "per_layer"])
def test_complete_line_passes(tmp_path, capsys, mode):
    assert _tool().main([_saved(tmp_path, _full(mode)), "--mode", mode]) == 0
    assert capsys.readouterr().out.startswith(f"ok: {len(_listed(mode))} {mode}")


def test_missing_and_non_finite_metrics_are_all_named(tmp_path, capsys):
    metrics = _full("per_layer")
    del metrics["wand.topk_ms"]
    del metrics["engine.dense_share"]
    metrics["engine.search_ms"]["value"] = None
    metrics["codec.decode_ms"]["value"] = "fast"
    metrics["engine.total_ms"]["value"] = 7.25
    # a literal too large for a double parses as inf
    line = json.dumps({"metrics": metrics}).replace("7.25", "1e999")
    assert _tool().main([_saved(tmp_path, {}, raw=line), "--mode", "per_layer"]) == 1
    out = capsys.readouterr().out
    for name in (
        "wand.topk_ms", "engine.dense_share", "engine.search_ms",
        "codec.decode_ms", "engine.total_ms",
    ):
        assert name in out
    assert f"5 of {len(_listed('per_layer'))} per_layer metrics" in out


@pytest.mark.parametrize("constant", ["NaN", "Infinity", "-Infinity"])
def test_non_finite_json_constants_are_rejected(tmp_path, capsys, constant):
    line = json.dumps({"metrics": _full("end_to_end")}).replace("1.5", constant, 1)
    assert _tool().main([_saved(tmp_path, {}, raw=line), "--mode", "end_to_end"]) == 1
    assert "malformed" in capsys.readouterr().out


@pytest.mark.parametrize("raw", ["", "not json", '{"correct": true}', "[1, 2]"])
def test_malformed_result_lines_fail(tmp_path, capsys, raw):
    path = tmp_path / "run.out"
    path.write_text(raw)
    assert _tool().main([str(path), "--mode", "end_to_end"]) == 1
    assert "malformed" in capsys.readouterr().out


def test_only_the_last_line_counts(tmp_path):
    good = json.dumps({"metrics": _full("end_to_end")})
    path = tmp_path / "run.out"
    path.write_text(good + "\n" + json.dumps({"metrics": {}}) + "\n")
    assert _tool().main([str(path), "--mode", "end_to_end"]) == 1
