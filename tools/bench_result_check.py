"""Check a saved perfbench result line against BENCHMARK.json.

Usage:  python tools/bench_result_check.py FILE --mode {end_to_end,per_layer}

FILE is the saved stdout of one ``perfbench/run.py`` run; its last
non-empty line is the result line. That line is
parsed strictly: ``NaN``, ``Infinity`` and ``-Infinity`` are rejected,
as is anything but a JSON object with a ``metrics`` object. Every
metric that BENCHMARK.json lists under ``--mode`` (``end_to_end`` for
``--trace 0`` runs, ``per_layer`` for ``--trace 1`` runs) must be
present with a finite numeric ``value``.

Prints ``ok: N <mode> metrics`` and exits 0, or names every missing or
non-finite metric and exits 1. Reads nothing but FILE and the
BENCHMARK.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

_BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def _reject_constant(name: str):
    raise ValueError(f"non-finite constant {name}")


def result_line(text: str) -> dict:
    """The last non-empty line of ``text`` as a JSON object; raises
    ValueError when it is absent, not strict JSON or not an object with
    a ``metrics`` object."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no result line")
    try:
        obj = json.loads(lines[-1], parse_constant=_reject_constant)
    except json.JSONDecodeError as e:
        raise ValueError(f"result line is not JSON: {e}") from None
    if not isinstance(obj, dict) or not isinstance(obj.get("metrics"), dict):
        raise ValueError("result line has no metrics object")
    return obj


def problems(result: dict, listed: list[str]) -> list[str]:
    """One message per listed metric that ``result`` lacks or gives a
    non-finite or non-numeric value for."""
    out = []
    metrics = result["metrics"]
    for name in listed:
        entry = metrics.get(name)
        value = entry.get("value") if isinstance(entry, dict) else None
        if entry is None:
            out.append(f"{name}: missing")
        elif isinstance(value, bool) or not isinstance(value, (int, float)):
            out.append(f"{name}: value {value!r} is not a number")
        elif not math.isfinite(value):
            out.append(f"{name}: value {value!r} is not finite")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("file")
    ap.add_argument("--mode", required=True, choices=("end_to_end", "per_layer"))
    args = ap.parse_args(argv)
    with open(_BENCHMARK) as f:
        listed = [m["name"] for m in json.load(f)[args.mode]]
    with open(args.file) as f:
        text = f.read()
    try:
        result = result_line(text)
    except ValueError as e:
        print(f"malformed: {e}")
        return 1
    bad = problems(result, listed)
    for msg in bad:
        print(msg)
    if bad:
        print(f"{len(bad)} of {len(listed)} {args.mode} metrics missing or not finite")
        return 1
    print(f"ok: {len(listed)} {args.mode} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
