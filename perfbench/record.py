"""BENCHMARK.json's metric lists, the result line, and run records.

A run record is the JSON file a run writes under ``.perfbench_work/records/``.
Records are compared only when they were taken with the same workload, size,
mode and core count; anything else raises rather than printing a delta.

    python3 perfbench/record.py --base A1.json A2.json --new B1.json B2.json

prints, per metric, the median of each side and the new/base ratio.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

_SAME = ("workload", "n_files", "trace", "nproc")


def load_spec(path: str) -> dict:
    with open(path) as f:
        spec = json.load(f)
    for key in ("end_to_end", "per_layer"):
        if not isinstance(spec.get(key), list) or not all(
                isinstance(m, dict) and {"name", "unit"} <= m.keys()
                for m in spec[key]):
            raise ValueError(f"{path}: {key!r} must list {{name, unit}} objects")
    return spec


def metrics(declared: list[dict], values: dict) -> dict:
    """The result line's metrics: every declared name, with its unit.
    Raises unless the values cover exactly the declared names."""
    names = {m["name"] for m in declared}
    if set(values) != names:
        raise ValueError(
            f"undeclared metrics {sorted(set(values) - names)}, "
            f"missing metrics {sorted(names - set(values))}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared}


def load_record(text: str) -> dict:
    """Parse one run record; raise ValueError on anything malformed."""
    try:
        rec = json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(f"run record is not JSON: {e}") from None
    if not isinstance(rec, dict):
        raise ValueError(f"run record is {type(rec).__name__}, not an object")
    missing = [k for k in (*_SAME, "seed", "result") if k not in rec]
    if missing:
        raise ValueError(f"run record lacks {missing}")
    res = rec["result"]
    if not isinstance(res, dict) or not isinstance(res.get("metrics"), dict) \
            or not res["metrics"]:
        raise ValueError("run record has no metrics")
    for name, m in res["metrics"].items():
        if not isinstance(m, dict) or not isinstance(
                m.get("value"), (int, float)) or "unit" not in m:
            raise ValueError(f"run record metric {name!r} is malformed: {m!r}")
    return rec


def check_comparable(records: list[dict]) -> None:
    """Raise unless every record shares workload, size, mode and nproc."""
    for key in _SAME:
        seen = {r[key] for r in records}
        if len(seen) > 1:
            raise ValueError(f"records differ in {key}: {sorted(seen)}")


def compare(base: list[dict], new: list[dict]) -> dict:
    """metric -> (base median, new median, new / base)."""
    check_comparable(base + new)
    out = {}
    for name in base[0]["result"]["metrics"]:
        b = statistics.median(r["result"]["metrics"][name]["value"] for r in base)
        n = statistics.median(r["result"]["metrics"][name]["value"] for r in new)
        out[name] = (b, n, n / b if b else float("nan"))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Compare two sets of run records.")
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)

    def read(paths):
        out = []
        for p in paths:
            with open(p) as f:
                out.append(load_record(f.read()))
        return out

    for name, (b, n, ratio) in compare(read(args.base), read(args.new)).items():
        print(f"{name:48s} {b:14.6g} {n:14.6g} {ratio:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
