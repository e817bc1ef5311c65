"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the records ``run.py`` writes to ``.perfbench_out/``
(one JSON file per run).  For every workload and metric it prints the
median of each set and their ratio; an end-to-end metric whose new
median is worse than the base by more than its ``BENCHMARK.json`` bound
is marked ``WORSE``.

It refuses (exit 2) to compare records that lack a run-health record or
whose health records differ in core count or in the PySpark, pandas or
pyarrow version, within a set or between the two: a figure taken at 32
cores says nothing about a 4-core run.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())
MUST_MATCH = ("nproc", "pyspark", "pandas", "pyarrow")


def load(d: Path) -> list[dict]:
    return [json.loads(p.read_text()) for p in sorted(d.glob("*.json"))]


def health_key(rec: dict, where: str) -> tuple:
    h = rec.get("health")
    if not isinstance(h, dict) or any(k not in h for k in MUST_MATCH):
        print(f"refusing to compare: a record in {where} has no run-health record", file=sys.stderr)
        raise SystemExit(2)
    return tuple(h[k] for k in MUST_MATCH)


def medians(recs: list[dict]) -> dict[tuple[str, str], float]:
    vals: dict[tuple[str, str], list[float]] = {}
    for r in recs:
        for name, m in r["metrics"].items():
            vals.setdefault((r["workload"], name), []).append(m["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(Path(a)) for a in argv]
    keys = {health_key(r, a) for a, recs in zip(argv, sets) for r in recs}
    if not all(sets):
        print("refusing to compare: a set has no records", file=sys.stderr)
        return 2
    if len(keys) != 1:
        print(f"refusing to compare: run-health differs ({', '.join(MUST_MATCH)}): "
              f"{sorted(keys)}", file=sys.stderr)
        return 2
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    base, new = (medians(s) for s in sets)
    for key in sorted(base.keys() & new.keys()):
        b, n = base[key], new[key]
        ratio = n / b if b else float("nan")
        verdict = ""
        if key[1] in e2e and b:
            m = e2e[key[1]]
            worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
            verdict = "WORSE" if worse > m["bound"] else "ok"
        print(f"{key[0]:20s} {key[1]:32s} {b:12.4g} {n:12.4g} {ratio:8.3f} {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
