"""Run-to-run spread of saved benchmark results.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds the standard output of one run (its last line is the
result object). Files are grouped by the `workload` named in their
diagnostics line. For each metric the tool prints the median over the
runs and the distance between the first and third quartile as a share
of that median — the figure compared against each metric's bound in
BENCHMARK.json.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[str, dict] | None:
    """(workload, result object), or None for a run that printed none."""
    with open(path) as f:
        lines = [json.loads(line) for line in f if line.startswith("{")]
    if len(lines) < 2 or "diagnostics" not in lines[-2]:
        return None
    return lines[-2]["diagnostics"]["workload"], lines[-1]


def spreads(results: list[dict]) -> dict[str, tuple[float, float, int]]:
    values: dict[str, list[float]] = {}
    for res in results:
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _q2, q3 = statistics.quantiles(xs, n=4)
            out[name] = (med, (q3 - q1) / abs(med), len(xs))
    return out


def main(paths: list[str]) -> int:
    with open("BENCHMARK.json") as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    groups: dict[str, list[dict]] = {}
    for p in paths:
        loaded = load(p)
        if loaded is None:
            print(f"{p}: no result", file=sys.stderr)
            continue
        groups.setdefault(loaded[0], []).append(loaded[1])
    for workload, results in sorted(groups.items()):
        bad = sum(1 for r in results if not r["correct"] or r["failed"])
        print(f"{workload}: {len(results)} runs, {bad} with failures")
        for name, (med, iqr, n) in sorted(spreads(results).items()):
            bound = bounds.get(name)
            flag = "" if bound is None else f"  bound {bound:.2f}  {'ok' if iqr < bound / 3 else 'WIDE'}"
            print(f"  {name:28s} median {med:12.4f}  iqr/median {iqr:6.3f}  n={n}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
