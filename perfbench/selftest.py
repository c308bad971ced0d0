"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Runs every workload twice in its own process — untraced and traced —
with inputs shrunk about a hundredfold and a two-second window, and
checks that:

  * outputs are correct and nothing failed;
  * the untraced run emits exactly the end-to-end metrics of
    BENCHMARK.json and the traced run exactly its per-layer metrics,
    each with its declared unit, none negative, no end-to-end metric
    zero;
  * every span's parent exists, shares its request id and encloses it,
    and every span's self time is >= 0.

Exits 0 when every check passes. Takes about two minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("broker_olap", "segment_index")


def shrink() -> None:
    """Tiny inputs; a tail percentile on a handful of samples."""
    import broker_olap
    import data
    import segment_index
    import stats

    data.N_ORDERS, data.N_LINEITEM, data.N_EVENTS = 1_500, 6_000, 1_000
    segment_index.ROWS = 2_000
    broker_olap.WARM_SETUPS = segment_index.WARM_SETUPS = 2
    stats.MIN_BEYOND_TAIL = 1


def span_problems(tracer) -> list[str]:
    import tracing

    by_id = {s.sid: s for s in tracer.spans}
    out = []
    for s in tracer.spans:
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            out.append(f"{s.name}: parent {s.parent} missing")
        elif p.rid != s.rid:
            out.append(f"{s.name}: request id {s.rid} differs from its parent's {p.rid}")
        elif s.start < p.start or s.end > p.end:
            out.append(f"{s.name}: not enclosed by its parent {p.name}")
    for sid, t in tracing.self_times(tracer.spans).items():
        if t < 0:
            out.append(f"{by_id[sid].name}: negative self time {t}")
    if not any(s.parent is not None for s in tracer.spans):
        out.append("no nested spans recorded")
    return out


def child(workload: str, trace: bool) -> None:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    shrink()
    import run

    result, diagnostics, tracer = run.measure(workload, 7, 2.0, trace)
    problems = span_problems(tracer) if tracer is not None else []
    print(json.dumps({"result": result, "diagnostics": diagnostics, "span_problems": problems}))


def check(out: dict, declared: dict, trace: bool) -> list[str]:
    res = out["result"]
    errs = list(out["span_problems"])
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errs.append(f"not correct: {out['diagnostics']['checks_failed']}")
    want = set(declared)
    got = set(res["metrics"])
    if want - got:
        errs.append(f"missing metrics {sorted(want - got)}")
    if got - want:
        errs.append(f"unexpected metrics {sorted(got - want)}")
    for name, m in res["metrics"].items():
        if declared.get(name) != m["unit"]:
            errs.append(f"{name}: unit {m['unit']!r} not declared as such in BENCHMARK.json")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            errs.append(f"{name}: value {m['value']!r} is not a number")
        elif m["value"] < 0:
            errs.append(f"{name}: negative value {m['value']!r}")
        elif m["value"] == 0 and not trace:
            # a per-layer metric of a layer the workload does not call
            # is a true zero; an end-to-end metric never is
            errs.append(f"{name}: zero value")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures = 0
    for workload in WORKLOADS:
        for trace in (False, True):
            proc = subprocess.run(
                [sys.executable, __file__, "--child", workload, str(int(trace))],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            if proc.returncode != 0:
                errs = [f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}"]
            else:
                out = json.loads(proc.stdout.strip().splitlines()[-1])
                errs = check(out, layer_units if trace else e2e_units, trace)
            label = f"{workload} {'traced' if trace else 'untraced'}"
            print(f"{'FAIL' if errs else 'ok  '} {label}")
            for e in errs:
                print(f"     {e}")
            failures += bool(errs)
    return 1 if failures else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3] == "1")
    else:
        sys.exit(main())
