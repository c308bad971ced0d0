"""Benchmark entry point.

    python3 perfbench/run.py --workload broker_olap --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Each invocation runs
one workload in this fresh process: it generates the inputs from
--seed, sets the program up once to start the JVM and then several
times more (their median reported as setup_s), warms every query
template once, measures for --seconds, checks every output, and
prints one JSON object as the last line of
standard output. With --trace 0 that object holds the end-to-end
metrics and the program runs unwrapped; with --trace 1 it holds the
per-layer metrics computed from spans recorded around the program's
public functions. A diagnostics line (host steal, load average, sample
counts) precedes it. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("broker_olap", "segment_index")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_engine(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for
    every one of them to exit."""
    import procstat

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_pid = proc.pid if proc is not None else None
    workers = procstat.descendants(jvm_pid) if jvm_pid else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still running: force it
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def measure(workload: str, seed: int, seconds: float, trace: bool):
    """Run one workload; return (result object, diagnostics, tracer)."""
    import harness
    import procstat

    run = harness.Run(
        root=ROOT,
        work=os.path.join(ROOT, ".perfbench_work"),
        seed=seed,
        seconds=seconds,
    )
    module = __import__(workload)
    harness.prepare_process_env(run, module.SPARK_CPUS)
    if trace:
        import layers
        import tracing

        run.tracer = tracing.Tracer()
        layers.install(run.tracer)
    calib0 = procstat.calibration_ms()
    started = time.perf_counter()
    host0 = procstat.cpu_jiffies()
    res = None
    try:
        res = module.run(run)
    finally:
        if res is not None:
            stop_engine(res["spark"])
        if run.tracer is not None:
            run.tracer.restore()
        shutil.rmtree(run.work, ignore_errors=True)
    host1 = procstat.cpu_jiffies()
    diagnostics = {
        "workload": workload,
        "seed": seed,
        "cpu_steal_pct": round(procstat.steal_pct(host0, host1), 3),
        "window_cpu_steal_pct": round(res["window"]["cpu_steal_pct"], 3),
        "loadavg": procstat.loadavg(),
        "host_loop_ms": [round(calib0, 2), round(procstat.calibration_ms(), 2)],
        "samples": res["samples"],
        "setup_cold_s": round(res["cold_setup_s"], 3),
        "setup_warm_s": [round(t, 3) for t in res["setup_times"]],
        "window_s": round(res["window"]["wall_s"], 3),
        "total_s": round(time.perf_counter() - started, 3),
        "checks_failed": res["checks_failed"],
        **res.get("extra", {}),
    }
    if trace:
        # per-layer units are declared once, in BENCHMARK.json
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(res["layers"].items())}
    else:
        metrics = res["e2e"]
    result = {
        "correct": not res["checks_failed"] and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    return result, diagnostics, run.tracer


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import hurricanedb_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    result, diagnostics, _tracer = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
