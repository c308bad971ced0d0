"""Which program functions the traced run wraps, and the per-layer
figures computed from the spans they record.

Span names are `<layer>.<operation>`; the layer names follow the
program's packages (session, sql, catalog, server, segment).

Every workload reports every per-layer metric. A layer the workload
does not call reads a true zero; such metrics are shares, ratios or
counts rather than times, so no time reads the same zero on every run.
"""

from __future__ import annotations

import os

import stats
import tracing

SEGMENT_READERS = ("segment.read", "segment.read_allowlist", "segment.star_tree")
INDEX_SPANS = {"json": "segment.json_match", "text": "segment.text_match", "startree": "segment.star_tree"}




def _segments_arg(args, kwargs):
    return {"segments": len(args[1])}


def install(tracer: tracing.Tracer) -> None:
    """Wrap each program entry point the benchmark reports on."""
    from hurricanedb_spark import session
    from hurricanedb_spark.catalog import tables
    from hurricanedb_spark.sources import json_index, native_text_index, startree_v2
    from hurricanedb_spark.sources import pinot_segment as ps
    from hurricanedb_spark.sql import dialect, server

    ins = tracer.instrument
    ins(session, "get_spark", "session.get_spark")
    ins(dialect.HurricaneSQL, "__init__", "sql.init")
    ins(dialect.HurricaneSQL, "sql", "sql.plan")
    ins(dialect.HurricaneSQL, "register_segment_table", "sql.register_segment_table")
    # HurricaneSQL.__init__ calls the name it imported into the dialect
    ins(dialect, "register_views", "catalog.register_views")
    ins(tables, "register_views", "catalog.register_views")
    ins(tables, "load_table", "catalog.load_table")
    ins(server, "execute_sql", "server.execute_sql")
    ins(ps, "export_segments", "segment.export")
    ins(ps, "read_segments", "segment.read", _segments_arg)
    ins(ps, "read_segments_allowlist", "segment.read_allowlist", _segments_arg)
    ins(json_index, "read_segments_json_match", "segment.json_match")
    ins(native_text_index, "read_segments_text_match", "segment.text_match")
    ins(startree_v2, "read_segments_star_tree", "segment.star_tree", _segments_arg)


def summary(spans: list[tracing.Span], outcomes, win: dict, store: dict) -> dict[str, float]:
    """Every per-layer metric of a traced run. `win` holds the window's
    engine counters (harness.window_counters); `store` the workload's
    index and stored bytes per user byte (zero without a store)."""
    cpu = win["py_cpu_ms_per_query"] + win["jvm_cpu_ms_per_query"] + win["worker_cpu_ms_per_query"]
    return {
        **setup_layers(spans),
        **request_layers(spans, outcomes),
        "spark.jobs_per_query": win["jobs_per_query"],
        "spark.tasks_per_query": win["tasks_per_query"],
        "jvm.gc_ms_per_query": win["gc_ms_per_query"],
        "jvm.cpu_ms_per_query": win["jvm_cpu_ms_per_query"],
        "py.cpu_ms_per_query": win["py_cpu_ms_per_query"],
        "pyworker.cpu_share": win["worker_cpu_ms_per_query"] / cpu if cpu else 0.0,
        "segment.index_bytes_per_user_byte": store.get("index", 0.0),
        "segment.stored_bytes_per_user_byte": store.get("stored", 0.0),
    }


def _outermost(group: list[tracing.Span], name: str) -> float:
    """Seconds in spans called `name`, not counting one nested in
    another (register_views is wrapped twice: module and import site)."""
    ids = {s.sid for s in group if s.name == name}
    return sum(s.dur for s in group if s.name == name and s.parent not in ids)


def setup_layers(spans: list[tracing.Span]) -> dict[str, float]:
    """Median over the warm set-ups of each set-up step: seconds for the
    steps every workload runs, the share of the set-up for the rest.
    The JVM-starting set-up-0 is left out, as it is from setup_s."""
    per: dict[str, list[float]] = {}
    for rid, group in tracing.by_request(spans).items():
        if not rid.startswith("setup-") or rid == "setup-0":
            continue
        whole = _outermost(group, "setup")
        per.setdefault("session.start_s", []).append(_outermost(group, "session.get_spark"))
        per.setdefault("sql.init_s", []).append(_outermost(group, "sql.init"))
        per.setdefault("catalog.register_views_share", []).append(
            _outermost(group, "catalog.register_views") / whole)
        per.setdefault("segment.build_share", []).append(_outermost(group, "segment.export") / whole)
    return {k: stats.median(v) for k, v in per.items()}


def request_layers(spans: list[tracing.Span], outcomes) -> dict[str, float]:
    """Front end, broker and segment-reader figures over the requests."""
    groups = tracing.by_request(spans)
    selft = tracing.self_times(spans)
    plan, execs, http_ms = [], [], []
    total = plan_total = seg_total = 0.0
    nbytes = segments = eligible = hits = 0
    ok = [o for o in outcomes if o.ok]
    for o in ok:
        g = groups.get(o.rid, [])
        client = _outermost(g, "client.request")
        ex = _outermost(g, "server.execute_sql")
        plan_self = sum(selft[s.sid] for s in g if s.name == "sql.plan")
        plan.append(1000.0 * plan_self)
        execs.append(1000.0 * (ex - _outermost(g, "sql.plan")))
        http_ms.append(1000.0 * (client - ex))
        total += client
        plan_total += plan_self
        nbytes += o.nbytes
        seg_ids = {s.sid for s in g if s.name.startswith("segment.")}
        seg_total += sum(s.dur for s in g if s.name.startswith("segment.") and s.parent not in seg_ids)
        segments += sum(s.attrs["segments"] for s in g if s.name in SEGMENT_READERS and s.attrs)
        if o.req.klass in INDEX_SPANS:
            eligible += 1
            hits += any(s.name == INDEX_SPANS[o.req.klass] for s in g)
    n = max(len(ok), 1)
    return {
        "sql.plan_ms_p50": stats.median(plan),
        "sql.plan_share": plan_total / total if total else 0.0,
        "server.exec_ms_p50": stats.median(execs),
        "server.http_ms_p50": stats.median(http_ms),
        "server.response_bytes_per_query": nbytes / n,
        "segment.read_plan_share": seg_total / total if total else 0.0,
        "segment.accel_hit_ratio": hits / eligible if eligible else 0.0,
        "segment.segments_scanned_per_query": segments / n,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
