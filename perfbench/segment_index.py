"""segment_index: index access paths of the native segment store.

Set-up exports seeded events-shaped rows with `export_segments` into a
store of SEGMENTS segments carrying a JSON index on props, an inverted
index on event_type, a native text index on msg and a star-tree over
(event_type, region), and registers it with `register_segment_table`.
One closed-loop client sends four query classes through the broker:

  json      JSON_MATCH on props            -> JSON index path
  text      TEXT_MATCH on msg              -> native text index path
  startree  fitting group-by over cents    -> star-tree rewrite
  scan      column-pruned group-by         -> no index (full decode)

The scan class bypasses every index, so a gain that only helps an index
path should show no change there. Every result is checked against a
plain scan of the same rows stored as parquet, run by DuckDB.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import data
import harness
import layers
import stats

ROWS = 50_000
# one Spark task per segment decodes at a time per vCPU: local[2] was
# 15-43 % slower per request than local[4] over two seeds
SPARK_CPUS = 4
SEGMENTS = 4
TABLE = "seg_events"
# set-ups after the JVM-starting one; setup_s is their median
WARM_SETUPS = 2
# about 15 requests fit in a run: too few to leave 10 beyond any tail
# percentile, so this workload reports medians only
TAIL = None
VARIANTS = 4
COLUMNS = ["event_id", "user_id", "event_type", "region", "value", "cents", "props", "msg"]

# name -> (Pinot SQL over the segment table, DuckDB SQL over the parquet copy)
TEMPLATES = {
    "json": (
        "SELECT COUNT(*) AS n, SUM(cents) AS s FROM {t} "
        "WHERE JSON_MATCH(props, '\"$.tag\" = ''{tag}''')",
        "SELECT COUNT(*) AS n, SUM(cents) AS s FROM {t} "
        "WHERE json_extract_string(props, '$.tag') = '{tag}'",
    ),
    "text": (
        "SELECT COUNT(*) AS n, SUM(cents) AS s FROM {t} "
        "WHERE TEXT_MATCH(msg, '{w1} AND {w2}')",
        "SELECT COUNT(*) AS n, SUM(cents) AS s FROM {t} "
        "WHERE list_has_all(string_split(msg, ' '), ['{w1}', '{w2}'])",
    ),
    "startree": (
        "SELECT event_type, COUNT(*) AS n, SUM(cents) AS s FROM {t} "
        "WHERE region = '{region}' GROUP BY event_type ORDER BY event_type LIMIT 10",
    ) * 2,
    "scan": (
        "SELECT region, COUNT(*) AS n, MAX(cents) AS m FROM {t} "
        "WHERE user_id >= {ucut} AND user_id < {ucut} + 1000 "
        "GROUP BY region ORDER BY region LIMIT 10",
    ) * 2,
}
# one request of each class per round
ROUND = ["json", "text", "startree", "scan"]


def variants(seed: int) -> list[dict]:
    rng = np.random.default_rng([seed, 3])
    out = []
    for _ in range(VARIANTS):
        w = rng.choice(len(data.WORDS), 2, replace=False)
        out.append({
            "tag": data.TAGS[int(rng.integers(0, len(data.TAGS)))],
            "w1": data.WORDS[int(w[0])], "w2": data.WORDS[int(w[1])],
            "region": data.REGIONS[int(rng.integers(0, len(data.REGIONS)))],
            "ucut": int(rng.integers(0, data.N_USERS - 1000)),
        })
    return out


def request(name: str, v: int, params: dict) -> harness.Request:
    sql = TEMPLATES[name][0].format(t=TABLE, **params)
    return harness.Request(name, name, sql, (name, v))


def rounds(seed: int, vs: list[dict]):
    rng = np.random.default_rng([seed, 4])
    while True:
        draws = rng.integers(0, VARIANTS, len(ROUND))
        yield [request(ROUND[k], int(d), vs[int(d)]) for k, d in zip(rng.permutation(len(ROUND)), draws)]


def build_store(spark, pdf, store: str) -> None:
    from hurricanedb_spark.sources import pinot_segment as ps
    from hurricanedb_spark.sources import startree_v2 as st

    shutil.rmtree(store, ignore_errors=True)
    ps.export_segments(
        spark.createDataFrame(pdf).repartition(SEGMENTS),
        store,
        json_index_columns=["props"],
        inverted_index_columns=["event_type"],
        text_index_columns=["msg"],
        star_tree_specs=[st.StarTreeSpec(
            split_order=["event_type", "region"],
            function_column_pairs=["count__*", "sum__cents"],
            max_leaf_records=100,
        )],
    )


def index_bytes(store: str) -> int:
    """Bytes of the store that are not forward indexes or dictionaries."""
    from hurricanedb_spark.sources import pinot_segment as ps

    base = 0
    for entry in sorted(os.listdir(store)):
        meta = ps.read_segment_metadata(os.path.join(store, entry))
        base += sum(size for (_c, idx), (_o, size) in meta.index_map.items()
                    if idx in ("forward_index", "dictionary"))
    return layers.dir_bytes(store) - base


def oracle(parquet: str, vs: list[dict]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {TABLE} AS SELECT * FROM read_parquet('{parquet}')")
        return {
            (name, v): [list(r) for r in con.execute(sqls[1].format(t=TABLE, **p)).fetchall()]
            for name, sqls in TEMPLATES.items()
            for v, p in enumerate(vs)
        }
    finally:
        con.close()


def run(r: harness.Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    rng = np.random.default_rng([r.seed, 5])
    pdf = data.event_frame(rng, ROWS)[COLUMNS]
    user = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(r.data, exist_ok=True)
    parquet = os.path.join(r.data, "seg_events.parquet")
    pq.write_table(user, parquet)
    slots = {}

    def setup(i):
        spark = harness.new_session(f"segment-{i}")
        hdb = HurricaneSQL(spark)
        store = os.path.join(r.work, f"store{i}")
        build_store(spark, pdf, store)
        hdb.register_segment_table(TABLE, store)
        return spark, hdb, harness.serve_broker(hdb, r, slots), store

    def teardown(state):
        harness.stop_broker(state[2])
        state[0].stop()

    (spark, hdb, srv, store), cold_setup, setup_times = harness.repeated_setup(
        r, WARM_SETUPS, setup, teardown)
    client = harness.BrokerClient(srv.server_address[1])
    vs = variants(r.seed)
    failed_checks = []
    try:
        # untimed warm-up: one round holds every class
        harness.warm_rounds(r, [client], lambda i: rounds(r.seed + 1, vs))
        probe = harness.EngineProbe(spark)
        a = probe.snapshot()
        deadline = time.perf_counter() + r.seconds
        loop = harness.closed_loop(r, [client], lambda i: rounds(r.seed, vs), deadline, slots)
        b = probe.snapshot()
        peak_rss = probe.peak_rss_mb()
    finally:
        client.close()
        harness.stop_broker(srv)
    want = oracle(parquet, vs)
    outcomes = loop.outcomes
    for o in outcomes:
        if o.ok and not harness.same_rows(o.rows, want[o.req.key]):
            o.ok = False
            failed_checks.append(f"{o.req.key} differs from the parquet scan")
    completed = sum(1 for o in outcomes if o.ok)
    win = harness.window_counters(a, b, completed)
    lat = harness.latency_metrics(outcomes, TAIL)
    m = harness.metric
    result = {
        "attempted": len(outcomes),
        "failed": len(outcomes) - completed,
        "checks_failed": failed_checks[:10],
        "e2e": {
            "setup_s": m(stats.median(setup_times), "s"),
            "query_p50_ms": m(lat["p50"], "ms"),
            "qps": m(completed / (loop.ended - loop.started), "1/s"),
            "cpu_ms_per_query": m(win["cpu_ms_per_query"], "ms"),
            "peak_rss_mb": m(peak_rss, "MB"),
        },
        "window": win,
        "samples": lat["n"],
        "extra": {"class_p50_ms": harness.class_medians(outcomes)},
        "setup_times": setup_times,
        "cold_setup_s": cold_setup,
        "spark": spark,
    }
    if r.tracer is not None:
        result["layers"] = layers.summary(r.tracer.spans, outcomes, win, {
            "index": index_bytes(store) / user.nbytes,
            "stored": layers.dir_bytes(store) / user.nbytes,
        })
    return result
