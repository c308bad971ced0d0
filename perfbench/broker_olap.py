"""broker_olap: Pinot-dialect SQL through the in-process broker.

Two closed-loop clients, each with one keep-alive HTTP connection to
`sql.server.serve`, over lineitem (600k rows), orders (150k) and events
(100k) — 61 MB of Arrow data in 16 MB of parquet, which fits the page
cache and the catalog's plan-handle cache. It stresses the dialect front
end, the catalog, the broker and Spark execution; it never touches the
segment store.

Every exact template is checked against DuckDB on the same parquet
files; the approximate sketches are checked against their own result
from the untimed warm-up pass.
"""

from __future__ import annotations

import os
import time

import numpy as np

import data
import harness
import layers
import stats

CLIENTS = 2
# two of the four vCPUs for Spark tasks, so the two clients' queries do
# not contend with the driver JVM's own threads; see NOTES.md
SPARK_CPUS = 2
# set-ups after the JVM-starting one; setup_s is their median
WARM_SETUPS = 3
TAIL = 75.0
# parameter sets per exact template, each checked against DuckDB; an
# approximate template has one, checked against its warm-up result
VARIANTS = 4

# name -> (class, exact?, Pinot SQL; DuckDB SQL is the same text)
TEMPLATES = {
    "point": ("light", True,
              "SELECT l_linenumber, l_quantity, l_extendedprice FROM lineitem "
              "WHERE l_orderkey = {okey} "
              "ORDER BY l_linenumber, l_quantity, l_extendedprice LIMIT 20"),
    # not rounded: the exact sum of these 4-decimal products can end in
    # 5 at the third decimal (seed 515: 2951181.6950), and then the
    # summation order alone decides ROUND(_, 2) in either engine
    "filtered_sum": ("light", True,
                     "SELECT SUM(l_extendedprice * l_discount) AS rev, COUNT(*) AS n "
                     "FROM lineitem WHERE l_shipdate >= '{d0}' AND l_shipdate < '{d90}' "
                     "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    "topk": ("light", True,
             "SELECT user_id, ROUND(SUM(value), 2) AS v FROM events "
             "WHERE event_type = '{etype}' GROUP BY user_id "
             "ORDER BY v DESC, user_id LIMIT 10"),
    "group_by": ("heavy", True,
                 "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, "
                 "ROUND(SUM(l_extendedprice), 2) AS p, COUNT(*) AS n FROM lineitem "
                 "WHERE l_shipdate <= '{dlate}' GROUP BY l_returnflag, l_linestatus "
                 "ORDER BY l_returnflag, l_linestatus LIMIT 10"),
    "hll": ("heavy", False,
            "SELECT event_type, distinctCountHLL(user_id) AS u FROM events "
            "WHERE value >= {vmin} AND value < {vmax} "
            "GROUP BY event_type ORDER BY event_type LIMIT 10"),
    "percentile": ("heavy", False,
                   "SELECT l_returnflag, percentileEst(l_extendedprice, 90) AS p FROM lineitem "
                   "WHERE l_shipdate >= '{d0}' AND l_shipdate < '{d720}' GROUP BY l_returnflag "
                   "ORDER BY l_returnflag LIMIT 10"),
    "join": ("v2", True,
             "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_quantity) AS q "
             "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
             "WHERE o.o_orderdate >= '{d0}' AND o.o_orderdate < '{d365}' "
             "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority LIMIT 10"),
    "window": ("v2", True,
               "SELECT event_type, user_id, v, r FROM ("
               "SELECT event_type, user_id, ROUND(SUM(value), 2) AS v, "
               "RANK() OVER (PARTITION BY event_type ORDER BY ROUND(SUM(value), 2) DESC, user_id) AS r "
               "FROM events WHERE ts >= '{t0}' AND ts < '{t7}' GROUP BY event_type, user_id) w "
               "WHERE r <= 2 ORDER BY event_type, r LIMIT 10"),
    "cte": ("v2", True,
            "WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS q FROM lineitem "
            "WHERE l_shipdate >= '{d0}' AND l_shipdate < '{d90}' "
            "GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) "
            "SELECT COUNT(*) AS n, ROUND(SUM(o.o_totalprice), 2) AS p "
            "FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey"),
}
# requests per template in one round: light 4/10, heavy 3/10, V2 3/10,
# so neither the median nor the p75 sits on a boundary between classes
ROUND = ["point", "point", "filtered_sum", "topk",
         "group_by", "hll", "percentile",
         "join", "window", "cte"]


def _day(d: int) -> str:
    return str(np.datetime64("1992-01-01") + np.timedelta64(int(d), "D"))


def variants(seed: int) -> dict[str, list[dict]]:
    """Parameter sets per template. Every range has a fixed width, so a
    template selects about the same share of rows under every seed: an
    approximate template has a single variant, and with open-ended
    ranges its cost followed the seed."""
    rng = np.random.default_rng([seed, 1])
    out = {}
    for name, (_k, exact, _sql) in TEMPLATES.items():
        vs = []
        for _ in range(VARIANTS if exact else 1):
            d = int(rng.integers(200, 1800))
            t = int(rng.integers(0, 23))
            vmin = int(rng.integers(0, 250))
            vs.append({
                "okey": int(rng.integers(0, data.N_ORDERS)),
                "d0": _day(d), "d90": _day(d + 90), "d365": _day(d + 365), "d720": _day(d + 720),
                "dlate": _day(int(rng.integers(2000, 2300))),
                "etype": data.EVENT_TYPES[int(rng.integers(0, len(data.EVENT_TYPES)))],
                "vmin": vmin, "vmax": vmin + 250,
                "t0": f"2024-01-{1 + t:02d}", "t7": f"2024-01-{8 + t:02d}",
            })
        out[name] = vs
    return out


def request(name: str, v: int, params: dict) -> harness.Request:
    klass, _exact, sql = TEMPLATES[name]
    return harness.Request(name, klass, sql.format(**params), (name, v))


def rounds(seed: int, client: int, vs: dict):
    """Endless seeded rounds: the fixed template multiset, shuffled."""
    rng = np.random.default_rng([seed, 2, client])
    while True:
        draws = rng.integers(0, VARIANTS, len(ROUND))
        yield [
            request(ROUND[k], int(d) % len(vs[ROUND[k]]), vs[ROUND[k]][int(d) % len(vs[ROUND[k]])])
            for k, d in zip(rng.permutation(len(ROUND)), draws)
        ]


def warm_pass(vs: dict) -> list[harness.Request]:
    """Each template once, with its first parameter set."""
    return [request(name, 0, vs[name][0]) for name in TEMPLATES]


def oracle(data_dir: str, vs: dict) -> dict:
    """DuckDB answers for every exact (template, variant)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "events"):
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, (_k, exact, sql) in TEMPLATES.items():
            if exact:
                for v, params in enumerate(vs[name]):
                    out[(name, v)] = [list(r) for r in con.execute(sql.format(**params)).fetchall()]
        return out
    finally:
        con.close()


def run(r: harness.Run) -> dict:
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    data.write_olap_tables(r.data, r.seed)
    slots = {}

    def setup(i):
        spark = harness.new_session(f"broker-{i}")
        hdb = HurricaneSQL(spark, r.data)
        return spark, hdb, harness.serve_broker(hdb, r, slots)

    def teardown(state):
        harness.stop_broker(state[2])
        state[0].stop()

    (spark, hdb, srv), cold_setup, setup_times = harness.repeated_setup(
        r, WARM_SETUPS, setup, teardown)
    port = srv.server_address[1]
    clients = [harness.BrokerClient(port) for _ in range(CLIENTS)]
    vs = variants(r.seed)
    warm = {}
    failed_checks = []
    try:
        # untimed warm-up: one pass over every template, split between
        # the clients; it also fixes the reference result of each
        # approximate template
        for o in harness.warm_rounds(r, clients, lambda i: iter([warm_pass(vs)[i::CLIENTS]])):
            warm[o.req.key] = o.rows
        probe = harness.EngineProbe(spark)
        a = probe.snapshot()
        deadline = time.perf_counter() + r.seconds
        loop = harness.closed_loop(
            r, clients, lambda i: rounds(r.seed, i, vs), deadline, slots,
            min_requests=stats.min_samples(TAIL),
        )
        b = probe.snapshot()
        peak_rss = probe.peak_rss_mb()
    finally:
        for c in clients:
            c.close()
        harness.stop_broker(srv)
    want = oracle(r.data, vs)
    outcomes = loop.outcomes
    for o in outcomes:
        if o.ok:
            ref = want[o.req.key] if o.req.key in want else warm[o.req.key]
            if not harness.same_rows(o.rows, ref):
                o.ok = False
                o.error = "result differs from reference"
                failed_checks.append(f"{o.req.key} differs")
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
        "extra": {
            # no manifest metric: segment_index runs too few requests
            # for a tail, and every workload reports every metric
            "query_p75_ms": round(lat["tail"], 1),
            "class_p50_ms": harness.class_medians(outcomes),
        },
        "setup_times": setup_times,
        "cold_setup_s": cold_setup,
        "spark": spark,
    }
    if r.tracer is not None:
        result["layers"] = layers.summary(r.tracer.spans, outcomes, win, {})
    return result
