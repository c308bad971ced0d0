"""Machinery the workloads share: the process environment, repeated
set-up, engine counters, the broker client and the closed-loop load generator."""

from __future__ import annotations

import dataclasses
import http.client
import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import procstat
import stats

DRIVER_MEM = "2g"
YOUNG_MEM = "512m"


@dataclass
class Run:
    """One benchmark invocation: where it works and what it was asked."""

    root: str  # checkout root (holds hurricanedb_spark/)
    work: str  # working space inside the checkout, emptied per run
    seed: int
    seconds: float
    tracer: object = None  # tracing.Tracer when trace is set

    @property
    def data(self) -> str:
        return os.path.join(self.work, "data")


def prepare_process_env(run: Run, spark_cpus: int) -> None:
    """Environment the engine inherits; set before the JVM starts.
    Spark runs local[spark_cpus].

    Spark's Python workers import the program's modules, so the checkout
    goes on their PYTHONPATH. Temporary and spill files stay in the
    work directory."""
    shutil.rmtree(run.work, ignore_errors=True)
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = run.root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus)
    os.environ["HURRICANE_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def new_session(tag: str):
    from hurricanedb_spark import session

    # a fixed heap and young generation, as a server JVM is deployed:
    # resident memory then follows the pages the program keeps live, not
    # the collector's adaptive sizing (which made peak RSS bimodal, 2.0
    # or 2.6 GB, from run to run)
    return session.get_spark(
        f"perfbench-{tag}",
        extra_conf={"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Xmn{YOUNG_MEM}"},
    )


def repeated_setup(run: Run, warm: int, setup, teardown) -> tuple[object, float, list[float]]:
    """Run `setup(i)` once to start the JVM and then `warm` more times,
    tearing down all but the last, and return (last state, seconds of
    the JVM-starting set-up, seconds of each warm set-up). setup_s is
    the median of the warm set-ups: the JVM start (10-30 s on a shared
    host) would otherwise decide which warm set-up the median picks."""
    times = []
    state = None
    for i in range(warm + 1):
        if state is not None:
            teardown(state)
        if run.tracer is not None:
            with run.tracer.request(f"setup-{i}"), run.tracer.span("setup"):
                t0 = time.perf_counter()
                state = setup(i)
                times.append(time.perf_counter() - t0)
        else:
            t0 = time.perf_counter()
            state = setup(i)
            times.append(time.perf_counter() - t0)
    return state, times[0], times[1:]


class EngineProbe:
    """Counters of the engine the program drives: Spark jobs and tasks,
    JVM garbage collection, and CPU of the driver Python, the driver JVM
    and Spark's Python workers."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def snapshot(self) -> dict:
        execs = self._sc.statusStore().executorList(True)
        return {
            "wall": time.perf_counter(),
            "jobs": int(self._sc.dagScheduler().numTotalJobs()),
            "tasks": sum(int(execs.apply(i).totalTasks()) for i in range(execs.size())),
            "gc_ms": sum(int(b.getCollectionTime()) for b in self._gc),
            "py_cpu": procstat.own_cpu_s(os.getpid()),
            "jvm_cpu": procstat.own_cpu_s(self.jvm_pid),
            "worker_cpu": procstat.tree_cpu_s(self.jvm_pid),
            "host": procstat.cpu_jiffies(),
        }

    def peak_rss_mb(self) -> float:
        pids = [os.getpid(), self.jvm_pid, *procstat.descendants(self.jvm_pid)]
        return procstat.peak_rss_mb(pids)


def window_counters(a: dict, b: dict, completed: int) -> dict:
    """Per-query engine figures over the window [a, b]."""
    n = max(completed, 1)
    cpu = {k: b[k] - a[k] for k in ("py_cpu", "jvm_cpu", "worker_cpu")}
    return {
        "wall_s": b["wall"] - a["wall"],
        "cpu_ms_per_query": 1000.0 * sum(cpu.values()) / n,
        "py_cpu_ms_per_query": 1000.0 * cpu["py_cpu"] / n,
        "jvm_cpu_ms_per_query": 1000.0 * cpu["jvm_cpu"] / n,
        "worker_cpu_ms_per_query": 1000.0 * cpu["worker_cpu"] / n,
        "jobs_per_query": (b["jobs"] - a["jobs"]) / n,
        "tasks_per_query": (b["tasks"] - a["tasks"]) / n,
        "gc_ms_per_query": (b["gc_ms"] - a["gc_ms"]) / n,
        "cpu_steal_pct": procstat.steal_pct(a["host"], b["host"]),
    }


# ---------------------------------------------------------------------------
# broker client and closed loop


CLIENT_TIMEOUT_S = 120


class BrokerClient:
    """One keep-alive HTTP connection to the broker's POST /query/sql."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=CLIENT_TIMEOUT_S)
        self.conn.connect()
        self.local_port = self.conn.sock.getsockname()[1]

    def query(self, sql: str) -> tuple[dict, int]:
        body = json.dumps({"sql": sql}).encode()
        self.conn.request("POST", "/query/sql", body, {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        raw = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {raw[:200]!r}")
        return json.loads(raw), len(raw)

    def close(self) -> None:
        self.conn.close()


@dataclass
class Request:
    template: str
    klass: str
    sql: str
    key: tuple  # (template, params) — equal keys must give equal results


@dataclass
class Outcome:
    req: Request
    rid: str
    ms: float
    ok: bool
    rows: list | None
    nbytes: int
    error: str | None = None


@dataclass
class LoopResult:
    outcomes: list = field(default_factory=list)
    started: float = 0.0
    ended: float = 0.0


def broker_call(client: BrokerClient, req: Request) -> tuple[bool, list | None, int, str | None]:
    try:
        payload, nbytes = client.query(req.sql)
    except (OSError, RuntimeError, http.client.HTTPException, ValueError) as e:
        return False, None, 0, f"{type(e).__name__}: {e}"
    if payload.get("exceptions"):
        return False, None, nbytes, payload["exceptions"][0].get("message", "")[:300]
    return True, payload["resultTable"]["rows"], nbytes, None


def closed_loop(
    run: Run,
    clients: list[BrokerClient],
    rounds_for,
    deadline: float,
    slots: dict | None = None,
    min_requests: int = 0,
) -> LoopResult:
    """Each client thread runs whole rounds from `rounds_for(i)` (an
    iterator of request lists), one request at a time, until the
    deadline passes and the clients together have sent `min_requests`;
    at least one round runs. Stopping only between rounds keeps the
    query mix the same in every run; the minimum keeps a slow host from
    leaving too few samples for the tail percentile."""
    res = LoopResult(started=time.perf_counter())
    lock = threading.Lock()
    errors: list[BaseException] = []
    sent = [0]

    def worker(i: int, client: BrokerClient) -> None:
        mine = []
        try:
            for r_no, rnd in enumerate(rounds_for(i)):
                if r_no >= 1 and time.perf_counter() >= deadline and sent[0] >= min_requests:
                    break
                with lock:
                    sent[0] += len(rnd)
                for j, req in enumerate(rnd):
                    rid = f"c{i}-r{r_no}-q{j}"
                    mine.append(_one(run, client, req, rid, slots))
        except BaseException as e:  # reported by the main thread
            errors.append(e)
        with lock:
            res.outcomes.extend(mine)

    threads = [threading.Thread(target=worker, args=(i, c)) for i, c in enumerate(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    res.ended = time.perf_counter()
    if errors:
        raise errors[0]
    return res


def warm_rounds(run: Run, clients: list[BrokerClient], rounds_for) -> list[Outcome]:
    """One untimed, untraced round per client, as `rounds_for` gives it:
    JIT compilation of the query shapes and Python worker start-up
    finish before timing."""
    res = closed_loop(dataclasses.replace(run, tracer=None), clients, rounds_for, 0.0)
    failed = [o for o in res.outcomes if not o.ok]
    if failed:
        raise RuntimeError(f"warm-up {failed[0].req.template} failed: {failed[0].error}")
    return res.outcomes


def _one(run, client, req, rid, slots) -> Outcome:
    tracer = run.tracer
    if tracer is None:
        t0 = time.perf_counter()
        ok, rows, nbytes, err = broker_call(client, req)
        return Outcome(req, rid, 1000.0 * (time.perf_counter() - t0), ok, rows, nbytes, err)
    with tracer.request(rid):
        with tracer.span("client.request", klass=req.klass, template=req.template):
            # the broker thread serving this connection joins the request
            slots[client.local_port] = tracer.handle()
            t0 = time.perf_counter()
            ok, rows, nbytes, err = broker_call(client, req)
            ms = 1000.0 * (time.perf_counter() - t0)
    return Outcome(req, rid, ms, ok, rows, nbytes, err)


def serve_broker(hdb, run: Run, slots: dict):
    """Start the program's broker on an ephemeral port. With tracing,
    each handler thread adopts the request of the client whose
    connection it serves: `slots` maps a client's local port to the
    trace handle of its current request."""
    from hurricanedb_spark.sql import server

    srv = server.serve(hdb, port=0)
    if run.tracer is not None:
        handler = srv.RequestHandlerClass
        orig = handler.do_POST
        tracer = run.tracer

        def do_post(self):
            with tracer.adopt(slots.get(self.client_address[1])):
                return orig(self)

        handler.do_POST = do_post
    return srv


def stop_broker(srv) -> None:
    srv.shutdown()
    srv.server_close()


# ---------------------------------------------------------------------------
# output


def same_rows(got: list, want: list, abs_tol: float = 1e-9) -> bool:
    """Row lists equal; floats to 1e-9 relative (engines sum in
    different orders) or `abs_tol` absolute."""
    if len(got) != len(want):
        return False
    for gr, wr in zip(got, want):
        if len(gr) != len(wr):
            return False
        for g, w in zip(gr, wr):
            if isinstance(w, float) or isinstance(g, float):
                if g is None or w is None or not math.isclose(g, w, rel_tol=1e-9, abs_tol=abs_tol):
                    return False
            elif g != w:
                return False
    return True


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def latency_metrics(outcomes: list[Outcome], tail: float | None) -> dict:
    lat = [o.ms for o in outcomes if o.ok]
    failed = sum(1 for o in outcomes if not o.ok)
    return stats.latency_summary(lat, failed, tail, 1000.0 * CLIENT_TIMEOUT_S)


def class_medians(outcomes: list[Outcome]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in outcomes:
        if o.ok:
            by.setdefault(o.req.klass, []).append(o.ms)
    return {k: round(stats.median(v), 1) for k, v in sorted(by.items())}
