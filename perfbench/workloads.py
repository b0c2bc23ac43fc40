"""The benchmark's workloads: a closed loop, one client, one process.

Each workload generates its inputs from the seed, sets up, warms up,
then runs operations back to back until ``seconds`` have elapsed,
stopping only at the end of a schedule block or plan pass, and checks
every output. An operation that raises is counted as failed and the
run goes on; a failed correctness check fails the run.

``mixed_rw``    hybrid search served from the persisted lexical index,
                beside adds and deletes, each write followed by an
                incremental refresh of the index.
``batch_plans`` ``graph_merge_reserved`` from ``plans.registry`` run
                in passes over seeded parquet tables, each result
                checked against its DuckDB twin.

``setup_s`` is the session start plus the median of the run's
set-ups: the store load and index build (``mixed_rw``, once), the
input tables' load (``batch_plans``, three times). Input generation
and the warm-up are not in it.
"""

from __future__ import annotations

import os
import re
import time
import traceback
from dataclasses import dataclass, field

import inputs
import stats
from spans import SparkCounter, Tracer

# Sizes and the plan set are cut to fit every run of a full evaluation
# into its time budget; NOTES.md says what was left out.
K = 10
MIXED_DOCS = 200
MIXED_QUERIES = 2
PLAN_DOCS, PLAN_VECS = 500, 200
PLANS = ("graph_merge_reserved",)

#: ``batch_plans`` loads its tables this many times; ``setup_s`` takes
#: the median. ``mixed_rw`` builds its store once: a second build would
#: cost about 8 s of every run, which the time budget cannot carry.
PLAN_SETUPS = 3

#: Untimed plan passes before timing. A cold JVM makes the first
#: execution several times slower than the steady one.
PLAN_WARMUPS = 2


#: Ops whose latency is a query latency: a search or a plan.
QUERY_OPS = ("search",) + PLANS


@dataclass
class Outcome:
    setup_s: float = 0.0
    latencies_ms: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def query_ms(self) -> list[float]:
        return [x for op in QUERY_OPS for x in self.latencies_ms.get(op, [])]

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


def canary_ms() -> float:
    """A fixed pure-Python loop: its time labels host drift."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x += i * i
    return (time.perf_counter() - t) * 1000.0


def _start_session(tracer: Tracer):
    from memories_spark import session

    with tracer.span("session.get_spark"):
        spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed_loop(seconds: float, out: Outcome, tracer: Tracer, step) -> None:
    """Call ``step(i)`` back to back until ``seconds`` have passed.
    ``step`` returns whether the loop may stop after op ``i``, so that
    every run ends on a whole schedule block or plan pass."""
    t0 = time.perf_counter()
    i = 0
    while True:
        tracer.op = i
        may_stop = step(i)
        tracer.op = None
        i += 1
        if may_stop and time.perf_counter() - t0 >= seconds:
            break
    out.wall_s = time.perf_counter() - t0


def _attempt(out: Outcome, op: str, fn):
    """Run one op; record its latency, or count it failed."""
    out.attempted += 1
    t = time.perf_counter()
    try:
        res = fn()
    except Exception:
        out.failed += 1
        out.problems.append(f"{op} raised: {traceback.format_exc(limit=3)}")
        return None
    out.latencies_ms.setdefault(op, []).append((time.perf_counter() - t) * 1000.0)
    return res


# --- mixed_rw ---------------------------------------------------------


def mixed_rw(seed: int, seconds: float, tracer: Tracer, work: str) -> Outcome:
    from memories_spark import search as search_mod
    from memories_spark.engine import MemoriesEngine
    from memories_spark.extraction import mock_embed
    from memories_spark.operators import graph as graph_op

    out = Outcome()
    now = inputs.NOW
    docs = inputs.documents(seed, MIXED_DOCS)
    records = [
        {"text": d["text"], "source": d["source"], "embedding": mock_embed(d["text"])}
        for d in docs
    ]
    queries = inputs.queries(seed, MIXED_QUERIES)
    sched = inputs.schedule(blocks=30)
    payloads = [
        dict(p, embedding=mock_embed(p["text"]))
        for p in inputs.write_payloads(seed, sched.count("add"))
    ]
    victim_pos = inputs.delete_victims(
        seed, MIXED_DOCS, sched.count("delete") + inputs.WARMUP.count("delete"))

    tracer.wrap(search_mod, "classify_intent", "intent.classify")
    tracer.wrap(graph_op, "personalized_pagerank", "graph.ppr")

    # set-up: the session, the store load and the index build
    t0 = time.perf_counter()
    spark = _start_session(tracer)
    counter = SparkCounter(spark, tracer.enabled)
    eng = MemoriesEngine(spark, os.path.join(work, "store"))
    with tracer.span("engine.add"):
        ids = eng.add(records, now)
    with tracer.span("engine.build_lexical_index"):
        eng.build_lexical_index()
    out.setup_s = time.perf_counter() - t0
    tracer.end_setup()
    snap_builds = _wrap_engine(eng, tracer)

    live = set(ids)
    seen: dict[tuple[str, int], list] = {}
    fresh = {"indexed": 0, "fresh": 0}
    last = {}

    def search(q: str):
        if tracer.enabled and tracer.op is not None:
            fresh["indexed"] += 1
            fresh["fresh"] += eng.lexical_index_meta() is not None
        version = eng.table_version()
        group = counter.begin()
        with tracer.span("search.build"):
            df = search_mod.hybrid_search(eng, q, k=K, now=now, lexical=True)
        with tracer.span("search.collect"):
            rows = df.collect()
        with tracer.span("search.release"):
            search_mod.release_caches(df)
        counter.end(group, "search")
        return q, version, rows

    def check_search(res) -> None:
        q, version, rows = res
        got = [(r.id, r.rrf_score) for r in rows]
        ids_ = [i for i, _ in got]
        scores = [s for _, s in got]
        out.check(len(ids_) == min(K, len(live)),
                  f"{q!r}: {len(ids_)} rows, expected {min(K, len(live))}")
        out.check(len(set(ids_)) == len(ids_), f"{q!r}: duplicate ids {ids_}")
        out.check(set(ids_) <= live, f"{q!r}: ids not live {set(ids_) - live}")
        out.check(all(a >= b for a, b in zip(scores, scores[1:])),
                  f"{q!r}: rrf_score increases {scores}")
        prev = seen.setdefault((q, version), got)
        out.check(prev == got, f"{q!r} at v{version}: {got} != earlier {prev}")
        last.update(query=q, version=version, rows=got)

    def write(kind: str, fn):
        group = counter.begin()
        with tracer.span(f"engine.{kind}"):
            res = fn()
        counter.end(group, "write")
        group = counter.begin()
        eng.refresh_lexical_index()
        counter.end(group, "refresh")
        return res

    start_count = len(live)
    cursor = {"q": 0, "add": 0, "del": 0, "adds": 0, "hits": 0}

    def do(kind: str, timed: bool) -> None:
        """One op of ``kind`` and its checks. A timed op that raises is
        counted failed; an untimed one fails the run."""
        run = (lambda fn: _attempt(out, kind, fn)) if timed else (lambda fn: fn())
        if kind == "search":
            q = queries[cursor["q"] % len(queries)]
            cursor["q"] += 1
            res = run(lambda: search(q))
            if res is not None:
                check_search(res)
        elif kind == "add":
            p = payloads[cursor["add"] % len(payloads)]
            cursor["add"] += 1
            new = run(lambda: write(kind, lambda: eng.add([p], now)))
            if new is not None:
                live.update(new)
                cursor["adds"] += len(new)
        else:
            vid = ids[victim_pos[cursor["del"] % len(victim_pos)]]
            cursor["del"] += 1
            hit = run(lambda: write(kind, lambda: eng.delete([vid])))
            if hit:
                live.discard(vid)
                cursor["hits"] += hit

    # warm-up, untimed: a delete and a search. That search, served by
    # the incrementally refreshed index, must equal the inline build at
    # the same table version.
    for kind in inputs.WARMUP:
        do(kind, timed=False)
    df = search_mod.hybrid_search(eng, last["query"], k=K, now=now, lexical=False)
    inline = [(r.id, r.rrf_score) for r in df.collect()]
    search_mod.release_caches(df)
    out.check(last["rows"] == inline, f"{last['query']!r} at v{last['version']}: "
              f"indexed {last['rows']} != inline {inline}")

    def step(i: int) -> bool:
        do(sched[i % len(sched)], timed=True)
        return (i + 1) % len(inputs.BLOCK) == 0

    _timed_loop(seconds, out, tracer, step)

    # end-of-run checks, untimed: the store and the index agree with the
    # writes
    n = eng.count()
    out.check(n == start_count + cursor["adds"] - cursor["hits"],
              f"count {n} != {start_count} + {cursor['adds']} - {cursor['hits']}")
    version = eng.table_version()
    out.check(eng.lexical_index_meta() is not None, f"lexical index stale at v{version}")

    if tracer.enabled:
        out.layer.update(layer_metrics(tracer, counter, out))
        out.layer["engine.snapshot_builds"] = snap_builds["builds"] / max(1, out.attempted)
        out.layer["engine.index_fresh_ratio"] = (
            fresh["fresh"] / fresh["indexed"] if fresh["indexed"] else 0.0
        )
    return out


def _wrap_engine(eng, tracer: Tracer) -> dict:
    """Trace the engine's public serving and write functions on this
    instance; return the snapshot-build counter."""
    builds = {"builds": 0, "version": None}
    if not tracer.enabled:
        return builds
    orig = eng.serving_snapshot

    def serving_snapshot():
        v = eng.table_version()
        if v != builds["version"] and tracer.op is not None:
            builds["builds"] += 1
        builds["version"] = v
        return orig()

    eng.serving_snapshot = serving_snapshot
    for name in ("serving_snapshot", "lexical_stats", "refresh_lexical_index"):
        tracer.wrap(eng, name, f"engine.{name}")
    return builds


# --- batch_plans ------------------------------------------------------


def batch_plans(seed: int, seconds: float, tracer: Tracer, work: str) -> Outcome:
    import duckdb
    import pandas as pd

    import __spark_entry__
    from memories_spark.operators import graph as graph_op
    from memories_spark.plans.registry import QUERIES
    from memories_spark.sources.tables import load_tables

    out = Outcome()
    data = os.path.join(work, "tables")
    os.makedirs(data)
    inputs.write_plan_tables(seed, data, PLAN_DOCS, PLAN_VECS)
    oracles = __spark_entry__.oracle_sql()

    tracer.wrap(graph_op, "personalized_pagerank", "graph.ppr")

    # set-up: the session once, then PLAN_SETUPS loads of the input
    # tables (schema read, memoized by the loader, and a row count)
    t0 = time.perf_counter()
    spark = _start_session(tracer)
    session_s = time.perf_counter() - t0
    counter = SparkCounter(spark, tracer.enabled)
    loads = []
    for _ in range(PLAN_SETUPS):
        t = time.perf_counter()
        with tracer.span("tables.load"):
            tables = load_tables(spark, data)
            n_docs, n_vecs = tables["documents"].count(), tables["embeddings"].count()
        loads.append(time.perf_counter() - t)
        out.check((n_docs, n_vecs) == (PLAN_DOCS, PLAN_VECS),
                  f"tables hold {n_docs} documents, {n_vecs} embeddings")
    out.setup_s = session_s + stats.median(loads)
    tracer.end_setup()

    first: dict[str, tuple] = {}

    def run_plan(name: str):
        group = counter.begin()
        with tracer.span(f"plans.{name}"):
            df = QUERIES[name].fn(spark, data)
            rows = df.collect()
        counter.end(group, "plan")
        return df.columns, rows

    def check_plan(name: str, res) -> None:
        prev = first.setdefault(name, res)
        out.check(prev == res, f"{name}: result differs from the first pass")

    for _ in range(PLAN_WARMUPS):  # warm-up passes, untimed
        for name in PLANS:
            check_plan(name, run_plan(name))

    def step(i: int) -> bool:
        name = PLANS[i % len(PLANS)]
        res = _attempt(out, name, lambda: run_plan(name))
        if res is not None:
            check_plan(name, res)
        return i % len(PLANS) == len(PLANS) - 1

    _timed_loop(seconds, out, tracer, step)

    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit='1GB'")
        con.execute(f"SET temp_directory='{work}/duckdb'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name in PLANS:
            cols, rows = first[name]
            got = _canonical(pd.DataFrame([tuple(r) for r in rows], columns=cols))
            want = _canonical(con.execute(_materialized(oracles[name])).fetchdf())
            out.check(got.equals(want), f"{name}: Spark result != DuckDB oracle")

    if tracer.enabled:
        out.layer.update(layer_metrics(tracer, counter, out))
    return out


def _materialized(sql: str) -> str:
    """The oracle with every CTE marked MATERIALIZED. Same result;
    DuckDB otherwise re-evaluates a CTE at each reference, which makes
    the iterated PPR oracle exponential in its iteration count (about
    a minute instead of half a second)."""
    return re.sub(r"(^|\n|,|WITH)(\s*)(\w+) AS \(", r"\1\2\3 AS MATERIALIZED (", sql)


def _canonical(df):
    """Columns by name, rows sorted by every column, ints widened to
    float so nullable and non-null integer columns compare equal."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind == "object":
            df[c] = df[c].astype(str)
        elif kind.startswith(("int", "uint", "Int", "float")):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


# --- per-layer metrics --------------------------------------------------

#: Spans whose time a traced run reports as a share: of ``setup_s`` for
#: set-up calls, of the timed phase's wall time for the rest. A share
#: is 0 on a workload that never makes the call; a time that is always
#: 0 would read as no measurement at all. Per-call times in ms are
#: printed on the run's summary lines and kept in the span dump.
SETUP_SPANS = ("engine.add", "engine.build_lexical_index", "tables.load")
BUSY_SPANS = (
    "engine.serving_snapshot", "engine.lexical_stats", "engine.add",
    "engine.refresh_lexical_index", "search.build", "search.collect",
    "search.release", "intent.classify", "graph.ppr",
) + tuple(f"plans.{name}" for name in PLANS)

#: Every per-layer metric a traced run reports, with its unit and the
#: direction that is better.
LAYER_METRICS = {
    "session.get_spark_s": ("s", "lower"),
    **{f"{name}.setup_share": ("ratio", "lower") for name in SETUP_SPANS},
    **{f"{name}.busy": ("ratio", "lower") for name in BUSY_SPANS},
    "engine.snapshot_builds": ("1/op", "lower"),
    "engine.lexical_stats_calls": ("1/op", "lower"),
    "engine.index_fresh_ratio": ("ratio", "higher"),
    "graph.ppr_calls": ("1/op", "lower"),
    "spark.jobs_per_search": ("1/op", "lower"),
    "spark.stages_per_search": ("1/op", "lower"),
    "spark.tasks_per_search": ("1/op", "lower"),
    "spark.jobs_per_write": ("1/op", "lower"),
    "spark.jobs_per_refresh": ("1/op", "lower"),
    "spark.jobs_per_plan": ("1/op", "lower"),
    "host.canary_ms": ("ms", "lower"),
}


def layer_metrics(tracer: Tracer, counter: SparkCounter, out: Outcome) -> dict[str, float]:
    """The per-layer values of a traced run: time shares of set-up and
    of the timed phase, counts per timed op, and Spark counts as the
    median over ops of each kind."""
    ops = max(1, out.attempted)
    calls = tracer.per_call_ms()

    def per_op(kind: str, col: int) -> float:
        return stats.median([c[col] for c in counter.per_kind.get(kind, [])])

    layer = {
        "session.get_spark_s": tracer.setup_s("session.get_spark"),
        "engine.lexical_stats_calls": len(calls.get("engine.lexical_stats", [])) / ops,
        "graph.ppr_calls": len(calls.get("graph.ppr", [])) / ops,
        "spark.jobs_per_search": per_op("search", 0),
        "spark.stages_per_search": per_op("search", 1),
        "spark.tasks_per_search": per_op("search", 2),
        "spark.jobs_per_write": per_op("write", 0),
        "spark.jobs_per_refresh": per_op("refresh", 0),
        "spark.jobs_per_plan": per_op("plan", 0),
    }
    for name in SETUP_SPANS:
        layer[f"{name}.setup_share"] = tracer.setup_s(name) / out.setup_s
    for name in BUSY_SPANS:
        layer[f"{name}.busy"] = sum(calls.get(name, [])) / 1000.0 / out.wall_s
    return layer


WORKLOADS = {"mixed_rw": mixed_rw, "batch_plans": batch_plans}
