"""The reader side of ``serving_mix``: two closed-loop clients sharing one
session run read-only catalog queries over seeded star-schema tables.

The menu is dealt as whole decks: each deck holds every menu entry its
weight's number of times in one fixed order, and the clients pull the
next query from the shared deck. The run keeps dealing decks until the
measuring time is up and finishes the deck in flight, so every run sees
the same query mix in the same order; the seed changes the data.

Correctness: a warm-up round runs every menu query once and checks it
against the catalog's DuckDB oracle (exact, after sorting columns and
rows). Every timed query's collected result must then equal that checked
result.
"""

from __future__ import annotations

import datetime
import math
import queue
import random
import threading
from decimal import Decimal

import duckdb

from gen_tables import generate_tables
from harness import Context, Op, now, run_threads

SF = 0.01
CLIENTS = 2

# name -> (family, weight per deck). Mostly reference-shaped relational
# queries; one heavy extension query per family sets the tail.
MENU = {
    "flagship_multijoin": ("relational", 1),
    "g1_top10_customers_per_nation": ("relational", 1),
    "tpch_q1_pricing_summary": ("relational", 1),
    "tpch_q6_forecast_revenue": ("relational", 1),
    "window_running_total": ("relational", 1),
    "events_sessionization_30min": ("events", 1),
    "text_tfidf_top_terms": ("text", 1),
    "dedup_minhash_lsh": ("dedup", 1),
    "similarity_bruteforce_topk": ("similarity", 1),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def setup(ctx: Context, rep: int) -> dict:
    d = ctx.fresh_dir(f"tables{rep}")
    info = generate_tables(d, ctx.seed, SF)
    return {"dir": d, "input_bytes": info["bytes"], "expected": {}}


def discard(ctx: Context, state: dict) -> None:
    import shutil

    shutil.rmtree(state["dir"], ignore_errors=True)


# ---- result normalization (same rules as the catalog's oracle gate) ----------


def _norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", 0.0 if v == 0.0 else v)
    if isinstance(v, datetime.datetime):
        return ("timestamp", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_norm_value(x) for x in v))
    return (type(v).__name__, v)


def normalize(columns: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return (tuple(columns[i] for i in order), tuple(out))


def _oracle(con, sql: str) -> tuple:
    cur = con.execute(sql)
    return normalize([d[0] for d in cur.description], cur.fetchall())


# ---- one query ------------------------------------------------------------------


# ``plans.registry`` keeps one process-wide list of the caches queries
# register, and ``release_caches()`` unpersists all of them — including
# the caches of the other client's query while it runs, which makes the
# dedup queries return wrong rows. Builds are therefore serialized, so
# each client knows which registered caches are its own and releases
# only those once its result is collected.
_BUILD_LOCK = threading.Lock()


def run_query(ctx: Context, state: dict, name: str, op_id: str) -> tuple[float, float, tuple]:
    """Build and collect one catalog query; returns (start, end, result)."""
    from deathmetal_datalake_spark.plans import QUERIES, registry

    tr = ctx.tracer
    t0 = now()
    with tr.span("plans.query", op=op_id, query=name, family=MENU[name][0]):
        with tr.span("plans.build"), _BUILD_LOCK:
            before = len(registry._LIVE_CACHES)
            df = QUERIES[name](ctx.spark, state["dir"])
            mine = registry._LIVE_CACHES[before:]
            del registry._LIVE_CACHES[before:]
        with tr.span("plans.exec"):
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
    t1 = now()
    for cached in mine:
        cached.unpersist()
    return t0, t1, normalize(cols, rows)


def warmup(ctx: Context, state: dict) -> None:
    """Run every menu query once (two clients) and gate it on its oracle."""
    from deathmetal_datalake_spark.plans import ORACLES

    names = list(MENU)
    results: dict[str, tuple] = {}

    def client():
        while True:
            try:
                name = names.pop()
            except IndexError:
                return
            results[name] = run_query(ctx, state, name, f"warm-{name}")[2]

    run_threads(*[client] * CLIENTS)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{state['dir']}/{t}.parquet')")
    state["gate_failures"] = []
    for name, got in results.items():
        want = _oracle(con, ORACLES[name])
        if got != want:
            state["gate_failures"].append(f"{name}: {_first_difference(got, want)}")
        state["expected"][name] = want
    con.close()


def _first_difference(got: tuple, want: tuple) -> str:
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])}"
    for i, (a, b) in enumerate(zip(got[1], want[1])):
        if a != b:
            return f"row {i}: {a} != {b}"
    return "equal"


def deck() -> list[str]:
    cards = [name for name, (_, weight) in MENU.items() for _ in range(weight)]
    random.Random(0).shuffle(cards)
    return cards


def measure(ctx: Context, state: dict, deadline: float) -> None:
    work: queue.Queue = queue.Queue()
    lock = threading.Lock()
    dealt = [0]

    def next_query() -> str | None:
        with lock:
            if work.empty():
                if now() >= deadline:
                    return None
                for name in deck():
                    work.put(name)
                dealt[0] += 1
            return work.get_nowait()

    def client():
        i = 0
        while True:
            name = next_query()
            if name is None:
                return
            t0, t1, result = run_query(ctx, state, name, f"{threading.get_ident()}-{i}")
            ok = result == state["expected"][name]
            ctx.record(Op(name, t0, t1, ok, {"client": "reader", "family": MENU[name][0]}))
            i += 1

    run_threads(*[client] * CLIENTS)
    state["decks"] = dealt[0]


def verify(ctx: Context, state: dict) -> list[str]:
    return [f"oracle gate: {why}" for why in state["gate_failures"]] + [
        f"{op.kind}: result differs from its oracle"
        for op in ctx.ops if not op.ok and op.info["client"] == "reader"
    ]
