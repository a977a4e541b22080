"""The writer side of ``serving_mix``: one closed-loop client against the
versioned table and the record stream.

The client works through fixed decks of operations on a ``SnapshotTable``
seeded from generated ``orders`` — commits (``write(mode="append")``,
``merge_upsert``, ``delete_keys``) and reads (head aggregate, point lookup
through ``read(filters=...)``, time travel through ``read(snapshot_id=...)``,
``read_changes(anchor)``) — plus one stream round per deck: a seeded
reviews burst goes through ``RecordStreamTransport.put_csv_in_chunks`` into
a 4-shard log, and ``stream_records_to_bronze(available_now=True)`` drains
it against one persistent checkpoint. ``DELETE_FOLD_THRESHOLD`` keeps its
default, so the table folds its delete vectors in the middle of the run.

Correctness: every read is checked against an in-Python model of the
operation sequence (head key count and price sum, lookup hits, row counts
per snapshot, change-feed row counts); after the run, bronze must hold
exactly the rows put, with no review id twice.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa

from gen_corpus import REVIEWS_HEADER, reviews_burst
from gen_tables import orders_columns
from harness import Context, Op, dir_bytes, now

INITIAL_ROWS = 15_000
APPEND_ROWS = 2_000
UPSERT_ROWS = 1_000
DELETE_KEYS = 200
BURST_ROWS = 10_000
SHARDS = 4
N_CUSTOMERS = 1_500
# Delete vectors the warm-up leaves outstanding: the first measured delete
# or upsert then reaches DELETE_FOLD_THRESHOLD (8) and folds.
WARM_DELETE_VECTORS = 7

DECK = {
    "append": 1, "upsert": 1, "delete": 1,
    "head": 1, "point": 2, "travel": 1, "changes": 1,
    "stream": 1,
}
COMMITS = ("append", "upsert", "delete")
KEY = "o_orderkey"


class Model:
    """What the table must contain after each commit."""

    def __init__(self):
        self.rows: dict[int, int] = {}  # key -> price in cents
        self.count_at: dict[int, int] = {}  # snapshot id -> live rows
        self.changes_at: list[tuple[int, int]] = []  # (snapshot id, change rows)
        self.next_key = 0

    def commit(self, sid: int, changes: int) -> None:
        self.count_at[sid] = len(self.rows)
        self.changes_at.append((sid, changes))

    def changes_since(self, sid: int) -> int:
        ids = [s for s, _ in self.changes_at]
        return sum(c for _, c in self.changes_at[ids.index(sid) + 1:])


def _rows(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    return pa.table(orders_columns(rng, keys, N_CUSTOMERS))


def setup(ctx: Context, rep: int) -> dict:
    from deathmetal_datalake_spark.sources.snapshots import SnapshotTable
    from deathmetal_datalake_spark.streaming.transport import RecordStreamTransport

    d = ctx.fresh_dir(f"churn{rep}")
    nrng = np.random.default_rng(ctx.seed)
    model = Model()
    initial = _rows(nrng, np.arange(INITIAL_ROWS))
    table = SnapshotTable(ctx.spark, os.path.join(d, "orders"))
    snap = table.write(ctx.spark.createDataFrame(initial), mode="overwrite")
    model.rows = dict(zip(initial.column(KEY).to_pylist(),
                          (round(p * 100) for p in initial.column("o_totalprice").to_pylist())))
    model.next_key = INITIAL_ROWS
    model.commit(snap.snapshot_id, INITIAL_ROWS)
    transport = RecordStreamTransport(os.path.join(d, "streams"))
    return {
        "dir": d, "table": table, "model": model, "nrng": nrng,
        "rng": random.Random(ctx.seed), "input_bytes": initial.nbytes,
        "transport": transport, "stream": transport.create_stream("reviews", n_shards=SHARDS),
        "bronze": os.path.join(d, "bronze"), "ckpt": os.path.join(d, "checkpoint"),
        "rounds": 0, "rows_put": 0, "stream_ops": [],
        "folds": 0, "pruned": 0, "dirs_considered": 0, "progress": [],
    }


def discard(ctx: Context, state: dict) -> None:
    import shutil

    shutil.rmtree(state["dir"], ignore_errors=True)


# ---- operations -------------------------------------------------------------------


def _commit(ctx: Context, state: dict, kind: str) -> tuple[bool, dict]:
    table, model, rng, nrng = state["table"], state["model"], state["rng"], state["nrng"]
    spark = ctx.spark
    if kind == "append":
        keys = np.arange(model.next_key, model.next_key + APPEND_ROWS)
        model.next_key += APPEND_ROWS
        rows = _rows(nrng, keys)
        with ctx.tracer.span("snapshots.append"):
            snap = table.write(spark.createDataFrame(rows), mode="append")
        changes = len(keys)
    elif kind == "upsert":
        old = rng.sample(sorted(model.rows), UPSERT_ROWS // 2)
        keys = np.array(old + list(range(model.next_key, model.next_key + UPSERT_ROWS - len(old))))
        model.next_key += UPSERT_ROWS - len(old)
        rows = _rows(nrng, keys)
        with ctx.tracer.span("snapshots.upsert"):
            snap = table.merge_upsert(spark.createDataFrame(rows), KEY)
        changes = 2 * len(keys)  # delete-then-insert per incoming key
    else:
        keys = np.array(rng.sample(sorted(model.rows), DELETE_KEYS))
        rows = None
        with ctx.tracer.span("snapshots.delete"):
            snap = table.delete_keys(spark.createDataFrame([(int(k),) for k in keys], [KEY]), KEY)
        changes = len(keys)
    if rows is not None:
        state["input_bytes"] += rows.nbytes
        prices = (round(p * 100) for p in rows.column("o_totalprice").to_pylist())
        model.rows.update(zip(keys.tolist(), prices))
    else:
        for k in keys.tolist():
            model.rows.pop(k, None)
    model.commit(snap.snapshot_id, changes)
    head = table.current_snapshot_id()
    if head != snap.snapshot_id:  # the commit triggered an auto-fold
        state["folds"] += 1
        model.commit(head, 0)
    return True, {"snapshot": snap.snapshot_id}


def _read(ctx: Context, state: dict, kind: str) -> tuple[bool, dict]:
    from pyspark.sql import functions as F

    from deathmetal_datalake_spark.plans.registry import dsum

    table, model, rng, tr = state["table"], state["model"], state["rng"], ctx.tracer
    if kind == "head":
        with tr.span("snapshots.read.plan"):
            df = table.read()
        with tr.span("snapshots.read.exec"):
            row = df.agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "s")).first()
        ok = row["n"] == len(model.rows) and round(row["s"] * 100) == sum(model.rows.values())
        return ok, {}
    if kind == "point":
        if rng.random() < 0.5:
            key, want = rng.choice(sorted(model.rows)), 1
        else:
            key = rng.randrange(model.next_key + 1000)
            want = 1 if key in model.rows else 0
        filters = [(KEY, "=", key)]
        with tr.span("snapshots.read.plan"):
            df = table.read(filters=filters)
        with tr.span("snapshots.read.exec"):
            got = len(df.collect())
        if tr.enabled:
            kept, pruned = table.scan_dirs(filters)
            state["pruned"] += len(pruned)
            state["dirs_considered"] += len(kept) + len(pruned)
        return got == want, {}
    if kind == "travel":
        sid = rng.choice(sorted(model.count_at))
        with tr.span("snapshots.read.plan"):
            df = table.read(snapshot_id=sid)
        with tr.span("snapshots.read.exec"):
            got = df.count()
        return got == model.count_at[sid], {}
    # changes: anchor on one of the last few commits
    anchor = rng.choice([s for s, _ in model.changes_at[-5:-1]] or [model.changes_at[0][0]])
    with tr.span("snapshots.changes.plan"):
        df = table.read_changes(anchor)
    with tr.span("snapshots.changes.exec"):
        got = df.count()
    return got == model.changes_since(anchor), {}


def _stream_round(ctx: Context, state: dict) -> tuple[bool, dict]:
    from deathmetal_datalake_spark.streaming.landing import stream_records_to_bronze

    tr, transport = ctx.tracer, state["transport"]
    text = reviews_burst(ctx.seed, state["rounds"], BURST_ROWS)
    header, body = text.split("\n", 1)
    lines = body.splitlines()
    part = len(lines) // SHARDS
    records = 0
    with tr.span("stream.round") as sp:
        with tr.span("transport.put"):
            for s in range(SHARDS):
                chunk = lines[s * part:] if s == SHARDS - 1 else lines[s * part:(s + 1) * part]
                records += len(transport.put_csv_in_chunks(
                    "reviews", f"reviews-{s}", "\n".join([header] + chunk), max_bytes=256 * 1024))
        with tr.span("stream.start"):
            q = stream_records_to_bronze(ctx.spark, state["stream"], REVIEWS_HEADER,
                                         state["bronze"], state["ckpt"])
        if sp is not None:
            sp.attrs["run_id"] = str(q.runId)
        with tr.span("stream.drain"):
            q.awaitTermination()
    state["rounds"] += 1
    state["rows_put"] += len(lines)
    state["progress"].extend(q.recentProgress)
    return q.exception() is None, {"rows": len(lines), "records": records, "bytes": len(text.encode("utf-8"))}


def run_op(ctx: Context, state: dict, kind: str, op_id: str) -> Op:
    t0 = now()
    with ctx.tracer.span(f"churn.{kind}", op=op_id):
        if kind in COMMITS:
            ok, info = _commit(ctx, state, kind)
        elif kind == "stream":
            ok, info = _stream_round(ctx, state)
        else:
            ok, info = _read(ctx, state, kind)
    return Op(kind, t0, now(), ok, {"client": "writer", **info})


def deck() -> list[str]:
    cards = [k for k, n in DECK.items() for _ in range(n)]
    random.Random(0).shuffle(cards)
    return cards


def warmup(ctx: Context, state: dict) -> None:
    for kind in DECK:
        run_op(ctx, state, kind, f"warm-{kind}")
    while len(state["table"].history()[-1].deletes) < WARM_DELETE_VECTORS:
        run_op(ctx, state, "delete", "warm-delete")
    state["progress"].clear()
    state["folds"] = 0


def measure(ctx: Context, state: dict, deadline: float) -> None:
    i = 0
    while now() < deadline:
        for kind in deck():  # whole decks in one order: the mix is the same every run
            op = run_op(ctx, state, kind, f"op{i}")
            ctx.record(op)
            if kind == "stream":
                state["stream_ops"].append(op)
            i += 1


def verify(ctx: Context, state: dict) -> list[str]:
    from pyspark.sql import functions as F

    problems = [f"{op.kind} op {n}: result differs from the model"
                for n, op in enumerate(ctx.ops) if not op.ok and op.info["client"] == "writer"]
    bronze = ctx.spark.read.parquet(state["bronze"])
    row = bronze.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("id").alias("ids")).first()
    if row["n"] != state["rows_put"] or row["ids"] != state["rows_put"]:
        problems.append(f"bronze holds {row['n']} rows / {row['ids']} ids, {state['rows_put']} were put")
        for op in state["stream_ops"]:
            op.ok = False
    return problems


def bytes_written_per_input_byte(state: dict) -> float:
    table_dir = os.path.join(state["dir"], "orders")
    data_bytes, _ = dir_bytes(os.path.join(table_dir, "data"))
    meta_bytes, _ = dir_bytes(os.path.join(table_dir, "metadata"))
    return (data_bytes + meta_bytes) / state["input_bytes"]


_PROGRESS = {
    "stream.latest_offset_share": "latestOffset",
    "stream.query_planning_share": "queryPlanning",
    "stream.add_batch_share": "addBatch",
    "stream.wal_commit_share": "walCommit",
    "stream.trigger_share": "triggerExecution",
}


def layer_extra(ctx: Context, state: dict, ops: list[Op]) -> dict:
    table, table_dir = state["table"], os.path.join(state["dir"], "orders")
    data_bytes, data_files = dir_bytes(os.path.join(table_dir, "data"))
    meta_bytes, _ = dir_bytes(os.path.join(table_dir, "metadata"))
    head = table.history()[-1]
    live = sum(dir_bytes(d)[0] for d in head.data_dirs)
    rounds = max(1, len(state["stream_ops"]))
    batches = [p for p in state["progress"] if p["numInputRows"] > 0]
    out = {
        "snapshots.fold_count": float(state["folds"]),
        "snapshots.dirs_considered": float(state["dirs_considered"]),
        "snapshots.dirs_pruned_ratio": state["pruned"] / state["dirs_considered"] if state["dirs_considered"] else 0.0,
        "snapshots.manifest_bytes": float(meta_bytes),
        "snapshots.data_files": float(data_files),
        "snapshots.bytes_per_live_byte": (data_bytes + meta_bytes) / live if live else 0.0,
        "snapshots.bytes_written_per_input_byte": bytes_written_per_input_byte(state),
        "transport.records": sum(op.info["records"] for op in state["stream_ops"]) / rounds,
        "transport.bytes": sum(op.info["bytes"] for op in state["stream_ops"]) / rounds,
        "stream.rows_per_batch": BURST_ROWS * rounds / len(batches) if batches else 0.0,
    }
    round_s = sum(op.latency for op in state["stream_ops"])
    for name, key in _PROGRESS.items():
        out[name] = sum(p["durationMs"].get(key, 0) for p in state["progress"]) / 1000.0 / round_s
    return out
