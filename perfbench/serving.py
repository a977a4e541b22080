"""``serving_mix``: analysts query the lakehouse while data lands.

Two reader clients (``analyst``) run catalog queries over generated
star-schema tables while one writer client (``churn``) commits to and
reads a versioned ``SnapshotTable`` and lands record-stream micro-batches
into bronze — 2 query clients and 1 producer in one process, all on one
Spark session. Each side deals whole seeded decks; the window closes when
the measuring time is up and both sides have finished their deck in
flight.
"""

from __future__ import annotations

import analyst
import churn
from harness import Context, Op, now, run_threads

NAME = "serving_mix"
NOMINAL_OPS = len(analyst.MENU) + sum(churn.DECK.values())  # one deck per side


def setup(ctx: Context, rep: int) -> dict:
    return {"reader": analyst.setup(ctx, rep), "writer": churn.setup(ctx, rep)}


def discard(ctx: Context, state: dict) -> None:
    analyst.discard(ctx, state["reader"])
    churn.discard(ctx, state["writer"])


def warmup(ctx: Context, state: dict) -> None:
    run_threads(lambda: analyst.warmup(ctx, state["reader"]), lambda: churn.warmup(ctx, state["writer"]))


def measure(ctx: Context, state: dict) -> None:
    deadline = now() + ctx.seconds
    run_threads(lambda: analyst.measure(ctx, state["reader"], deadline),
                lambda: churn.measure(ctx, state["writer"], deadline))


def verify(ctx: Context, state: dict) -> list[str]:
    return analyst.verify(ctx, state["reader"]) + churn.verify(ctx, state["writer"])


def report(ctx: Context, state: dict, ops: list[Op]) -> dict:
    return {"bytes_written_per_input_byte": churn.bytes_written_per_input_byte(state["writer"])}


def layer_extra(ctx: Context, state: dict, ops: list[Op]) -> dict:
    return churn.layer_extra(ctx, state["writer"], ops)
