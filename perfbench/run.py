"""Lakehouse benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run sets up ``SETUP_REPS`` times
(session start, seeded input generation; the median is ``setup_s``),
warms up once, measures for ``--seconds`` (finishing the deck or pass in
flight), checks every output outside the timed region, and prints one
JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of
``layers.PER_LAYER`` from spans around the calls into each layer. The
human-readable summary, including the workload's own metric names, goes
to stderr; the full record and the spans are written under
``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402
from harness import Context, now  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import median, tail  # noqa: E402

SETUP_REPS = 5

# name, unit, better — printed by every untraced run, for every workload.
# A window holds one fixed mix of operations (two passes; one deck per
# client side): too few samples per kind for a percentile with ten samples
# beyond it, so latency is bounded as the mean over the mix, and medians,
# maxima and per-kind figures go to the record.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_mean_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("memory_mb", "MB", "lower"),
]


def _workloads() -> dict:
    import medallion
    import serving

    return {m.NAME: m for m in (medallion, serving)}


def _named_metrics(name: str, ops, window_s: float, extra: dict) -> dict:
    """The workload's end-to-end figures under the names of its own layers."""
    out: dict = {"bytes_written_per_input_byte": extra["bytes_written_per_input_byte"]}
    if name == "medallion_batch":
        out["pipeline_s"] = median([op.latency for op in ops])
        return out
    groups = {
        "query": [op for op in ops if op.info["client"] == "reader"],
        "commit": [op for op in ops if op.kind in ("append", "upsert", "delete")],
        "read": [op for op in ops if op.kind in ("head", "point", "travel", "changes")],
    }
    for group, members in groups.items():
        xs = [op.latency for op in members]
        out[f"{group}_p50_s"] = median(xs)
        out[f"{group}_tail_s"], out[f"{group}_tail_pct"] = tail(xs, len(xs))
    out["queries_per_s"] = len(groups["query"]) / window_s
    rounds = [op for op in ops if op.kind == "stream"]
    out["stream_latency_p50_s"] = median([op.latency for op in rounds])
    out["stream_rows_per_s"] = sum(op.info["rows"] for op in rounds) / sum(op.latency for op in rounds)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[args.workload]
    # Fail fast, before any set-up, when the program is not importable.
    import deathmetal_datalake_spark.session  # noqa: F401

    work_dir = os.path.join(harness.WORK_ROOT, f"{wl.NAME}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    harness.prepare_environment(work_dir)
    tracer = Tracer(enabled=False)
    ctx = Context(seed=args.seed, seconds=args.seconds, tracer=tracer, work_dir=work_dir)
    spark = None
    try:
        setup_s, session_s, state = [], [], None
        for rep in range(SETUP_REPS):
            if state is not None:
                wl.discard(ctx, state)
                spark.stop()
            t0 = now()
            spark = ctx.spark = harness.start_session(work_dir, traced=bool(args.trace))
            session_s.append(now() - t0)
            state = wl.setup(ctx, rep)
            setup_s.append(now() - t0)
        t0 = now()
        wl.warmup(ctx, state)
        warmup_s = now() - t0

        tracer.spark = spark
        tracer.enabled = bool(args.trace)
        t0 = now()
        wl.measure(ctx, state)
        window_s = now() - t0
        tracer.enabled = False

        problems = wl.verify(ctx, state)
        ops = ctx.ops
        failed = sum(1 for op in ops if not op.ok)
        lat = [op.latency for op in ops]
        extra = wl.report(ctx, state, ops)
        memory = harness.memory_mb(spark)
        e2e = {
            "setup_s": median(setup_s),
            "op_mean_s": sum(lat) / len(lat),
            "ops_per_s": len(ops) / window_s,
            "memory_mb": memory["python_hwm_mb"] + memory["jvm_heap_after_gc_mb"],
        }
        op_tail, tail_pct = tail(lat, wl.NOMINAL_OPS)
        record = {
            "workload": wl.NAME, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "host": harness.host_stamp(), "ops": len(ops), "failed": failed,
            "error_rate": failed / len(ops), "problems": problems[:20],
            "window_s": window_s, "warmup_s": warmup_s, "setup_reps_s": setup_s,
            "session_start_s": session_s, "tail_percentile": tail_pct,
            "end_to_end": e2e, "op_p50_s": median(lat), "op_tail_s": op_tail, "op_max_s": max(lat),
            "named": _named_metrics(wl.NAME, ops, window_s, extra),
            "ops_by_kind": _by_kind(ops), "memory": memory,
        }
        if args.trace:
            import layers

            tracer.attach_spark_metrics()
            extra_layers = wl.layer_extra(ctx, state, ops)
            extra_layers.update({
                "session.start_s": median(session_s[1:]),
                "session.cold_start_s": session_s[0],
                "run.warmup_s": warmup_s,
            })
            per_layer = layers.compute(tracer, ops, extra_layers, window_s)
            record["per_layer"] = per_layer
            tracer.dump(os.path.join(harness.WORK_ROOT, f"spans-{wl.NAME}-{args.seed}.json"))
            metrics = {name: {"value": per_layer[name], "unit": unit} for name, unit, _, _ in layers.PER_LAYER}
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit, _ in END_TO_END}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    with open(os.path.join(harness.WORK_ROOT, f"record-{wl.NAME}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    _summary(record)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


def _by_kind(ops) -> dict:
    out: dict = {}
    for op in ops:
        out.setdefault(op.kind, []).append(op.latency)
    return {k: {"n": len(v), "p50_s": median(v)} for k, v in sorted(out.items())}


def _summary(record: dict) -> None:
    err = sys.stderr
    print(f"# {record['workload']} seed={record['seed']} host={record['host']}", file=err)
    print(f"# ops={record['ops']} failed={record['failed']} error_rate={record['error_rate']:.4f} "
          f"window={record['window_s']:.2f}s warmup={record['warmup_s']:.2f}s "
          f"tail={record['tail_percentile']}", file=err)
    for k, v in {**record["end_to_end"], **record["named"]}.items():
        print(f"#   {k} = {v}", file=err)
    for p in record["problems"]:
        print(f"# PROBLEM {p}", file=err)


if __name__ == "__main__":
    sys.exit(main())
