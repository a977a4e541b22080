"""Per-layer metrics of the traced run, and the end-to-end metric each one
is expected to move.

Layers are the package's modules. A layer's time is reported as a share:
its self time over the time of the operations that enclose it (pipeline
passes, queries, table operations, stream rounds), so figures do not
depend on how many operations fit in a window, and a layer a workload
does not call reads 0 rather than a time. Multiply by the operation
latency in the run record for seconds. Counts and bytes are per call.
"""

from __future__ import annotations

from harness import Op, nproc
from spans import Span, Tracer, self_time
from stats import median

# name, unit, better, the end-to-end metric (and workload) it should move
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s, all workloads"),
    ("session.cold_start_s", "s", "lower", "setup_s (JVM launch), all workloads"),
    ("run.warmup_s", "s", "lower", "setup_s, all workloads"),
    ("ingest.busy_share", "ratio", "lower", "op_mean_s on medallion_batch"),
    ("ingest.chunks", "count", "lower", "op_mean_s on medallion_batch"),
    ("ingest.bytes", "bytes", "lower", "op_mean_s on medallion_batch"),
    ("bronze.busy_share", "ratio", "lower", "op_mean_s on medallion_batch"),
    ("bronze.spark_jobs", "count", "lower", "op_mean_s on medallion_batch (schema inference is a second CSV pass)"),
    ("bronze.rows_out", "count", "lower", "op_mean_s on medallion_batch"),
    ("bronze.bytes_written", "bytes", "lower", "medallion.bytes_written_per_input_byte"),
    ("bronze.files_written", "count", "lower", "op_mean_s on medallion_batch"),
    ("bronze.shuffle_write_bytes", "bytes", "lower", "op_mean_s on medallion_batch"),
    ("silver.busy_share", "ratio", "lower", "op_mean_s on medallion_batch"),
    ("silver.spark_jobs", "count", "lower", "op_mean_s on medallion_batch"),
    ("silver.input_bytes_read", "bytes", "lower", "op_mean_s on medallion_batch"),
    ("silver.bytes_written", "bytes", "lower", "medallion.bytes_written_per_input_byte"),
    ("silver.read_per_write", "ratio", "lower", "op_mean_s on medallion_batch (marts re-derive typed frames)"),
    ("gold.busy_share", "ratio", "lower", "op_mean_s on medallion_batch"),
    ("gold.spark_jobs", "count", "lower", "op_mean_s on medallion_batch"),
    ("gold.stages", "count", "lower", "op_mean_s on medallion_batch (scores feeds three marts uncached)"),
    ("gold.core_util", "ratio", "higher", "op_mean_s on medallion_batch"),
    ("analysis.busy_share", "ratio", "lower", "op_mean_s on medallion_batch"),
    ("analysis.rows_out", "count", "lower", "op_mean_s on medallion_batch"),
    ("medallion.bytes_written_per_input_byte", "ratio", "lower", "op_mean_s on medallion_batch"),
    ("plans.build_share", "ratio", "lower", "op_mean_s on serving_mix (readers)"),
    ("plans.build_jobs", "count", "lower", "op_mean_s on serving_mix (eager work at plan time)"),
    ("plans.exec_share", "ratio", "lower", "op_mean_s and ops_per_s on serving_mix (readers)"),
    ("plans.relational.exec_rel", "ratio", "lower", "op_mean_s on serving_mix (readers)"),
    ("plans.events.exec_rel", "ratio", "lower", "op_mean_s on serving_mix (readers)"),
    ("plans.text.exec_rel", "ratio", "lower", "op_mean_s on serving_mix (readers)"),
    ("plans.dedup.exec_rel", "ratio", "lower", "op_mean_s on serving_mix (readers)"),
    ("plans.similarity.exec_rel", "ratio", "lower", "op_mean_s on serving_mix (readers)"),
    ("snapshots.append.busy_share", "ratio", "lower", "op_mean_s on serving_mix (writer)"),
    ("snapshots.upsert.busy_share", "ratio", "lower", "op_mean_s on serving_mix (writer)"),
    ("snapshots.delete.busy_share", "ratio", "lower", "op_mean_s on serving_mix (writer; auto-fold spikes)"),
    ("snapshots.fold_count", "count", "lower", "op_mean_s on serving_mix (writer)"),
    ("snapshots.read.plan_share", "ratio", "lower", "op_mean_s on serving_mix (writer)"),
    ("snapshots.read.exec_share", "ratio", "lower", "op_mean_s on serving_mix (writer)"),
    ("snapshots.changes.plan_share", "ratio", "lower", "op_mean_s on serving_mix (writer)"),
    ("snapshots.dirs_pruned_ratio", "ratio", "higher", "op_mean_s on serving_mix (writer point lookups)"),
    ("snapshots.dirs_considered", "count", "lower", "base of snapshots.dirs_pruned_ratio"),
    ("snapshots.manifest_bytes", "bytes", "lower", "snapshots.bytes_written_per_input_byte"),
    ("snapshots.data_files", "count", "lower", "op_mean_s on serving_mix (writer) as history grows"),
    ("snapshots.bytes_per_live_byte", "ratio", "lower", "snapshots.bytes_written_per_input_byte"),
    ("snapshots.bytes_written_per_input_byte", "ratio", "lower", "op_mean_s on serving_mix (writer)"),
    ("transport.put_share", "ratio", "lower", "stream round latency on serving_mix (writer)"),
    ("transport.records", "count", "lower", "stream round latency on serving_mix (writer)"),
    ("transport.bytes", "bytes", "lower", "stream round latency on serving_mix (writer)"),
    ("stream.start_share", "ratio", "lower", "stream round latency on serving_mix (writer)"),
    ("stream.latest_offset_share", "ratio", "lower", "stream round latency on serving_mix (writer)"),
    ("stream.query_planning_share", "ratio", "lower", "stream round latency on serving_mix (writer)"),
    ("stream.add_batch_share", "ratio", "lower", "stream round latency on serving_mix (writer)"),
    ("stream.wal_commit_share", "ratio", "lower", "stream round latency on serving_mix (writer)"),
    ("stream.trigger_share", "ratio", "lower", "stream round latency on serving_mix (writer)"),
    ("stream.rows_per_batch", "count", "higher", "stream rows per second on serving_mix (writer)"),
    ("spark.tasks", "count", "lower", "op_mean_s, every workload"),
    ("spark.executor_run_s", "s", "lower", "op_mean_s, every workload"),
    ("spark.gc_s", "s", "lower", "op_mean_s, every workload"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "op_mean_s, every workload"),
    ("spark.spill_bytes", "bytes", "lower", "op_mean_s, every workload"),
    ("spark.core_util", "ratio", "higher", "ops_per_s, every workload"),
    ("trace.overhead_s", "s", "lower", "tracing cost in this run (bookkeeping and REST fetch)"),
    ("trace.spans", "count", "lower", "tracing cost in this run"),
    ("trace.op_mean_s", "s", "lower", "op_mean_s of the traced run; minus the untraced op_mean_s is the overhead"),
]


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _by_name(tracer: Tracer) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = {}
    for s in tracer.spans:
        out.setdefault(s.name, []).append(s)
    return out


def compute(tracer: Tracer, ops: list[Op], extra: dict, window_s: float) -> dict[str, float]:
    """Every ``PER_LAYER`` metric from the spans of the measured window;
    ``extra`` supplies the ones the workload measures outside spans."""
    names = _by_name(tracer)
    kids = tracer.children()

    def share(name: str, *parents: str) -> float:
        """Self time in ``name`` over the time of the operations enclosing it."""
        part = sum(self_time(s, kids.get(s.sid, [])) for s in names.get(name, []))
        whole = sum(s.duration for p in parents for s in names.get(p, []))
        return part / whole if whole else 0.0

    def spark(name: str, key: str) -> float:
        return _mean([s.spark.get(key, 0) for s in names.get(name, [])])

    out = {m[0]: 0.0 for m in PER_LAYER}
    for layer in ("ingest", "bronze", "silver", "gold", "analysis"):
        out[f"{layer}.busy_share"] = share(layer, "medallion.pass")
    for layer in ("bronze", "silver", "gold"):
        out[f"{layer}.spark_jobs"] = spark(layer, "jobs")
    out["bronze.rows_out"] = spark("bronze", "output_records")
    out["bronze.shuffle_write_bytes"] = spark("bronze", "shuffle_write_bytes")
    out["silver.input_bytes_read"] = spark("silver", "input_bytes")
    out["gold.stages"] = spark("gold", "stages")
    gold_wall = _mean([s.duration for s in names.get("gold", [])])
    if gold_wall:
        out["gold.core_util"] = spark("gold", "executor_run_ms") / 1000.0 / (gold_wall * nproc())

    out["plans.build_share"] = share("plans.build", "plans.query")
    out["plans.build_jobs"] = spark("plans.build", "jobs")
    out["plans.exec_share"] = share("plans.exec", "plans.query")
    execs: dict[str, list[float]] = {}
    for q in names.get("plans.query", []):
        for c in kids.get(q.sid, []):
            if c.name == "plans.exec":
                execs.setdefault(q.attrs["family"], []).append(c.duration)
    everything = [d for ds in execs.values() for d in ds]
    for fam, ds in execs.items():
        out[f"plans.{fam}.exec_rel"] = median(ds) / median(everything)

    for kind in ("append", "upsert", "delete"):
        out[f"snapshots.{kind}.busy_share"] = share(f"snapshots.{kind}", f"churn.{kind}")
    reads = ("churn.head", "churn.point", "churn.travel")
    out["snapshots.read.plan_share"] = share("snapshots.read.plan", *reads)
    out["snapshots.read.exec_share"] = share("snapshots.read.exec", *reads)
    out["snapshots.changes.plan_share"] = share("snapshots.changes.plan", "churn.changes")

    out["transport.put_share"] = share("transport.put", "churn.stream")
    out["stream.start_share"] = share("stream.start", "churn.stream")

    top = [s for s in tracer.spans if s.parent is None]
    totals: dict[str, float] = {}
    for s in tracer.spans:
        for k, v in s.spark.items():
            totals[k] = totals.get(k, 0) + v
    n_ops = max(1, len(top))
    out["spark.tasks"] = totals.get("tasks", 0) / n_ops
    out["spark.executor_run_s"] = totals.get("executor_run_ms", 0) / 1000.0 / n_ops
    out["spark.gc_s"] = totals.get("gc_ms", 0) / 1000.0 / n_ops
    out["spark.shuffle_write_bytes"] = totals.get("shuffle_write_bytes", 0) / n_ops
    out["spark.spill_bytes"] = totals.get("spill_bytes", 0) / n_ops
    out["spark.core_util"] = totals.get("executor_run_ms", 0) / 1000.0 / (window_s * nproc())

    out["trace.spans"] = float(len(tracer.spans))
    out["trace.op_mean_s"] = _mean([op.latency for op in ops])
    out.update(extra)
    if out["silver.bytes_written"]:
        out["silver.read_per_write"] = out["silver.input_bytes_read"] / out["silver.bytes_written"]
    out["trace.overhead_s"] = tracer.overhead_s
    return out
