"""Bronze flow: landing CSVs → normalized, deduplicated snappy Parquet.

Reference: ``flows/bronze.py:61-99`` (CSV → Polars → parquet per object,
with name normalization at :30-40 and ``unique()`` at :80), fan-out via
Prefect ``.map`` (:112).

Spark-first restructuring: one multi-file CSV scan per dataset replaces
the reference's per-object tasks (Spark parallelizes within the scan),
and the sink is a *directory* of part-files instead of the reference's
single object (``flows/bronze.py:92``) — the single-object layout
serializes the write and caps downstream read parallelism at 1 task; a
directory scales writes and reads with the cluster.

The reference's per-dataset fan-out survives as :func:`fan_out`: the
datasets are independent, so each one's schema inference and write run
as concurrent Spark jobs from its own thread. At this scale every job
is a few tasks and a fixed driver cost, so overlapping them fills the
idle cores; the pool is as wide as the step has outputs, so no job of
the step waits for a thread. Silver and gold fan out the same way.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from deathmetal_datalake_spark.operators.columns import normalize_column_names
from deathmetal_datalake_spark.schemas import DATASETS

# Reference infers from the first 5000 rows (`flows/bronze.py:74`).
# Spark's samplingRatio-based inference reads a fraction instead; for
# parity-of-intent we keep full-file inference at small scale and note
# that at 100 TB bronze should use declared schemas (schemas.py).
_INFER_OPTIONS = {"header": "true", "inferSchema": "true"}


def write_parquet(df: DataFrame, dest: str) -> None:
    """The medallion sink: overwrite a directory of snappy part-files."""
    df.write.mode("overwrite").option("compression", "snappy").parquet(dest)


def fan_out(spark: SparkSession, fn: Callable[[str], None], names: Iterable[str]) -> None:
    """Run ``fn(name)`` for every name at once, one thread per name.

    Each call's Spark jobs are submitted concurrently to the one
    SparkContext. The worker is wrapped when the call is made, so the
    pool threads carry the caller's job group, description and tags
    (pinned-thread mode does not copy them into new threads). The
    exception of the first failing name re-raises here unchanged, once
    every call has finished.
    """
    names = list(names)
    target = inheritable_thread_target(spark)(fn)
    with ThreadPoolExecutor(max_workers=max(len(names), 1)) as pool:
        list(pool.map(target, names))


def bronze_dataset(spark: SparkSession, landing_dir: str, dataset: str) -> DataFrame:
    """Read every landing CSV chunk of one dataset and normalize it.

    The multi-file read implicitly unions chunks (reference operator
    S6/S7); chunk files each carry a header (``flows/landing.py:38-47``)
    which the ``header`` option strips per-file. Embedded header rows
    that survive mid-file are handled downstream at silver (P11).
    """
    path = os.path.join(landing_dir, dataset)
    df = spark.read.options(**_INFER_OPTIONS).csv(path)
    # P1 normalize + dedupe column names (`flows/bronze.py:30-40`),
    # P13 full-row dedupe (`flows/bronze.py:80`).
    return normalize_column_names(df).dropDuplicates()


def bronze_flow(
    spark: SparkSession,
    landing_dir: str,
    bronze_dir: str,
    datasets: tuple[str, ...] = DATASETS,
) -> dict[str, str]:
    """landing/{ds}/*.csv → bronze/{ds}/ parquet, every dataset at
    once. Returns path map."""
    # Dataset-presence conditional (`flows/silver.py:169-183`).
    out = {
        ds: os.path.join(bronze_dir, ds)
        for ds in datasets
        if os.path.isdir(os.path.join(landing_dir, ds))
    }
    fan_out(spark, lambda ds: write_parquet(bronze_dataset(spark, landing_dir, ds), out[ds]), out)
    return out
