"""Gold flow: the four analytical marts + the ranking view.

Reference: ``flows/gold.py:76-167`` and the Trino view
``scripts/trino_create_tables.sql:114-121``. Determinism fixes applied
per SURVEY.md §7.4: O5's head(10)-after-sort becomes row_number with a
band_id tie-break; O1/O2's sort-direction disagreement resolves to the
Daft variant (country asc, count desc); counts are row-counts.

The reference materializes music/reviews once for the empty guard and
again per mart (``flows/gold.py:151`` then ``:62``). Here the J4 join
and its per-band aggregate run once: ``band_avg_scores`` is written,
and the three marts built on the same groups (G1, G4, O6) read the
written parquet back. ``avg_score`` is an exact decimal sum divided
once by the non-null count, so it does not depend on partitioning and
the ranking cut is the same on every run.

The marts are written in two concurrent steps (:func:`fan_out`, one
thread per output): ``band_avg_scores`` with ``band_album_counts``,
then the three marts that read ``band_avg_scores`` back. Every read
declares its schema — the silver contracts, and the schema of the frame
just written — so no read launches a footer-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deathmetal_datalake_spark.flows.bronze import fan_out, write_parquet
from deathmetal_datalake_spark.operators.cleaning import normalize_country
from deathmetal_datalake_spark.operators.topk import top_n_per_group
from deathmetal_datalake_spark.schemas import ALBUM_REVIEWS, MUSIC_CATALOG

_BRAZIL_VARIANTS = ["brazil", "brasil"]


def band_avg_scores(reviews: DataFrame, music: DataFrame) -> DataFrame:
    """J4 enrichment (`flows/gold.py:85,101`: album_reviews ⟕
    music_catalog) + G2 (`flows/gold.py:97-110`): count/mean/min/max/std
    of score per band (std = stddev_samp, Polars ddof=1)."""
    joined = reviews.join(
        music.select("album_id", "band_id", "band_name", "country"), "album_id", "left"
    )
    exact_sum = F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
    return (
        joined.groupBy("band_id", "band_name", "country")
        .agg(
            F.count(F.lit(1)).alias("review_count"),
            (exact_sum / F.count("score")).alias("avg_score"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.stddev_samp("score").alias("std_score"),
        )
        .orderBy(F.desc("avg_score"))
    )


def top10_by_country(scores: DataFrame) -> DataFrame:
    """G1+O2+O5 (`flows/gold.py:82-94`): per-country top-10 bands by
    review count; deterministic row_number (desc count, asc band_id).
    G1 groups like G2, so it is a projection of G2's result."""
    top = top_n_per_group(
        scores.select("country", "band_id", "band_name", "review_count", "avg_score"),
        ["country"],
        [F.desc("review_count"), F.asc("band_id")],
        n=10,
    )
    return top.orderBy(F.asc("country"), F.desc("review_count"))


def brazilian_bands(scores: DataFrame) -> DataFrame:
    """G4 (`flows/gold.py:113-122`): derived ``country_normalized``
    column (the original is kept, as in the reference), isin brazil
    variants, sort by avg_score desc. Consumes G2's result
    (`flows/gold.py:161-162`)."""
    return (
        scores.withColumn("country_normalized", normalize_country("country"))
        .filter(F.col("country_normalized").isin(_BRAZIL_VARIANTS))
        .orderBy(F.desc("avg_score"))
    )


def band_album_counts(music: DataFrame) -> DataFrame:
    """G3 (`flows/gold.py:125-131`): albums per band, sorted desc."""
    return (
        music.groupBy("band_id", "band_name", "country")
        .agg(F.count(F.lit(1)).alias("album_count"))
        .orderBy(F.desc("album_count"))
    )


def band_score_ranking(scores: DataFrame) -> DataFrame:
    """O6 view (`scripts/trino_create_tables.sql:114-121`): global
    top-100 by avg_score, deterministic via band_id tie-break."""
    return scores.orderBy(F.desc("avg_score"), F.asc("band_id")).limit(100)


def gold_flow(
    spark: SparkSession, silver_paths: dict[str, str], gold_dir: str
) -> dict[str, str]:
    music = spark.read.schema(MUSIC_CATALOG).parquet(silver_paths["music_catalog"])
    reviews = spark.read.schema(ALBUM_REVIEWS).parquet(silver_paths["album_reviews"])

    # Empty guard (`flows/gold.py:63-65,151-153`), before any mart is written.
    if music.isEmpty() or reviews.isEmpty():
        raise ValueError("gold flow aborted: empty silver inputs")

    names = [
        "band_avg_scores", "top10_by_country", "brazilian_bands",
        "band_album_counts", "band_score_ranking",
    ]
    out = {name: os.path.join(gold_dir, name) for name in names}

    def write_all(marts: dict[str, DataFrame]) -> None:
        fan_out(spark, lambda name: write_parquet(marts[name], out[name]), marts)

    avg = band_avg_scores(reviews, music)
    write_all({"band_avg_scores": avg, "band_album_counts": band_album_counts(music)})
    scores = spark.read.schema(avg.schema).parquet(out["band_avg_scores"])
    write_all({
        "top10_by_country": top10_by_country(scores),
        "brazilian_bands": brazilian_bands(scores),
        "band_score_ranking": band_score_ranking(scores),
    })
    return out
