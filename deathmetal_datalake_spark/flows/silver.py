"""Silver flow: typed, validated, conformed tables + join marts.

Reference: ``flows/silver.py:38-185``. Transform semantics preserved
exactly (strict vs lenient casts per column, header-row filter, regex
start_year, pipe→comma); execution is lazy end-to-end — the reference
eagerly downloads each object before wrapping it lazily
(``flows/silver.py:44-45``), which defeats pushdown; here column
pruning and predicate pushdown reach the parquet scan.

Every typed frame and both marts are built (and validated) before
anything is written, so a bad input fails the flow with an empty silver
zone. The marts recompute from the typed frames rather than reading the
written tables, so all outputs are independent and :func:`fan_out`
writes them as concurrent Spark jobs, one thread per output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deathmetal_datalake_spark.flows.bronze import fan_out, write_parquet
from deathmetal_datalake_spark.operators.cleaning import (
    drop_embedded_header_rows,
    extract_first_year,
    lenient_cast,
    pipe_to_comma,
    strict_cast,
    validate_columns,
)
from deathmetal_datalake_spark.schemas import REQUIRED_COLUMNS


def transform_albums(df: DataFrame) -> DataFrame:
    """Albums typing (`flows/silver.py:55-68`): id/band/year → Int64."""
    validate_columns(df, REQUIRED_COLUMNS["albums"], "albums")
    return df.select(
        strict_cast("id", "long").alias("id"),
        F.col("title").cast("string").alias("title"),
        strict_cast("band", "long").alias("band"),
        strict_cast("year", "long").alias("year"),
    )


def transform_bands(df: DataFrame) -> DataFrame:
    """Bands typing (`flows/silver.py:71-95`): id strict; formed_in
    lenient (invalid→NULL); status when/otherwise normalization slot
    (:87-90, a no-op by design); start_year = first (\\d{4}) in active
    (:91-94)."""
    validate_columns(df, REQUIRED_COLUMNS["bands"], "bands")
    return df.select(
        strict_cast("id", "long").alias("id"),
        F.col("name").cast("string").alias("name"),
        F.col("country").cast("string").alias("country"),
        F.col("genre").cast("string").alias("genre"),
        F.col("theme").cast("string").alias("theme"),
        F.when(F.col("status") == "Active", F.lit("Active"))
        .otherwise(F.col("status").cast("string"))
        .alias("status"),
        lenient_cast("formed_in", "long").alias("formed_in"),
        F.col("active").cast("string").alias("active"),
        extract_first_year("active").alias("start_year"),
    )


def transform_reviews(df: DataFrame) -> DataFrame:
    """Reviews typing (`flows/silver.py:98-115`): embedded-header filter
    (:108), id/album strict Int64, score Float64, content pipe→comma
    (:113). ``title`` is NOT in the reference's validation set
    (`flows/silver.py:100-105`) — it is carried through when present
    (its usage appears only downstream, `main.py:62-64`)."""
    validate_columns(df, REQUIRED_COLUMNS["reviews"], "reviews")
    cleaned = drop_embedded_header_rows(df, "id")
    title = (
        F.col("title").cast("string") if "title" in df.columns else F.lit(None).cast("string")
    )
    return cleaned.select(
        strict_cast("id", "long").alias("id"),
        strict_cast("album", "long").alias("album"),
        title.alias("title"),
        strict_cast("score", "double").alias("score"),
        pipe_to_comma(F.col("content").cast("string")).alias("content"),
    )


def create_music_catalog(albums: DataFrame, bands: DataFrame) -> DataFrame:
    """J1 mart (`flows/silver.py:118-134`): albums ⟕ bands on band_id."""
    a = albums.withColumnsRenamed({"id": "album_id", "title": "album_title", "band": "band_id"})
    b = bands.withColumnsRenamed({"id": "band_id", "name": "band_name"})
    return a.join(b, "band_id", "left").select(
        "album_id", "album_title", "year", "band_id", "band_name", "country", "genre", "theme"
    )


def create_album_reviews(reviews: DataFrame, albums: DataFrame) -> DataFrame:
    """J2 mart (`flows/silver.py:137-145`): reviews ⟕ albums on album_id."""
    r = reviews.withColumnsRenamed({"id": "review_id", "album": "album_id", "title": "review_title"})
    a = albums.withColumnsRenamed({"id": "album_id", "title": "album_title"})
    return r.join(a, "album_id", "left").select(
        "review_id", "album_id", "album_title", "score", "content"
    )


_TRANSFORMS = {
    "albums": transform_albums,
    "bands": transform_bands,
    "reviews": transform_reviews,
}


def silver_flow(
    spark: SparkSession, bronze_paths: dict[str, str], silver_dir: str
) -> dict[str, str]:
    """Bronze parquet → silver tables + marts, with the reference's
    dataset-presence conditionals (`flows/silver.py:169-183`)."""
    frames = {
        ds: _TRANSFORMS[ds](spark.read.parquet(path))
        for ds, path in bronze_paths.items()
        if ds in _TRANSFORMS
    }
    if "albums" in frames and "bands" in frames:
        frames["music_catalog"] = create_music_catalog(frames["albums"], frames["bands"])
    if "reviews" in frames and "albums" in frames:
        frames["album_reviews"] = create_album_reviews(frames["reviews"], frames["albums"])

    out = {name: os.path.join(silver_dir, name) for name in frames}
    fan_out(spark, lambda name: write_parquet(frames[name], out[name]), out)
    return out
