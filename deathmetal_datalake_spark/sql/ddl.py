"""SQL-facing catalog surface — the Trino DDL re-expressed as Spark SQL.

Reference: ``scripts/trino_create_tables.sql`` — schemas :9-11, tables
:19-108, the ranking view :114-121. The reference's DDL types diverge
from its flow outputs (SURVEY.md §1.2); here views are registered over
the parquet the flows actually wrote, so SQL users and DataFrame users
see one schema (single-sourced via schemas.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def register_zone_tables(spark: SparkSession, paths: dict[str, str], prefix: str = "") -> None:
    """CREATE OR REPLACE TEMP VIEW {prefix}{name} over each zone table
    (analog of CREATE TABLE IF NOT EXISTS per zone,
    ``scripts/trino_create_tables.sql:19-108``)."""
    for name, path in paths.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {prefix}{name} "
            f"USING parquet OPTIONS (path '{path}')"
        )


# ---------------------------------------------------------------------------
# Typed DDL surface — the reference's Trino CREATE TABLE statements
# (``scripts/trino_create_tables.sql:19-108``) rendered as Spark SQL, so
# the SQL-facing schema is DDL-pinned rather than parquet-footer-derived.
# Type mapping: BIGINT→BIGINT, VARCHAR→STRING, INTEGER→INT,
# DOUBLE→DOUBLE, TIMESTAMP→TIMESTAMP_NTZ (Trino's plain TIMESTAMP is
# wall-clock; TIMESTAMP_NTZ is the repo-wide convention, TESTDATA.md).
# ---------------------------------------------------------------------------

TRINO_DDL_TABLES: dict[str, list[tuple[str, str]]] = {
    # scripts/trino_create_tables.sql:19-27
    "bronze.albums": [
        ("id", "BIGINT"), ("title", "STRING"), ("band", "BIGINT"),
        ("year", "INT"), ("genre", "STRING"), ("created_at", "TIMESTAMP_NTZ"),
    ],
    # :29-36
    "bronze.bands": [
        ("id", "BIGINT"), ("name", "STRING"), ("country", "STRING"),
        ("formed_in", "INT"), ("created_at", "TIMESTAMP_NTZ"),
    ],
    # :38-45
    "bronze.reviews": [
        ("id", "BIGINT"), ("album", "BIGINT"), ("reviewer", "STRING"),
        ("score", "DOUBLE"), ("created_at", "TIMESTAMP_NTZ"),
    ],
    # :51-58
    "silver.albums": [
        ("album_id", "BIGINT"), ("album_title", "STRING"), ("band_id", "BIGINT"),
        ("year", "INT"), ("genre", "STRING"),
    ],
    # :60-66
    "silver.bands": [
        ("band_id", "BIGINT"), ("band_name", "STRING"), ("country", "STRING"),
        ("formed_in", "INT"),
    ],
    # :68-73
    "silver.reviews": [
        ("review_id", "BIGINT"), ("album_id", "BIGINT"), ("score", "DOUBLE"),
    ],
    # :75-84
    "silver.music_catalog": [
        ("album_id", "BIGINT"), ("album_title", "STRING"), ("band_id", "BIGINT"),
        ("band_name", "STRING"), ("country", "STRING"), ("year", "INT"),
        ("genre", "STRING"),
    ],
    # :90-97
    "gold.top10_by_country": [
        ("country", "STRING"), ("band_id", "BIGINT"), ("band_name", "STRING"),
        ("review_count", "BIGINT"), ("avg_score", "DOUBLE"),
    ],
    # :99-108
    "gold.band_avg_scores": [
        ("band_id", "BIGINT"), ("band_name", "STRING"), ("country", "STRING"),
        ("review_count", "BIGINT"), ("avg_score", "DOUBLE"),
        ("min_score", "DOUBLE"), ("max_score", "DOUBLE"),
    ],
}


def render_create_table(qualified: str) -> str:
    """One Trino CREATE TABLE rendered as Spark SQL (USING PARQUET is the
    analog of Trino's WITH (format = 'PARQUET'))."""
    cols = ",\n    ".join(f"{c} {t}" for c, t in TRINO_DDL_TABLES[qualified])
    return (
        f"CREATE TABLE IF NOT EXISTS {qualified} (\n    {cols}\n) USING PARQUET"
    )


def create_typed_tables(spark: SparkSession) -> None:
    """Replay the full reference DDL: three zone schemas
    (``trino_create_tables.sql:9-11``) + nine typed tables (:19-108).
    Idempotent, like the reference's IF NOT EXISTS run-once script."""
    for schema in ("bronze", "silver", "gold"):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    for qualified in TRINO_DDL_TABLES:
        spark.sql(render_create_table(qualified))


def drop_typed_tables(spark: SparkSession) -> None:
    """Inverse of :func:`create_typed_tables` (test/teardown helper)."""
    for schema in ("bronze", "silver", "gold"):
        spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")


RANKING_VIEW_SQL = """
CREATE OR REPLACE TEMPORARY VIEW band_score_ranking AS
SELECT band_name,
       avg_score,
       review_count,
       country
FROM {scores_view}
ORDER BY avg_score DESC, band_id ASC
LIMIT 100
"""


def create_ranking_view(spark: SparkSession, scores_view: str = "band_avg_scores") -> None:
    """The gold ranking view (``scripts/trino_create_tables.sql:114-121``)
    with the ``band_score_ranking`` mart's deterministic band_id
    tie-break (SURVEY.md §7.4); band_name is not unique."""
    spark.sql(RANKING_VIEW_SQL.format(scores_view=scores_view))
