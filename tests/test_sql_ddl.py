"""SQL catalog surface: zone views + the ranking view (S14/O6)."""

from __future__ import annotations

import pytest

from deathmetal_datalake_spark.flows.bronze import bronze_flow
from deathmetal_datalake_spark.flows.gold import band_score_ranking, gold_flow
from deathmetal_datalake_spark.flows.silver import silver_flow
from deathmetal_datalake_spark.sql.ddl import create_ranking_view, register_zone_tables
from tests.deathmetal_fixtures import generate


@pytest.fixture(scope="module")
def zones(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("sqlzones")
    generate(str(base))
    bronze = bronze_flow(spark, str(base / "landing"), str(base / "bronze"))
    silver = silver_flow(spark, bronze, str(base / "silver"))
    gold = gold_flow(spark, silver, str(base / "gold"))
    return silver, gold


def test_sql_over_zone_views(spark, zones):
    silver, gold = zones
    register_zone_tables(spark, silver)
    register_zone_tables(spark, gold)
    got = spark.sql(
        """
        SELECT country, COUNT(*) AS n
        FROM music_catalog
        WHERE band_name IS NOT NULL
        GROUP BY country ORDER BY n DESC, country LIMIT 3
        """
    ).collect()
    assert len(got) == 3 and got[0]["n"] >= got[1]["n"]


def test_ranking_view_top100(spark, zones):
    silver, gold = zones
    register_zone_tables(spark, gold)
    create_ranking_view(spark)
    rows = spark.sql("SELECT * FROM band_score_ranking").collect()
    assert 0 < len(rows) <= 100
    scores = [r["avg_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # The view and the band_score_ranking mart share one tie-break.
    mart = spark.read.parquet(gold["band_score_ranking"]).select(
        "band_name", "avg_score", "review_count", "country"
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in mart.collect()]
    # 150 bands tied on avg_score, band_name descending as band_id rises:
    # the cut at 100 keeps the lowest band_ids in both.
    tied = spark.createDataFrame(
        [(i, f"band {999 - i}", 50.0, 3, "Sweden") for i in range(150)],
        "band_id BIGINT, band_name STRING, avg_score DOUBLE, review_count BIGINT, country STRING",
    )
    tied.createOrReplaceTempView("tied_scores")
    create_ranking_view(spark, "tied_scores")
    rows = spark.sql("SELECT * FROM band_score_ranking").collect()
    mart = band_score_ranking(tied).select("band_name", "avg_score", "review_count", "country")
    assert [tuple(r) for r in rows] == [tuple(r) for r in mart.collect()]


def test_typed_ddl_pins_reference_types(spark):
    from deathmetal_datalake_spark.sql.ddl import (
        TRINO_DDL_TABLES,
        create_typed_tables,
        drop_typed_tables,
    )

    create_typed_tables(spark)
    try:
        # Every table exists with exactly the DDL-pinned schema — types
        # come from the CREATE TABLE, not parquet footers.
        expected_spark_types = {
            "BIGINT": "bigint",
            "STRING": "string",
            "INT": "int",
            "DOUBLE": "double",
            "TIMESTAMP_NTZ": "timestamp_ntz",
        }
        for qualified, cols in TRINO_DDL_TABLES.items():
            dtypes = spark.table(qualified).dtypes
            assert dtypes == [
                (c, expected_spark_types[t]) for c, t in cols
            ], qualified
        # Idempotent like the reference's run-once script.
        create_typed_tables(spark)
        # Typed tables accept conforming inserts and serve SQL reads.
        spark.sql(
            "INSERT INTO silver.reviews VALUES (1, 10, 4.5), (2, 11, 3.0)"
        )
        got = spark.sql(
            "SELECT COUNT(*) AS n, SUM(score) AS s FROM silver.reviews"
        ).collect()[0]
        assert got["n"] == 2 and got["s"] == 7.5
    finally:
        drop_typed_tables(spark)
