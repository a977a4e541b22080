"""Golden end-to-end test of the deathmetal medallion pipeline.

DuckDB recomputes every silver/gold table independently from the same
landing CSVs (SURVEY.md §5 test plan #2/#3); results are compared
order-insensitively with exact values for ints/strings and floats
rounded to 9 digits: gold ``avg_score`` is an exact decimal sum divided
once (bit-stable across partitionings, but DuckDB's double AVG is not),
and ``std_score`` is a plain double stddev_samp.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from deathmetal_datalake_spark.flows.analysis import analysis_chain
from deathmetal_datalake_spark.flows.bronze import bronze_flow
from deathmetal_datalake_spark.flows.gold import band_avg_scores, gold_flow
from deathmetal_datalake_spark.flows.silver import silver_flow
from deathmetal_datalake_spark.schemas import ALBUM_REVIEWS, MUSIC_CATALOG
from tests.deathmetal_fixtures import generate


def _in_job_group(spark, group, fn):
    """Run ``fn()`` under Spark job group ``group``. Returns its result,
    the number of jobs the group holds and the number of jobs launched
    meanwhile, counted between two marker jobs (job ids are sequential)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(tag):
        sc.setJobGroup(tag, tag)
        sc.parallelize([0], 1).count()
        (job,) = tracker.getJobIdsForGroup(tag)
        return job

    first = marker(f"{group}-before")
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        last = marker(f"{group}-after")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(tracker.getJobIdsForGroup(group)), last - first - 1


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("medallion")
    generate(str(base))
    jobs = {}
    bronze, *jobs["bronze"] = _in_job_group(
        spark, "medallion-bronze",
        lambda: bronze_flow(spark, str(base / "landing"), str(base / "bronze")),
    )
    silver, *jobs["silver"] = _in_job_group(
        spark, "medallion-silver", lambda: silver_flow(spark, bronze, str(base / "silver"))
    )
    gold, *jobs["gold"] = _in_job_group(
        spark, "medallion-gold", lambda: gold_flow(spark, silver, str(base / "gold"))
    )
    return {"base": base, "bronze": bronze, "silver": silver, "gold": gold, "jobs": jobs}


@pytest.mark.parametrize("stage", ["bronze", "silver", "gold"])
def test_flow_jobs_keep_the_callers_job_group(pipeline, stage):
    """Every Spark job a flow launches, from its pool threads too, runs
    in the caller's job group."""
    grouped, launched = pipeline["jobs"][stage]
    assert launched > 0
    assert grouped == launched


def test_bronze_failure_surfaces_unchanged(spark, pipeline, tmp_path, monkeypatch):
    """A failing dataset re-raises its own exception on the caller."""
    from deathmetal_datalake_spark.flows import bronze

    boom = RuntimeError("reviews landing unreadable")

    def fake_dataset(spark_, landing_dir, ds):
        if ds == "reviews":
            raise boom
        return spark_.range(1)

    monkeypatch.setattr(bronze, "bronze_dataset", fake_dataset)
    with pytest.raises(RuntimeError, match="^reviews landing unreadable$") as caught:
        bronze_flow(spark, str(pipeline["base"] / "landing"), str(tmp_path / "bronze"))
    assert caught.value is boom


@pytest.mark.parametrize("mart", ["music_catalog", "album_reviews"])
def test_silver_marts_match_gold_read_schemas(spark, pipeline, mart):
    """Gold reads the silver marts with declared schemas; silver writes
    exactly those."""
    schema = {"music_catalog": MUSIC_CATALOG, "album_reviews": ALBUM_REVIEWS}[mart]
    assert spark.read.parquet(pipeline["silver"][mart]).schema == schema


def test_silver_validates_before_writing(spark, pipeline, tmp_path):
    """A bad input fails silver before any table is written."""
    bronze = dict(pipeline["bronze"])
    bronze["reviews"] = str(tmp_path / "reviews")
    spark.read.parquet(pipeline["bronze"]["reviews"]).drop("score").write.parquet(
        bronze["reviews"]
    )
    silver_dir = tmp_path / "silver"
    with pytest.raises(ValueError, match=r"missing columns in reviews: \['score'\]"):
        silver_flow(spark, bronze, str(silver_dir))
    assert not silver_dir.exists() or os.listdir(silver_dir) == []


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _norm(rows, float_digits=9):
    out = []
    for row in rows:
        out.append(
            tuple(
                round(v, float_digits) if isinstance(v, float) and not math.isnan(v) else v
                for v in row
            )
        )
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def _assert_same(spark_df, duck_sql, base):
    con = duckdb.connect()
    got = _norm([tuple(r) for r in spark_df.collect()])
    want = _norm(con.execute(duck_sql.format(base=base)).fetchall())
    con.close()
    assert [c for c in spark_df.columns] is not None
    assert len(got) == len(want), f"rows: spark={len(got)} duck={len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        assert a == b, f"row {i}: spark={a!r} duck={b!r}"


_SILVER_BANDS = r"""
WITH raw AS (
    SELECT DISTINCT * FROM read_csv('{base}/landing/bands/*.csv', header=true, all_varchar=true)
)
SELECT TRY_CAST("Id" AS BIGINT) AS id,
       "Name" AS name,
       "COUNTRY" AS country,
       "Genre" AS genre,
       "Theme" AS theme,
       "Status" AS status,
       TRY_CAST("Formed In" AS BIGINT) AS formed_in,
       "Active" AS active,
       TRY_CAST(NULLIF(regexp_extract("Active", '(\d{{4}})', 1), '') AS BIGINT) AS start_year
FROM raw
"""

_SILVER_ALBUMS = """
WITH raw AS (
    SELECT DISTINCT * FROM read_csv('{base}/landing/albums/*.csv', header=true, all_varchar=true)
)
SELECT TRY_CAST(id AS BIGINT) AS id, title,
       TRY_CAST(band AS BIGINT) AS band,
       TRY_CAST(year AS BIGINT) AS year
FROM raw
"""

_SILVER_REVIEWS = r"""
WITH raw AS (
    SELECT DISTINCT * FROM read_csv('{base}/landing/reviews/*.csv', header=true, all_varchar=true)
)
SELECT TRY_CAST(id AS BIGINT) AS id,
       TRY_CAST(album AS BIGINT) AS album,
       title,
       TRY_CAST(score AS DOUBLE) AS score,
       regexp_replace(content, '\|', ',', 'g') AS content
FROM raw
WHERE NOT contains(id, 'id')
"""


def test_silver_bands(spark, pipeline):
    df = spark.read.parquet(pipeline["silver"]["bands"])
    _assert_same(df.select("id", "name", "country", "genre", "theme", "status", "formed_in", "active", "start_year"), _SILVER_BANDS, pipeline["base"])


def test_silver_albums(spark, pipeline):
    df = spark.read.parquet(pipeline["silver"]["albums"])
    _assert_same(df.select("id", "title", "band", "year"), _SILVER_ALBUMS, pipeline["base"])


def test_silver_reviews(spark, pipeline):
    df = spark.read.parquet(pipeline["silver"]["reviews"])
    _assert_same(df.select("id", "album", "title", "score", "content"), _SILVER_REVIEWS, pipeline["base"])


_MUSIC_CATALOG = f"""
WITH albums AS ({_SILVER_ALBUMS.strip()}), bands AS ({_SILVER_BANDS.strip()})
SELECT a.id AS album_id, a.title AS album_title, a.year AS year,
       a.band AS band_id, b.name AS band_name, b.country AS country,
       b.genre AS genre, b.theme AS theme
FROM albums a LEFT JOIN bands b ON a.band = b.id
"""

_ALBUM_REVIEWS = f"""
WITH reviews AS ({_SILVER_REVIEWS.strip()}), albums AS ({_SILVER_ALBUMS.strip()})
SELECT r.id AS review_id, r.album AS album_id, a.title AS album_title,
       r.score AS score, r.content AS content
FROM reviews r LEFT JOIN albums a ON r.album = a.id
"""


def test_music_catalog(spark, pipeline):
    df = spark.read.parquet(pipeline["silver"]["music_catalog"])
    _assert_same(df, _MUSIC_CATALOG, pipeline["base"])


def test_album_reviews(spark, pipeline):
    df = spark.read.parquet(pipeline["silver"]["album_reviews"])
    _assert_same(df, _ALBUM_REVIEWS, pipeline["base"])


_TOP10 = f"""
WITH music AS ({_MUSIC_CATALOG.strip()}), ar AS ({_ALBUM_REVIEWS.strip()}),
agg AS (
    SELECT m.country, m.band_id, m.band_name,
           COUNT(*) AS review_count, AVG(ar.score) AS avg_score
    FROM ar LEFT JOIN music m ON ar.album_id = m.album_id
    GROUP BY m.country, m.band_id, m.band_name
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY country ORDER BY review_count DESC, band_id ASC
    ) AS rn FROM agg
)
SELECT country, band_id, band_name, review_count, avg_score
FROM ranked WHERE rn <= 10
"""


def test_gold_top10_by_country(spark, pipeline):
    df = spark.read.parquet(pipeline["gold"]["top10_by_country"])
    _assert_same(df.select("country", "band_id", "band_name", "review_count", "avg_score"), _TOP10, pipeline["base"])


_BAND_SCORES = f"""
WITH music AS ({_MUSIC_CATALOG.strip()}), ar AS ({_ALBUM_REVIEWS.strip()})
SELECT m.band_id, m.band_name, m.country,
       COUNT(*) AS review_count,
       AVG(ar.score) AS avg_score,
       MIN(ar.score) AS min_score,
       MAX(ar.score) AS max_score,
       STDDEV_SAMP(ar.score) AS std_score
FROM ar LEFT JOIN music m ON ar.album_id = m.album_id
GROUP BY m.band_id, m.band_name, m.country
"""


def test_gold_band_avg_scores(spark, pipeline):
    df = spark.read.parquet(pipeline["gold"]["band_avg_scores"])
    _assert_same(
        df.select("band_id", "band_name", "country", "review_count", "avg_score", "min_score", "max_score", "std_score"),
        _BAND_SCORES,
        pipeline["base"],
    )


_BRAZILIAN = f"""
WITH scores AS ({_BAND_SCORES.strip()})
SELECT band_id, band_name, country, LOWER(TRIM(country)) AS country_normalized,
       review_count, avg_score, min_score, max_score, std_score
FROM scores WHERE LOWER(TRIM(country)) IN ('brazil', 'brasil')
"""


def test_gold_brazilian_bands(spark, pipeline):
    df = spark.read.parquet(pipeline["gold"]["brazilian_bands"])
    _assert_same(
        df.select("band_id", "band_name", "country", "country_normalized", "review_count", "avg_score", "min_score", "max_score", "std_score"),
        _BRAZILIAN,
        pipeline["base"],
    )
    assert df.count() > 0, "fixture must exercise the brazil variants"


_ALBUM_COUNTS = f"""
WITH music AS ({_MUSIC_CATALOG.strip()})
SELECT band_id, band_name, country, COUNT(*) AS album_count
FROM music GROUP BY band_id, band_name, country
"""


def test_gold_band_album_counts(spark, pipeline):
    df = spark.read.parquet(pipeline["gold"]["band_album_counts"])
    _assert_same(df, _ALBUM_COUNTS, pipeline["base"])


def test_gold_ranking_is_top100(spark, pipeline):
    """O6 is exactly band_avg_scores' top 100 under (avg_score desc,
    band_id asc), row for row and bit for bit."""
    got = _rows(spark.read.parquet(pipeline["gold"]["band_score_ranking"]))
    scores = spark.read.parquet(pipeline["gold"]["band_avg_scores"])
    want = _rows(scores.orderBy(F.desc("avg_score"), F.asc("band_id")).limit(100))
    assert want and got == want


def test_gold_avg_score_is_partitioning_independent(spark, pipeline):
    """avg_score is an exact decimal sum divided once: the same bits
    whatever the partitioning of the reviews."""
    music = spark.read.parquet(pipeline["silver"]["music_catalog"])
    reviews = spark.read.parquet(pipeline["silver"]["album_reviews"])

    def avgs(n):
        df = band_avg_scores(reviews.repartition(n), music)
        return {(r["band_id"], r["band_name"], r["country"]): r["avg_score"] for r in df.collect()}

    one, seven = avgs(1), avgs(7)
    assert len(one) > 1
    assert one == seven


@pytest.mark.parametrize("empty_input", ["album_reviews", "music_catalog"])
def test_gold_empty_guard(spark, pipeline, tmp_path, empty_input):
    """An empty silver input aborts the flow before any mart is written."""
    silver = dict(pipeline["silver"])
    silver[empty_input] = str(tmp_path / empty_input)
    spark.read.parquet(pipeline["silver"][empty_input]).limit(0).write.parquet(silver[empty_input])
    gold_dir = tmp_path / "gold"
    with pytest.raises(ValueError, match="empty silver inputs"):
        gold_flow(spark, silver, str(gold_dir))
    assert not gold_dir.exists() or os.listdir(gold_dir) == []


def test_top10_truncates(spark, pipeline):
    """Sweden has 15 bands with reviews — top-10 must truncate."""
    df = spark.read.parquet(pipeline["gold"]["top10_by_country"])
    per_country = df.groupBy("country").count().collect()
    assert max(r["count"] for r in per_country) == 10


def test_analysis_chain(spark, pipeline):
    from deathmetal_datalake_spark.flows.analysis import albums_reviews

    albums = spark.read.parquet(pipeline["silver"]["albums"])
    bands = spark.read.parquet(pipeline["silver"]["bands"])
    reviews = spark.read.parquet(pipeline["silver"]["reviews"])
    result = analysis_chain(albums, bands, reviews)
    rows = result.collect()
    assert len(rows) > 0
    assert result.columns == [
        "name", "country", "status", "formed_in", "title_album",
        "year_album", "title_review", "score", "content",
    ]
    # P10: the literal 'None' strings (and NULL title_review rows from
    # unreviewed albums — null-propagating `!=`) are gone.
    assert all(r["name"] != "None" and r["title_review"] not in (None, "None") for r in rows)
    # Right-join path: the intermediate mart keeps unreviewed albums.
    ar = albums_reviews(
        reviews.withColumnRenamed("album", "album_id"),
        albums.withColumnRenamed("id", "album_id"),
    )
    assert ar.filter("id_review IS NULL").count() > 0
