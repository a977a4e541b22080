"""Ad-hoc analysis chain — the reference's ``main.py:13-86`` flagship.

Faithful reproduction of the chain: three silver scans →
albums/reviews key renames (``main.py:25,34``) → J1 left join with
differing key names (``main.py:37-52``) → J3 right join (``main.py:
54-67``) → J5 left join + projection (``main.py:69-85``) → two
``!= 'None'`` filters (``main.py:86``). The reference re-executes every
upstream plan at each of its six ``.show()`` calls (SURVEY.md §3.2);
here the marts are lazy DataFrames and the caller decides what to
materialize or cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deathmetal_datalake_spark.operators.cleaning import clean_none_rows


def bands_albums(albums: DataFrame, bands: DataFrame) -> DataFrame:
    """``main.py:37-52``: albums ⟕ bands on band↔id; projection keeps
    album identity plus band descriptors (incl. status/formed_in)."""
    return albums.join(bands, albums.band == bands.id, "left").select(
        F.col("album_id"),
        albums.title.alias("title_album"),
        F.col("year").alias("year_album"),
        F.col("name"),
        F.col("country"),
        F.col("status"),
        F.col("formed_in"),
    )


def albums_reviews(reviews: DataFrame, albums: DataFrame) -> DataFrame:
    """``main.py:54-67``: reviews ⟖ albums on album_id (right join keeps
    review-less albums with NULL review fields)."""
    return reviews.join(albums, "album_id", "right").select(
        reviews.id.alias("id_review"),
        F.col("album_id"),
        reviews.title.alias("title_review"),
        F.col("score"),
        F.col("content"),
    )


def full_dataset(bands_albums_df: DataFrame, albums_reviews_df: DataFrame) -> DataFrame:
    """``main.py:69-86``: J5 left join, projection, and the two
    null-propagating ``!= 'None'`` cleanup filters."""
    joined = bands_albums_df.join(albums_reviews_df, "album_id", "left").select(
        "name",
        "country",
        "status",
        "formed_in",
        "title_album",
        "year_album",
        "title_review",
        "score",
        "content",
    )
    return clean_none_rows(joined, "name", "title_review")


def analysis_chain(albums: DataFrame, bands: DataFrame, reviews: DataFrame) -> DataFrame:
    """The full flagship chain over silver entity tables, with the
    reference's key renames (``main.py:25,34``)."""
    albums_r = albums.withColumnRenamed("id", "album_id")
    reviews_r = reviews.withColumnRenamed("album", "album_id")
    ba = bands_albums(albums_r, bands)
    ar = albums_reviews(reviews_r, albums_r)
    return full_dataset(ba, ar)
