"""The reference's 7 dbt analyses as DataFrame functions
(reference: dbt/analyses/**; SURVEY §2.4/§2.6).

These are the human-checked golden queries; ordered string_aggs keep
their reference ORDER BY, unordered ones are sorted for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from musicflow_spark.functions.portable import pround


def most_saved_channels(stg_youtube_videos: DataFrame) -> DataFrame:
    """reference: dbt/analyses/youtube/most_saved_channels.sql"""
    return (
        stg_youtube_videos.groupBy("author")
        .agg(F.count(F.lit(1)).alias("videos"))
        .select(F.col("author").alias("youtube_channel"), "videos")
        .orderBy(F.desc("videos"))
    )


def youtube_statistics(int_useful: DataFrame) -> DataFrame:
    """reference: dbt/analyses/youtube/youtube_statistics.sql"""
    return (
        int_useful.groupBy(
            "estimated_type",
            F.when(F.col("youtube_playlist_id") == "LM", "In liked videos")
            .otherwise("In playlists")
            .alias("section"),
        )
        .agg(F.count("video_id").alias("total_reconds"))  # sic: reference typo
        .select("total_reconds", "estimated_type", "section")
    )


def videos_saved_more_than_once(int_useful: DataFrame) -> DataFrame:
    """reference: dbt/analyses/youtube/videos_saved_more_than_once.sql
    (A4 string_agg + A5 HAVING>1 + F6 URL concat)."""
    return (
        int_useful.groupBy("video_id", "title", "author")
        .agg(
            F.count(F.lit(1)).alias("section_cnt"),
            F.array_join(F.array_sort(F.collect_list("playlist_name")), "; ").alias(
                "sections"
            ),
        )
        .filter(F.col("section_cnt") > 1)
        .select(
            "title",
            "author",
            F.concat(F.lit("https://www.youtube.com/watch?v="), F.col("video_id")).alias("link"),
            "section_cnt",
            "sections",
        )
        .orderBy(F.desc("section_cnt"))
    )


def found_by_statistics(int_join: DataFrame) -> DataFrame:
    """reference: dbt/analyses/spotify/found_by_statistics.sql"""
    return (
        int_join.groupBy("search_type_id", "search_type_name")
        .agg(F.count("spotify_uri").alias("records_found"))
        .select(F.col("search_type_name").alias("found_by"), "records_found")
    )


def found_on_try_statistics(int_join: DataFrame) -> DataFrame:
    """reference: dbt/analyses/spotify/found_on_try_statistics.sql"""
    return (
        int_join.groupBy("found_on_try")
        .agg(F.count("spotify_uri").alias("records_found"))
        .orderBy("found_on_try")
    )


def skipped_during_the_run(int_join: DataFrame) -> DataFrame:
    """reference: dbt/analyses/spotify/skipped_during_the_run.sql —
    the ordered string_agg model (A4 with ORDER BY log_id): collect
    (log_id, value) structs, array_sort, then join (SURVEY §7
    watch-list #2)."""

    def ordered_agg(value_col: F.Column) -> F.Column:
        return F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("log_id"), value_col.alias("v")))),
                lambda s: s["v"],
            ),
            "\n",
        )

    return (
        int_join.filter(F.col("spotify_playlist_id").isNotNull())
        .groupBy(
            "spotify_uri",
            "spotify_playlist_id",
            "user_playlist",
            "spotify_type",
            "spotify_title",
            "spotify_author",
            "spotify_duration",
            "total_tracks",
        )
        .agg(
            F.count("video_id").alias("video_cnt"),
            ordered_agg(
                F.concat(F.lit("https://www.youtube.com/watch?v="), F.col("video_id"))
            ).alias("links_to_videos"),
            ordered_agg(
                F.concat(F.col("log_id").cast("string"), F.lit(" "), F.col("status"))
            ).alias("statuses"),
        )
        .filter(F.col("video_cnt") > 1)
        .select(
            "spotify_uri",
            "spotify_playlist_id",
            "user_playlist",
            "spotify_title",
            "spotify_author",
            "video_cnt",
            "links_to_videos",
            "statuses",
        )
        .orderBy("user_playlist", "spotify_uri")
    )


def ratio_of_found_by_playlists(stg: dict[str, DataFrame]) -> DataFrame:
    """reference: dbt/analyses/spotify/ratio_of_found_by_playlists.sql
    (J7 null-skipping count over a left join + A10 percentage)."""
    yp = stg["youtube_playlists"]
    yl = stg["youtube_library"]
    sl = stg["spotify_log"]
    return (
        yp.join(yl, yp["youtube_playlist_id"] == yl["youtube_playlist_id"], "inner")
        .join(sl, yl["id"] == sl["log_id"], "left")
        .groupBy(yp["youtube_playlist_id"], yp["type"], yp["title"], yp["author"])
        .agg(
            F.count(sl["log_id"]).alias("found_tracks"),
            F.count(yl["id"]).alias("total_tracks"),
            pround(F.count(sl["log_id"]) * 100 / F.count(yl["id"]), 2).alias(
                "percentage_found"
            ),
        )
        .orderBy("percentage_found")
    )
