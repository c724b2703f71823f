"""Mart models — the reference's three dbt marts.

Known reference quirks reproduced bug-compatibly (SURVEY §7
watch-list #8) and flagged inline:
- log_found_videos aliases video_title as youtube_author in the
  current-user branch (copy-paste in the reference SQL:19).
- BigQuery's unordered string_agg(DISTINCT ...) is made deterministic
  here via sorted collect_set (BigQuery returns arbitrary order; any
  fixed order is an admissible refinement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from musicflow_spark.config import PipelineConfig
from musicflow_spark.functions.portable import pround
from musicflow_spark.functions.timeutils import ms_to_clock


def log_found_videos(int_join: DataFrame) -> DataFrame:
    """reference: dbt/models/marts/log_found_videos.sql.

    Current-user branch: one row per found video.  Other-users
    branch: album-track rows collapse to one row per
    (playlist, uri, ...) wide group (SURVEY §2.4 A6) with
    string-aggregated authors and summed durations."""
    current = int_join.filter(F.col("spotify_playlist_id").isNotNull()).select(
        "video_id",
        "spotify_playlist_id",
        "user_playlist",
        "youtube_playlist_id",
        "spotify_uri",
        F.col("spotify_type").alias("found"),
        F.col("video_title").alias("youtube_title"),
        "spotify_title",
        # reference bug kept: video_TITLE aliased as youtube_author
        # (log_found_videos.sql:19)
        F.col("video_title").alias("youtube_author"),
        "spotify_author",
        "description",
        "q",
        F.col("search_type_name").alias("found_by"),
        "found_on_try",
        "status",
        "track_match",
        "total_tracks",
        "percentage_in_desc",
        "youtube_duration_timestamp",
        "spotify_duration_timestamp",
        "difference_sec",
    )
    group_cols = [
        "youtube_playlist_id",
        "spotify_playlist_id",
        "user_playlist",
        "spotify_uri",
        "spotify_type",
        "title",
        "spotify_title",
        "spotify_author",
        "q",
        "search_type_name",
        "found_on_try",
        "status",
        "track_match",
        "total_tracks",
        "percentage_in_desc",
        "spotify_duration_timestamp",
        "difference_sec",
    ]
    other = (
        int_join.filter(F.col("spotify_playlist_id").isNull())
        .groupBy(*group_cols)
        .agg(
            # string_agg(DISTINCT video_author, '; ') — sorted for determinism
            F.array_join(F.array_sort(F.collect_set("video_author")), "; ").alias(
                "youtube_author"
            ),
            F.sum("video_duration").alias("sum_video_duration"),
        )
        .select(
            F.lit(None).cast("string").alias("video_id"),
            "spotify_playlist_id",
            "user_playlist",
            "youtube_playlist_id",
            "spotify_uri",
            F.col("spotify_type").alias("found"),
            F.col("title").alias("youtube_title"),
            "spotify_title",
            "youtube_author",
            "spotify_author",
            F.lit(None).cast("string").alias("description"),
            "q",
            F.col("search_type_name").alias("found_by"),
            "found_on_try",
            "status",
            "track_match",
            "total_tracks",
            "percentage_in_desc",
            ms_to_clock(F.col("sum_video_duration")).alias("youtube_duration_timestamp"),
            "spotify_duration_timestamp",
            "difference_sec",
        )
    )
    return current.unionByName(other)


def log_not_found_videos(int_useful: DataFrame, stg_spotify_log: DataFrame) -> DataFrame:
    """J6 left-anti: library rows with no log entry (reference:
    log_not_found_videos.sql:10-13 does left join + where null; Spark
    has the operator natively)."""
    return int_useful.join(
        stg_spotify_log,
        int_useful["id"] == stg_spotify_log["log_id"],
        "left_anti",
    )


def log_for_tableau(stg: dict[str, DataFrame], cfg: PipelineConfig) -> DataFrame:
    """reference: dbt/models/marts/log_for_tableau.sql.

    Ownership routing on the configured channel name (env_var there,
    typed config here); other-users branch is a wide DISTINCT (its
    GROUP BY has no aggregates); union; global surrogate id via
    row_number over search_type_id (W1 — single-partition, exactly as
    the reference computes it).

    The W1 order breaks search_type_id ties with a nulls-last chain
    over the output columns, so the ids do not depend on how the
    sources are partitioned and a rerun assigns the same ones.  An
    admissible refinement: BigQuery's tie order is arbitrary, so any
    fixed total order is a valid instance of the reference semantics;
    rows with fully identical payloads remain interchangeable."""
    yl = stg["youtube_library"]
    yp = stg["youtube_playlists"]
    yv = stg["youtube_videos"]
    s = stg["spotify_log"]

    base = (
        yl.join(F.broadcast(yp), yl["youtube_playlist_id"] == yp["youtube_playlist_id"], "inner")
        .join(yv, yl["video_id"] == yv["video_id"], "inner")
        .join(s, yl["id"] == s["log_id"], "left")
    )
    spotify_type = (
        F.when(s["album_uri"].isNotNull(), "Album")
        .when(s["playlist_uri"].isNotNull(), "Playlist")
        .when(s["track_uri"].isNotNull(), "Track")
    )
    derived = [
        spotify_type.alias("spotify_type"),
        s["found_on_try"],
        s["search_type_id"],
        s["difference_ms"],
        pround(s["difference_ms"] / 1000, 1).alias("difference_sec"),
        pround(s["difference_ms"] / 60000, 2).alias("difference_m"),
        ms_to_clock(s["difference_ms"]).alias("difference_timestamp"),
        s["track_match"],
        s["total_tracks"],
        pround((s["track_match"] / s["total_tracks"]) * 100, 1).alias("percentage_in_desc"),
    ]

    th = cfg.threshold_ms
    youtube_type_cur = (
        F.lit("Track")
        if th is None
        else F.when(yv["duration_ms"] < th, "Track").when(
            yv["duration_ms"] >= th, "Album/Playlist"
        )
    )
    current = base.filter(
        (yp["author"] == cfg.your_channel_name) | yp["author"].isNull()
    ).select(
        s["log_id"],
        yv["video_id"],
        youtube_type_cur.alias("youtube_type"),
        yv["type"].alias("music_type"),
        *derived,
    )

    # other-users branch: GROUP BY with no aggregates == DISTINCT over
    # the grouping columns (log_for_tableau.sql:60-88)
    other = (
        base.filter((yp["author"] != cfg.your_channel_name) & yp["author"].isNotNull())
        .select(
            yp["youtube_playlist_id"],
            yp["type"].alias("youtube_type"),
            s["album_uri"],
            s["playlist_uri"],
            s["track_uri"],
            s["found_on_try"],
            s["search_type_id"],
            s["difference_ms"],
            s["track_match"],
            s["total_tracks"],
        )
        .distinct()
        .select(
            F.lit(None).cast("long").alias("log_id"),
            F.lit(None).cast("string").alias("video_id"),
            "youtube_type",
            F.lit(None).cast("string").alias("music_type"),
            F.when(F.col("album_uri").isNotNull(), "Album")
            .when(F.col("playlist_uri").isNotNull(), "Playlist")
            .when(F.col("track_uri").isNotNull(), "Track")
            .alias("spotify_type"),
            F.col("found_on_try"),
            F.col("search_type_id"),
            F.col("difference_ms"),
            pround(F.col("difference_ms") / 1000, 1).alias("difference_sec"),
            pround(F.col("difference_ms") / 60000, 2).alias("difference_m"),
            ms_to_clock(F.col("difference_ms")).alias("difference_timestamp"),
            F.col("track_match"),
            F.col("total_tracks"),
            pround((F.col("track_match") / F.col("total_tracks")) * 100, 1).alias(
                "percentage_in_desc"
            ),
        )
    )
    unioned = current.unionByName(other)
    order_cols = [
        F.col(c).asc_nulls_last()
        for c in (
            "search_type_id", "log_id", "video_id", "youtube_type", "music_type",
            "spotify_type", "found_on_try", "difference_ms", "track_match", "total_tracks",
        )
    ]
    return unioned.select(
        F.row_number().over(Window.orderBy(*order_cols)).alias("id"),
        "log_id",
        "video_id",
        "youtube_type",
        "music_type",
        "spotify_type",
        "found_on_try",
        "search_type_id",
        "difference_ms",
        # log-scale axis fix (log_for_tableau.sql:107-110)
        F.when(F.col("difference_sec") == 0, 0.1)
        .otherwise(F.col("difference_sec"))
        .alias("difference_sec"),
        "difference_m",
        "difference_timestamp",
        "track_match",
        "total_tracks",
        "percentage_in_desc",
    )
