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
from musicflow_spark.plans.intermediate import spotify_type


def log_found_videos(int_join: DataFrame) -> DataFrame:
    """reference: dbt/models/marts/log_found_videos.sql.

    Current-user branch: one row per found video.  Other-users
    branch: album-track rows collapse to one row per
    (playlist, uri, ...) wide group (SURVEY §2.4 A6) with
    string-aggregated authors and summed durations.  Both branches
    carry the shared columns under their int_join names and are
    renamed once after the union."""
    shared = [
        "youtube_playlist_id",
        "spotify_playlist_id",
        "user_playlist",
        "spotify_uri",
        "spotify_type",
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
    current = int_join.filter(F.col("spotify_playlist_id").isNotNull()).select(
        *shared,
        "video_id",
        F.col("video_title").alias("youtube_title"),
        # reference bug kept: video_TITLE aliased as youtube_author
        # (log_found_videos.sql:19)
        F.col("video_title").alias("youtube_author"),
        "description",
        "youtube_duration_timestamp",
    )
    other = (
        int_join.filter(F.col("spotify_playlist_id").isNull())
        .groupBy(*shared, "title")
        .agg(
            # string_agg(DISTINCT video_author, '; ') — sorted for determinism
            F.array_join(F.array_sort(F.collect_set("video_author")), "; ").alias(
                "youtube_author"
            ),
            F.sum("video_duration").alias("sum_video_duration"),
        )
        .select(
            *shared,
            F.lit(None).cast("string").alias("video_id"),
            F.col("title").alias("youtube_title"),
            "youtube_author",
            F.lit(None).cast("string").alias("description"),
            ms_to_clock(F.col("sum_video_duration")).alias("youtube_duration_timestamp"),
        )
    )
    return current.unionByName(other).select(
        "video_id",
        "spotify_playlist_id",
        "user_playlist",
        "youtube_playlist_id",
        "spotify_uri",
        F.col("spotify_type").alias("found"),
        "youtube_title",
        "spotify_title",
        "youtube_author",
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


def log_not_found_videos(int_useful: DataFrame, stg_spotify_log: DataFrame) -> DataFrame:
    """J6 left-anti: library rows with no log entry (reference:
    log_not_found_videos.sql:10-13 does left join + where null; Spark
    has the operator natively)."""
    return int_useful.join(
        stg_spotify_log,
        int_useful["id"] == stg_spotify_log["log_id"],
        "left_anti",
    )


def log_for_tableau(
    int_useful: DataFrame, stg: dict[str, DataFrame], cfg: PipelineConfig
) -> DataFrame:
    """reference: dbt/models/marts/log_for_tableau.sql.

    The build's ``int_useful`` left-joined to the log, split by
    ``PipelineConfig.owns``: the current user's rows take their
    ``youtube_type`` from ``estimated_type``; the other-users branch
    is a wide DISTINCT (its GROUP BY has no aggregates) typed by the
    playlist.  ``spotify_type`` and the measures are derived once,
    after the union; global surrogate id via row_number over
    search_type_id (W1 — single-partition, exactly as the reference
    computes it).

    The W1 order breaks search_type_id ties with a nulls-last chain
    over the output columns, so the ids do not depend on how the
    sources are partitioned and a rerun assigns the same ones.  An
    admissible refinement: BigQuery's tie order is arbitrary, so any
    fixed total order is a valid instance of the reference semantics;
    rows with fully identical payloads remain interchangeable."""
    s = stg["spotify_log"]
    playlist_types = stg["youtube_playlists"].select(
        "youtube_playlist_id", F.col("type").alias("playlist_type")
    )
    base = int_useful.join(s, int_useful["id"] == s["log_id"], "left")
    own = cfg.owns(F.col("playlist_author"))
    log_cols = (
        "album_uri", "playlist_uri", "track_uri", "found_on_try", "search_type_id",
        "difference_ms", "track_match", "total_tracks",
    )
    current = base.filter(own).select(
        "log_id",
        "video_id",
        F.col("estimated_type").alias("youtube_type"),
        F.col("type").alias("music_type"),
        *log_cols,
    )
    # other-users branch: GROUP BY with no aggregates == DISTINCT over
    # the grouping columns (log_for_tableau.sql:60-88)
    other = (
        base.filter(~own)
        .join(F.broadcast(playlist_types), "youtube_playlist_id")
        .select("youtube_playlist_id", F.col("playlist_type").alias("youtube_type"), *log_cols)
        .distinct()
        .select(
            F.lit(None).cast("long").alias("log_id"),
            F.lit(None).cast("string").alias("video_id"),
            "youtube_type",
            F.lit(None).cast("string").alias("music_type"),
            *log_cols,
        )
    )
    diff = F.col("difference_ms")
    difference_sec = pround(diff / 1000, 1)
    derived = current.unionByName(other).select(
        "log_id",
        "video_id",
        "youtube_type",
        "music_type",
        spotify_type(F.col("album_uri"), F.col("playlist_uri"), F.col("track_uri")).alias(
            "spotify_type"
        ),
        "found_on_try",
        "search_type_id",
        "difference_ms",
        # log-scale axis fix (log_for_tableau.sql:107-110)
        F.when(difference_sec == 0, 0.1).otherwise(difference_sec).alias("difference_sec"),
        pround(diff / 60000, 2).alias("difference_m"),
        ms_to_clock(diff).alias("difference_timestamp"),
        "track_match",
        "total_tracks",
        pround((F.col("track_match") / F.col("total_tracks")) * 100, 1).alias(
            "percentage_in_desc"
        ),
    )
    order_cols = [
        F.col(c).asc_nulls_last()
        for c in (
            "search_type_id", "log_id", "video_id", "youtube_type", "music_type",
            "spotify_type", "found_on_try", "difference_ms", "track_match", "total_tracks",
        )
    ]
    return derived.select(
        F.row_number().over(Window.orderBy(*order_cols)).alias("id"), *derived.columns
    )
