"""Intermediate models — the reference's two ephemeral dbt models.

Ephemeral == not persisted to the warehouse (reference:
dbt/dbt_project.yml:29-30).  These functions are pure lazy builders.
dbt inlines an ephemeral model as a CTE into every model that reads
it, so the warehouse re-runs its joins once per reader; each of these
has four (join) or three (useful) readers among the marts and
analyses.  ``build_all`` therefore computes each one once per build,
on a lazy ``localCheckpoint`` that the first reading action fills.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from musicflow_spark.config import PipelineConfig
from musicflow_spark.functions.portable import pround
from musicflow_spark.functions.timeutils import ms_to_clock


def spotify_type(album_uri: Column, playlist_uri: Column, track_uri: Column) -> Column:
    """The polymorphic-uri discriminator from a log row's null pattern:
    'Album', 'Playlist' or 'Track' after the first non-null uri, null
    when none is set (reference: int_join_spotify_uris.sql:69-73,
    log_for_tableau.sql)."""
    return (
        F.when(album_uri.isNotNull(), "Album")
        .when(playlist_uri.isNotNull(), "Playlist")
        .when(track_uri.isNotNull(), "Track")
    )


def int_join_spotify_uris(stg: dict[str, DataFrame]) -> DataFrame:
    """The snowflake flatten (reference:
    dbt/models/intermediate/int_join_spotify_uris.sql:5-135): joins 8
    of the 10 tables around spotify_log into one wide row, resolves
    the polymorphic uri FK with a 3-way left-join + coalesce, and
    derives percentage / clock-time / seconds columns.

    Join strategy at scale: spotify_log ⋈ youtube_library ⋈
    youtube_videos are the fact-sized sides (shuffle on their keys);
    youtube_playlists / playlist_ids / spotify_playlists /
    search_types are dimensions -> broadcast.  The three uri
    dimensions can be large; they stay as shuffle joins and AQE picks
    broadcast when a side is small enough.
    """
    sl = stg["spotify_log"]
    yl = stg["youtube_library"]
    yp = stg["youtube_playlists"]
    pids = stg["playlist_ids"]
    yv = stg["youtube_videos"]
    sp = stg["spotify_playlists"]
    sty = stg["search_types"]
    sa = stg["spotify_albums"]
    spo = stg["spotify_playlists_others"]
    st = stg["spotify_tracks"]

    joined = (
        # join_library_with_log (sql:5-15)
        sl.join(yl, sl["log_id"] == yl["id"], "inner")
        # join_playlist_info (sql:17-31)
        .join(F.broadcast(yp), yl["youtube_playlist_id"] == yp["youtube_playlist_id"], "inner")
        .join(F.broadcast(pids), yp["youtube_playlist_id"] == pids["youtube_playlist_id"], "left")
        # join_uris (sql:33-91)
        .join(yv, yl["video_id"] == yv["video_id"], "inner")
        .join(F.broadcast(sp), pids["spotify_playlist_id"] == sp["spotify_playlist_id"], "left")
        .join(F.broadcast(sty), sl["search_type_id"] == sty["search_type_id"], "inner")
        .join(sa, sl["album_uri"] == sa["album_uri"], "left")
        .join(spo, sl["playlist_uri"] == spo["playlist_uri"], "left")
        .join(st, sl["track_uri"] == st["track_uri"], "left")
    )
    sel = joined.select(
        sl["log_id"],
        yl["youtube_playlist_id"],
        pids["spotify_playlist_id"],
        sp["title"].alias("user_playlist"),
        sl["found_on_try"],
        sl["difference_ms"],
        sl["q"],
        sl["search_type_id"],
        sl["status"],
        yp["type"],
        yp["title"],
        yp["author"],
        yp["year"],
        yv["video_id"],
        yv["type"].alias("video_type"),
        yv["title"].alias("video_title"),
        yv["author"].alias("video_author"),
        yv["description"],
        yv["duration_ms"].alias("video_duration"),
        sty["search_type_name"],
        spotify_type(sl["album_uri"], sl["playlist_uri"], sl["track_uri"]).alias("spotify_type"),
        # polymorphic-FK coalesce (sql:75-78)
        F.coalesce(sl["album_uri"], sl["playlist_uri"], sl["track_uri"]).alias("spotify_uri"),
        F.coalesce(sa["album_title"], spo["playlist_title"], st["track_title"]).alias("spotify_title"),
        F.coalesce(sa["album_artists"], spo["playlist_owner"], st["track_artists"]).alias("spotify_author"),
        F.coalesce(sa["duration_ms"], spo["duration_ms"], st["duration_ms"]).alias("spotify_duration"),
        sl["track_match"],
        sl["total_tracks"],
    )
    return sel.select(
        "*",
        # (sql:128-132); BigQuery int/int divides as float64
        pround((F.col("track_match") / F.col("total_tracks")) * 100, 1).alias("percentage_in_desc"),
        # BigQuery TIME rendered as HH:mm:ss string (SURVEY §1.2 gap)
        ms_to_clock(F.col("video_duration")).alias("youtube_duration_timestamp"),
        ms_to_clock(F.col("spotify_duration")).alias("spotify_duration_timestamp"),
        pround(F.col("difference_ms") / 1000, 1).alias("difference_sec"),
    )


def int_useful_youtube_library(
    stg: dict[str, DataFrame], cfg: PipelineConfig
) -> DataFrame:
    """Library triple join + duration-threshold routing (reference:
    dbt/models/intermediate/int_useful_youtube_library.sql:5-31;
    threshold injected via DBT_THRESHOLD_MS env var there, typed
    config here, ``PipelineConfig.estimated_type``).  The one library
    join of the port: the match task reads its request rows from it
    over the extracted sources, and ``log_for_tableau`` reads it from
    the build."""
    yl = stg["youtube_library"]
    yp = stg["youtube_playlists"]
    yv = stg["youtube_videos"]
    return (
        yl.join(F.broadcast(yp), yl["youtube_playlist_id"] == yp["youtube_playlist_id"], "inner")
        .join(yv, yl["video_id"] == yv["video_id"], "inner")
        .select(
            yl["id"],
            yp["youtube_playlist_id"],
            yp["title"].alias("playlist_name"),
            yp["author"].alias("playlist_author"),
            yv["video_id"],
            yv["type"],
            yv["title"],
            yv["author"],
            yv["description"],
            yv["duration_ms"],
            cfg.estimated_type(yv["duration_ms"]).alias("estimated_type"),
        )
    )
