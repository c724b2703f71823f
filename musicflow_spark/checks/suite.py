"""The reference's dbt assertion suite, ported (SURVEY §5).

Sources: dbt/models/staging/_staging__models.yml (421 lines),
dbt/models/intermediate/_intermediate__models.yml,
dbt/models/marts/_marts__models.yml, dbt/macros/tests/
test_duration_match.sql + test_tracks_count_match.sql,
dbt/tests/no_lost_videos.sql.

Type mapping (SURVEY §1.2): BigQuery int64 -> bigint, string ->
string, float64 -> double, TIME -> HH:mm:ss *string* (Spark has no
TIME type; the two *_duration_timestamp type checks assert string —
a documented deviation, not a skipped test).

Two reference-yml assertions are adapted because the yml is stale
against the model SQL it tests (they would fail on the reference's
own outputs):
- log_for_tableau.log_id unique/not_null: the other-users branch
  emits NULL log_id by construction (log_for_tableau.sql:45); scoped
  ``where log_id is not null`` / current-branch rows.
- log_for_tableau.video_type ['album/playlist','track']: the SQL
  emits ``youtube_type`` with 'Track'/'Album/Playlist'
  (log_for_tableau.sql:11-14); checked against the real column and
  casing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from musicflow_spark.checks.runner import CheckSet
from musicflow_spark.schemas import LOG_STATUSES, PLAYLIST_TYPES, VIDEO_TYPES

_STAGING_TYPES: dict[str, dict[str, str]] = {
    "stg__playlist_ids": {"id": "bigint", "youtube_playlist_id": "string", "spotify_playlist_id": "string"},
    "stg__search_types": {"search_type_id": "bigint", "search_type_name": "string"},
    "stg__spotify_albums": {
        "album_uri": "string", "album_title": "string", "album_artists": "string",
        "duration_ms": "bigint", "total_tracks": "bigint",
    },
    "stg__spotify_log": {
        "log_id": "bigint", "album_uri": "string", "playlist_uri": "string",
        "track_uri": "string", "found_on_try": "bigint", "difference_ms": "bigint",
        "track_match": "bigint", "q": "string", "search_type_id": "bigint", "status": "string",
    },
    "stg__spotify_playlists": {"spotify_playlist_id": "string", "title": "string"},
    "stg__spotify_playlists_others": {
        "playlist_uri": "string", "playlist_title": "string", "playlist_owner": "string",
        "duration_ms": "bigint", "total_tracks": "bigint",
    },
    "stg__spotify_tracks": {
        "track_uri": "string", "album_uri": "string", "playlist_uri": "string",
        "track_title": "string", "track_artists": "string", "duration_ms": "bigint",
    },
    "stg__youtube_library": {"id": "bigint", "youtube_playlist_id": "string", "video_id": "string"},
    "stg__youtube_playlists": {
        "youtube_playlist_id": "string", "title": "string", "author": "string", "year": "bigint",
    },
    "stg__youtube_videos": {
        "video_id": "string", "type": "string", "title": "string", "author": "string",
        "description": "string", "duration_ms": "bigint",
    },
}

def reference_suite(models: dict[str, DataFrame]) -> CheckSet:
    """Build the full ported assertion suite over ``build_all``
    outputs."""
    s = CheckSet(tables=models)

    for table, cols in _STAGING_TYPES.items():
        for col, typ in cols.items():
            s.column_type(table, col, typ)

    # ---- stg__playlist_ids (_staging__models.yml:4-33)
    for col in ("id", "youtube_playlist_id", "spotify_playlist_id"):
        s.unique("stg__playlist_ids", col)
        s.not_null("stg__playlist_ids", col)
    s.relationships("stg__playlist_ids", "youtube_playlist_id", "stg__youtube_playlists", "youtube_playlist_id")
    s.relationships("stg__playlist_ids", "spotify_playlist_id", "stg__spotify_playlists", "spotify_playlist_id")

    # ---- stg__search_types (:36-53)
    s.unique("stg__search_types", "search_type_id")
    s.not_null("stg__search_types", "search_type_id")
    s.not_null("stg__search_types", "search_type_name")

    # ---- stg__spotify_albums (:56-103)
    s.unique("stg__spotify_albums", "album_uri")
    s.not_null("stg__spotify_albums", "album_uri")
    s.match_like("stg__spotify_albums", "album_uri", "spotify:album:%")
    s.aggregate_match(
        "stg__spotify_albums", "album_uri", "duration_ms", "stg__spotify_tracks",
        "album_uri", F.sum("duration_ms"), "duration_match",
    )
    s.aggregate_match(
        "stg__spotify_albums", "album_uri", "total_tracks", "stg__spotify_tracks",
        "album_uri", F.count(F.lit(1)).cast("bigint"), "tracks_count_match",
    )
    for col in ("album_title", "album_artists", "duration_ms", "total_tracks"):
        s.not_null("stg__spotify_albums", col)
    s.expression_is_true("stg__spotify_albums", "duration_ms > 0")
    s.expression_is_true("stg__spotify_albums", "total_tracks > 0")

    # ---- stg__spotify_log (:106-184)
    s.unique("stg__spotify_log", "log_id")
    s.relationships("stg__spotify_log", "log_id", "stg__youtube_library", "id")
    s.relationships("stg__spotify_log", "album_uri", "stg__spotify_albums", "album_uri")
    s.relationships("stg__spotify_log", "playlist_uri", "stg__spotify_playlists_others", "playlist_uri")
    s.relationships("stg__spotify_log", "track_uri", "stg__spotify_tracks", "track_uri")
    s.relationships("stg__spotify_log", "search_type_id", "stg__search_types", "search_type_id")
    for col in ("log_id", "found_on_try", "difference_ms", "track_match", "q", "search_type_id", "status"):
        s.not_null("stg__spotify_log", col)
    s.expression_is_true("stg__spotify_log", "track_match >= 0")
    s.accepted_values("stg__spotify_log", "status", list(LOG_STATUSES))

    # ---- stg__spotify_playlists (:187-207)
    s.equal_rowcount("stg__spotify_playlists", "stg__playlist_ids")
    s.unique("stg__spotify_playlists", "spotify_playlist_id")
    s.not_null("stg__spotify_playlists", "spotify_playlist_id")
    s.not_null("stg__spotify_playlists", "title")

    # ---- stg__spotify_playlists_others (:210-254)
    s.unique("stg__spotify_playlists_others", "playlist_uri")
    s.not_null("stg__spotify_playlists_others", "playlist_uri")
    s.match_like("stg__spotify_playlists_others", "playlist_uri", "spotify:playlist:%")
    s.aggregate_match(
        "stg__spotify_playlists_others", "playlist_uri", "duration_ms", "stg__spotify_tracks",
        "playlist_uri", F.sum("duration_ms"), "duration_match",
    )
    s.aggregate_match(
        "stg__spotify_playlists_others", "playlist_uri", "total_tracks", "stg__spotify_tracks",
        "playlist_uri", F.count(F.lit(1)).cast("bigint"), "tracks_count_match",
    )
    for col in ("playlist_title", "playlist_owner", "duration_ms", "total_tracks"):
        s.not_null("stg__spotify_playlists_others", col)
    s.expression_is_true("stg__spotify_playlists_others", "duration_ms > 0")
    s.expression_is_true("stg__spotify_playlists_others", "total_tracks > 0")

    # ---- stg__spotify_tracks (:257-310); the album_uri relationship
    # test is deliberately DISABLED in the reference with rationale
    # (:277-281) — mirrored by omission here.
    s.unique("stg__spotify_tracks", "track_uri")
    s.match_regex("stg__spotify_tracks", "track_uri", "^spotify:(track|local):")
    s.not_null("stg__spotify_tracks", "album_uri", where="track_uri not like 'spotify:local:%'")
    s.relationships("stg__spotify_tracks", "playlist_uri", "stg__spotify_playlists_others", "playlist_uri")
    for col in ("track_title", "track_artists", "duration_ms"):
        s.not_null("stg__spotify_tracks", col)
    s.expression_is_true("stg__spotify_tracks", "duration_ms > 0")

    # ---- stg__youtube_library (:313-340)
    s.unique("stg__youtube_library", "id")
    for col in ("id", "youtube_playlist_id", "video_id"):
        s.not_null("stg__youtube_library", col)
    s.relationships("stg__youtube_library", "youtube_playlist_id", "stg__youtube_playlists", "youtube_playlist_id")
    s.relationships("stg__youtube_library", "video_id", "stg__youtube_videos", "video_id")

    # ---- stg__youtube_playlists (:343-374)
    s.unique("stg__youtube_playlists", "youtube_playlist_id")
    s.not_null("stg__youtube_playlists", "youtube_playlist_id")
    s.accepted_values("stg__youtube_playlists", "type", list(PLAYLIST_TYPES))
    s.not_null("stg__youtube_playlists", "type")
    s.not_null("stg__youtube_playlists", "title")
    s.not_null("stg__youtube_playlists", "author", where="youtube_playlist_id != 'LM'")

    # ---- stg__youtube_videos (:377-421)
    s.unique("stg__youtube_videos", "video_id")
    s.accepted_values("stg__youtube_videos", "type", list(VIDEO_TYPES))
    for col in ("video_id", "type", "title", "author", "description", "duration_ms"):
        s.not_null("stg__youtube_videos", col)
    s.expression_is_true("stg__youtube_videos", "duration_ms > 0")

    # ---- int_join_spotify_uris (_intermediate__models.yml:4-35)
    s.equal_rowcount("int_join_spotify_uris", "stg__spotify_log")
    s.unique_combination(
        "int_join_spotify_uris", ["spotify_uri", "spotify_playlist_id"],
        where="status = 'saved' and spotify_playlist_id is not null",
    )
    s.accepted_values("int_join_spotify_uris", "spotify_type", ["Album", "Playlist", "Track"])
    s.match_regex("int_join_spotify_uris", "spotify_uri", "^spotify:(album|playlist|track):")
    s.not_null("int_join_spotify_uris", "percentage_in_desc")
    s.expression_is_true("int_join_spotify_uris", "percentage_in_desc <= 100")
    s.expression_is_true("int_join_spotify_uris", "percentage_in_desc >= 0")
    s.column_type("int_join_spotify_uris", "percentage_in_desc", "double")

    # ---- int_useful_youtube_library (:38-47)
    s.equal_rowcount("int_useful_youtube_library", "stg__youtube_library")
    s.accepted_values("int_useful_youtube_library", "estimated_type", ["Track", "Album/Playlist"])

    # ---- log_found_videos (_marts__models.yml:4-90)
    s.unique_combination(
        "log_found_videos", ["video_id", "spotify_playlist_id"], where="video_id is not null"
    )
    s.expression_is_true("log_found_videos", "track_match <= total_tracks")
    s.accepted_values("log_found_videos", "found", ["Album", "Playlist", "Track"])
    for col in (
        "found", "youtube_title", "youtube_author", "spotify_title", "spotify_author",
        "found_by", "found_on_try", "status", "track_match", "total_tracks",
        "percentage_in_desc", "youtube_duration_timestamp", "spotify_duration_timestamp",
        "difference_sec",
    ):
        s.not_null("log_found_videos", col)
    s.expression_is_true("log_found_videos", "percentage_in_desc <= 100")
    s.expression_is_true("log_found_videos", "percentage_in_desc >= 0")
    s.column_type("log_found_videos", "percentage_in_desc", "double")
    s.column_type("log_found_videos", "difference_sec", "double")
    # BigQuery TIME -> string deviation, asserted explicitly
    s.column_type("log_found_videos", "youtube_duration_timestamp", "string")
    s.column_type("log_found_videos", "spotify_duration_timestamp", "string")
    s.match_regex("log_found_videos", "youtube_duration_timestamp", r"^\d{2}:\d{2}:\d{2}$")

    # ---- log_not_found_videos (:93-114)
    s.unique_combination("log_not_found_videos", ["video_id", "youtube_playlist_id"])
    for col in ("video_id", "title", "author", "duration_ms"):
        s.not_null("log_not_found_videos", col)

    # ---- log_for_tableau (:117-160; two stale-yml adaptations, see
    # module docstring)
    s.equal_rowcount("log_for_tableau", "stg__youtube_library")
    s.expression_is_true("log_for_tableau", "track_match <= total_tracks")
    s.unique("log_for_tableau", "log_id", where="log_id is not null")
    s.unique("log_for_tableau", "id")
    s.not_null("log_for_tableau", "id")
    s.not_null("log_for_tableau", "youtube_type")
    # domain is both branches: threshold routing (Track/Album-Playlist,
    # log_for_tableau.sql:11-14) unioned with the other-users branch's
    # raw playlist type (yp.type, sql:63)
    s.accepted_values(
        "log_for_tableau", "youtube_type",
        ["Track", "Album/Playlist", *PLAYLIST_TYPES],
    )
    s.expression_is_true("log_for_tableau", "percentage_in_desc <= 100")
    s.expression_is_true("log_for_tableau", "percentage_in_desc >= 0")
    s.column_type("log_for_tableau", "percentage_in_desc", "double")
    s.column_type("log_for_tableau", "difference_sec", "double")
    s.expression_is_true("log_for_tableau", "difference_sec != 0")

    # ---- singular: no_lost_videos (dbt/tests/no_lost_videos.sql:3-30)
    def no_lost_videos(tables: dict[str, DataFrame]) -> DataFrame:
        total, found, not_found = (
            tables[t].agg(F.count(F.lit(1)).alias(a))
            for t, a in (("stg__youtube_library", "total"), ("int_join_spotify_uris", "found"),
                         ("log_not_found_videos", "not_found"))
        )
        return total.crossJoin(found).crossJoin(not_found).select(
            (F.col("total") != F.col("found") + F.col("not_found")).cast("bigint").alias("failures")
        )

    s.custom("(singular)", "no_lost_videos", no_lost_videos)
    return s
