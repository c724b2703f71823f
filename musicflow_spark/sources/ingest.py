"""Extract-layer normalization (SURVEY §2.2 P4-P6, §2.7 U2, §2.4 A7):
the row filters and unions the reference applies while walking the
APIs, expressed over the already-landed source frames.

Reference behaviors reproduced:
- drop deleted/private videos  (youtube_elt.py:210, P4)
- drop 💼-marked playlists      (youtube_elt.py:115, P5)
- drop rows with null video id  (ytmusicapi_elt.py:97,125, P6)
- synthesize the 'LM' Liked-Music pseudo-playlist row and union it
  (youtube_elt.py:291-302, U2)
- dedup by natural key, keeping an arbitrary row of each key where the
  reference's dict upsert keeps the last (youtube_elt.py:211,243, A7)
- zero-duration / null-type repair (ytmusicapi_elt.py:282-289, P8)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: titles excluded from the library (youtube_elt.py:210)
DELETED_TITLES = ("Deleted video", "Private video")
#: playlist-title substring exclusion (youtube_elt.py:115)
EXCLUDED_PLAYLIST_MARKER = "\U0001f4bc"  # 💼


def filter_available_videos(videos: DataFrame) -> DataFrame:
    """P4: remove rows whose title marks an unavailable video."""
    return videos.filter(~F.col("title").isin(*DELETED_TITLES))


def filter_visible_playlists(playlists: DataFrame) -> DataFrame:
    """P5: remove playlists whose title carries the exclusion marker
    (substring containment, as in the reference)."""
    return playlists.filter(~F.col("title").contains(EXCLUDED_PLAYLIST_MARKER))


def filter_valid_tracks(tracks: DataFrame, id_col: str = "video_id") -> DataFrame:
    """P6: drop rows the API returned without an id."""
    return tracks.filter(F.col(id_col).isNotNull())


def with_lm_row(playlists: DataFrame) -> DataFrame:
    """U2: union the synthetic Liked-Music pseudo-playlist (id 'LM',
    null author — the null IS the marker, SURVEY §1.2)."""
    spark = playlists.sparkSession
    lm = spark.createDataFrame(
        [("LM", "Playlist", "Liked Music", None, None)], playlists.schema
    )
    return playlists.unionByName(lm)


def dedup_by_key(df: DataFrame, key: str) -> DataFrame:
    """A7: one row per natural key.  The reference's dict upsert is
    last-write-wins over identical payloads; ``dropDuplicates`` keeps
    an arbitrary row, which is only safe under that same
    identical-payload assumption — documented here, asserted by the
    check runner's unique tests downstream."""
    return df.dropDuplicates([key])


def repair_track_fields(tracks: DataFrame) -> DataFrame:
    """P8: the pandas boolean-mask fixups as conditional expressions —
    zero durations null out (so downstream threshold routing treats
    them as tracks), missing types default to 'Track'."""
    return tracks.withColumn(
        "duration_ms",
        F.when(F.col("duration_ms") == 0, F.lit(None).cast("long")).otherwise(
            F.col("duration_ms")
        ),
    ).withColumn(
        "type", F.coalesce(F.col("type"), F.lit("Track"))
    )
