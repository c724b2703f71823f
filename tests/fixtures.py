"""Deterministic MusicFlow-shaped fixture tables per FIXTURES.md.

Hand-built rows (no RNG) hitting every constraint the reference's dbt
test suite encodes: the LM pseudo-playlist with null author, mixed
ownership, threshold-straddling durations, parent-child duration /
track-count consistency, exactly-one-uri-non-null log rows, the
conservation split (library ids with no log row), duplicate videos
across playlists, and duplicate uris (skip statuses).

THRESHOLD_MS=720000 and YOUR_CHANNEL_NAME='your_channel' match
PipelineConfig defaults (FIXTURES.md invariant #6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from musicflow_spark.schemas import MUSICFLOW_SCHEMAS, SEARCH_TYPE_ROWS

YOUR_CHANNEL = "your_channel"
THRESHOLD_MS = 720_000

youtube_playlists = [
    # (youtube_playlist_id, type, title, author, year)
    ("LM", "Playlist", "Liked Music", None, None),
    ("PL_rock", "Playlist", "Rock Classics", YOUR_CHANNEL, 2020),
    ("PL_jazz", "Playlist", "Jazz Evenings", YOUR_CHANNEL, None),
    ("PL_other1", "Album", "Blues Collection", "other_user_a", 1999),
    ("PL_other2", "EP", "Synthwave EP", "other_user_b", 2021),
]

youtube_videos = [
    # (video_id, type, title, author, description, duration_ms)
    # track-sized, fix_title-exercising titles
    ("v01", "MUSIC_VIDEO_TYPE_ATV", "Bohemian Song (Official Video)", "QueenBand - Topic", "", 354_000),
    ("v02", "MUSIC_VIDEO_TYPE_OMV", "Stairway to Jazz [Live 1971]", "LedBand", "", 482_000),
    ("v03", "MUSIC_VIDEO_TYPE_UGC", "Moonlight OST | Piano Version", "PianoChan", "track list here", 201_000),
    ("v04", "MUSIC_VIDEO_TYPE_ATV", "Hotel Coastline ‘Remastered 2019‘", "EaglesFan - Topic", "", 391_000),
    ("v05", "MUSIC_VIDEO_TYPE_OFFICIAL_SOURCE_MUSIC", "Take Five: The Classic", "BrubeckArchive", "", 324_000),
    # album-sized (>= threshold), descriptions contain child track titles
    ("v06", "MUSIC_VIDEO_TYPE_UGC", "Dark Side Full Album (1973)", "PinkArchive", "Speak to Me; Breathe; Time; Money", 2_580_000),
    ("v07", "MUSIC_VIDEO_TYPE_UGC", "Blues Collection - Complete - ", "BluesVault", "Crossroad Blues; Sweet Home Chicago", 3_600_000),
    # a video saved in two playlists (duplicate across library)
    ("v08", "MUSIC_VIDEO_TYPE_OMV", "Autumn Leaves", "JazzHub", "", 265_000),
    # not-found candidates
    ("v09", "MUSIC_VIDEO_TYPE_UGC", "(1984)", "ObscureChannel", "", 222_000),
    ("v10", "MUSIC_VIDEO_TYPE_ATV", "Midnight Drive", "SynthLab - Topic", "", 244_000),
]

youtube_library = [
    # (id, youtube_playlist_id, video_id)
    (0, "LM", "v01"),
    (1, "LM", "v03"),
    (2, "PL_rock", "v01"),  # v01 in two playlists
    (3, "PL_rock", "v02"),
    (4, "PL_rock", "v04"),
    (5, "PL_jazz", "v05"),
    (6, "PL_jazz", "v08"),
    (7, "LM", "v08"),  # v08 in two playlists
    (8, "LM", "v06"),
    (9, "PL_other1", "v07"),
    (10, "PL_other2", "v10"),
    (11, "LM", "v09"),  # stays not-found
    (12, "PL_jazz", "v09"),  # stays not-found
    (13, "PL_jazz", "v10"),  # second hit on t05 in sp_jazz (skip-during)
]

spotify_tracks = [
    # (track_uri, album_uri, playlist_uri, track_title, track_artists, duration_ms)
    ("spotify:track:t01", "spotify:album:a01", None, "Bohemian Song", "QueenBand", 355_000),
    ("spotify:track:t02", "spotify:album:a02", None, "Stairway to Jazz", "LedBand", 480_000),
    ("spotify:track:t03", "spotify:album:a03", None, "Moonlight", "Moon Ensemble", 200_000),
    ("spotify:track:t04", "spotify:album:a04", None, "Hotel Coastline", "EaglesFan", 390_000),
    ("spotify:track:t05", "spotify:album:a05", None, "Take Five", "BrubeckArchive", 325_000),
    ("spotify:track:t08", "spotify:album:a06", None, "Autumn Leaves", "JazzHub; Trio X", 265_500),
    ("spotify:local:l01", None, None, "Local Oddity", "Unknown", 100_000),
    # children of the found album a10 (duration/track-count consistent)
    ("spotify:track:t11", "spotify:album:a10", None, "Speak to Me", "PinkArchive", 645_000),
    ("spotify:track:t12", "spotify:album:a10", None, "Breathe", "PinkArchive", 645_000),
    ("spotify:track:t13", "spotify:album:a10", None, "Time", "PinkArchive", 645_000),
    ("spotify:track:t14", "spotify:album:a10", None, "Money", "PinkArchive", 645_000),
    # children of the found other-playlist p10
    ("spotify:track:t21", "spotify:album:a20", "spotify:playlist:p10", "Crossroad Blues", "BluesVault", 900_000),
    ("spotify:track:t22", "spotify:album:a21", "spotify:playlist:p10", "Sweet Home Chicago", "BluesVault", 900_000),
    ("spotify:track:t23", "spotify:album:a22", "spotify:playlist:p10", "Hidden Gem", "BluesVault", 900_000),
    ("spotify:track:t24", "spotify:album:a23", "spotify:playlist:p10", "Last Call", "BluesVault", 900_000),
]

spotify_albums = [
    # (album_uri, album_title, album_artists, duration_ms, total_tracks)
    # duration == sum(children), total_tracks == child count (FIXTURES invariant #2)
    ("spotify:album:a10", "Dark Side", "PinkArchive", 2_580_000, 4),
]

spotify_playlists_others = [
    ("spotify:playlist:p10", "Blues Collection", "blues_curator", 3_600_000, 4),
]

spotify_playlists = [
    ("LM", "Liked Music"),
    ("sp_rock", "Rock Classics"),
    ("sp_jazz", "Jazz Evenings"),
]

playlist_ids = [
    (0, "LM", "LM"),
    (1, "PL_rock", "sp_rock"),
    (2, "PL_jazz", "sp_jazz"),
]

spotify_log = [
    # (log_id, album_uri, playlist_uri, track_uri, found_on_try,
    #  difference_ms, track_match, total_tracks, q, search_type_id, status)
    (0, None, None, "spotify:track:t01", 1, 1000, 0, 1, "track:Bohemian Song artist:QueenBand", 0, "saved"),
    (1, None, None, "spotify:track:t03", 2, 1000, 0, 1, "Moonlight Piano Version", 2, "saved"),
    (2, None, None, "spotify:track:t01", 1, 1000, 0, 1, "track:Bohemian Song artist:QueenBand", 0, "skipped (saved during the run)"),
    (3, None, None, "spotify:track:t02", 3, 2000, 0, 1, "Stairway to Jazz", 2, "saved"),
    (4, None, None, "spotify:track:t04", 1, 1000, 0, 1, "track:Hotel Coastline artist:EaglesFan", 0, "saved"),
    (5, None, None, "spotify:track:t05", 4, 1000, 0, 1, "Take Five The Classic", 3, "saved"),
    (6, None, None, "spotify:track:t08", 1, 500, 0, 1, "track:Autumn Leaves artist:JazzHub", 0, "saved"),
    (7, None, None, "spotify:track:t08", 1, 500, 0, 1, "track:Autumn Leaves artist:JazzHub", 0, "skipped (saved during the run)"),
    (8, "spotify:album:a10", None, None, 1, 0, 4, 4, "Dark Side", 2, "saved"),
    (9, None, "spotify:playlist:p10", None, 2, 0, 2, 4, "Blues Collection", 2, "saved"),
    (10, None, None, "spotify:track:t05", 2, 4000, 0, 1, "Midnight Drive", 2, "skipped (saved before the run)"),
    (13, None, None, "spotify:track:t05", 2, 4000, 0, 1, "Midnight Drive", 2, "skipped (saved during the run)"),
    # library ids 11, 12 intentionally absent -> not-found set
]


def build_sources(spark: SparkSession) -> dict[str, DataFrame]:
    data = {
        "youtube_playlists": youtube_playlists,
        "youtube_videos": youtube_videos,
        "youtube_library": youtube_library,
        "search_types": SEARCH_TYPE_ROWS,
        "spotify_albums": spotify_albums,
        "spotify_playlists_others": spotify_playlists_others,
        "spotify_tracks": spotify_tracks,
        "spotify_playlists": spotify_playlists,
        "playlist_ids": playlist_ids,
        "spotify_log": spotify_log,
    }
    return {
        name: spark.createDataFrame(rows, MUSICFLOW_SCHEMAS[name])
        for name, rows in data.items()
    }


def count_plan_nodes(df: DataFrame, name: str, limit: int = 1_000_000) -> int:
    """Occurrences of the Catalyst node ``name`` (an operator such as
    ``Join`` or an expression such as ``RegExpReplace``) in ``df``'s
    optimized plan.  Stops once past ``limit``, so an exponential
    expression tree fails fast instead of being walked."""

    def items(seq):
        return [seq.apply(i) for i in range(seq.size())]

    n, plans, exprs = 0, [df._jdf.queryExecution().optimizedPlan()], []
    while (plans or exprs) and n <= limit:
        if plans:
            node = plans.pop()
            plans += items(node.children())
            exprs += items(node.expressions())
        else:
            node = exprs.pop()
            exprs += items(node.children())
        n += node.nodeName() == name
    return n
