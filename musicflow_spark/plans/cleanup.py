"""Cleanup flows (SURVEY §2.2 P9, §2.1 S11): the reference's manual
GitHub-Actions job unlikes tracks/albums and removes playlists that
the pipeline created after a checkpoint time
(dags/scripts/spotify_unlike_tracks.py:18-46,
spotify_unlike_albums.py:18-46, spotify_remove_playlists.py:42-47;
.github/workflows/clean_spotify.yaml).

Each flow is a timestamp-predicate filter over the current state
table; the side-effecting removal is the chunked foreachPartition
sink (sources/rest.py::apply_side_effects, batches of 50 like the
reference's API calls).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _added_after(df: DataFrame, ts_col: str, remove_after: dt.datetime | str | None) -> DataFrame:
    """P9: ``added_at > remove_after`` — None selects everything (the
    reference's full-cleanup default)."""
    if remove_after is None:
        return df
    lit = F.lit(remove_after).cast("timestamp") if isinstance(remove_after, str) else F.lit(remove_after)
    return df.filter(F.col(ts_col) > lit)


def tracks_to_unlike(liked_tracks: DataFrame, remove_after: dt.datetime | str | None = None) -> DataFrame:
    """(uri) of liked tracks added after the checkpoint (reference:
    spotify_unlike_tracks.py:30-33 keeps uris with
    ``added_at > remove_after``)."""
    return _added_after(liked_tracks, "added_at", remove_after).select("uri")


def albums_to_unlike(liked_albums: DataFrame, remove_after: dt.datetime | str | None = None) -> DataFrame:
    """Same predicate over saved albums
    (spotify_unlike_albums.py:30-33)."""
    return _added_after(liked_albums, "added_at", remove_after).select("uri")


def playlists_to_remove(
    playlists: DataFrame,
    remove_after: dt.datetime | str | None = None,
    keep_names: tuple[str, ...] = (),
) -> DataFrame:
    """(spotify_playlist_id) of pipeline-created playlists past the
    checkpoint; ``keep_names`` exempts hand-made playlists the way the
    reference's name check does (spotify_remove_playlists.py:42-47)."""
    out = _added_after(playlists, "created_at", remove_after)
    if keep_names:
        out = out.filter(~F.col("title").isin(*keep_names))
    return out.select("spotify_playlist_id")
