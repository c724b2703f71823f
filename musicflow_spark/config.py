"""Typed pipeline configuration: the two settings the reference reads
from the environment, and the two routing rules that read them.

Replaces the reference's scattered env-var switches with one object
(reference: dags/scripts/spotify_elt.py:779,837 reads THRESHOLD_MS with
"absent => everything is a track"; dbt injects DBT_THRESHOLD_MS and
DBT_YOUR_CHANNEL_NAME via env_var() in
dbt/models/intermediate/int_useful_youtube_library.sql:23-24 and
dbt/models/marts/log_for_tableau.sql:38).

The reference states each rule twice, in the Python matcher and in
the SQL models.  Here ``estimated_type`` and ``owns`` are the only
definitions, so the search that ran and the marts cannot disagree.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PipelineConfig:
    #: videos with duration >= threshold route to the album/playlist
    #: branch; None reproduces "THRESHOLD_MS absent => always track"
    #: (reference: spotify_elt.py:779-781,837-856)
    threshold_ms: int | None = 720_000
    #: the current user's channel name — drives ownership routing
    #: (reference: spotify_elt.py:50,120; log_for_tableau.sql:38,71)
    your_channel_name: str = "your_channel"

    @classmethod
    def from_env(cls) -> "PipelineConfig":
        th = os.environ.get("THRESHOLD_MS")
        return cls(
            threshold_ms=int(th) if th else None,
            your_channel_name=os.environ.get("YOUR_CHANNEL_NAME", "your_channel"),
        )

    def estimated_type(self, duration_ms: Column) -> Column:
        """Threshold routing: 'Track' below ``threshold_ms``,
        'Album/Playlist' at or above it, null for a null duration; a
        constant 'Track' when there is no threshold (reference:
        spotify_elt.py:779-781; int_useful_youtube_library.sql:20-24)."""
        th = self.threshold_ms
        if th is None:
            return F.lit("Track")
        return F.when(duration_ms < th, "Track").when(duration_ms >= th, "Album/Playlist")

    def owns(self, author: Column) -> Column:
        """Ownership: a playlist is the current user's when its author
        is ``your_channel_name`` or null (the 'LM' pseudo-playlist)
        (reference: spotify_elt.py:120; log_for_tableau.sql:38,71).
        Never null, so ``~owns(author)`` is the other users' playlists."""
        return (author == self.your_channel_name) | author.isNull()
