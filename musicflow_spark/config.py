"""Typed pipeline configuration: the two settings the reference reads
from the environment.

Replaces the reference's scattered env-var switches with one object
(reference: dags/scripts/spotify_elt.py:779,837 reads THRESHOLD_MS with
"absent => everything is a track"; dbt injects DBT_THRESHOLD_MS and
DBT_YOUR_CHANNEL_NAME via env_var() in
dbt/models/intermediate/int_useful_youtube_library.sql:23-24 and
dbt/models/marts/log_for_tableau.sql:38).
"""

from __future__ import annotations

import os
from dataclasses import dataclass


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
