"""Staging layer: 10 pass-through projection views (SURVEY §2.2 P1).

Each mirrors one ``dbt/models/staging/stg__*.sql`` (all are plain
column selections over a source table — reference:
stg__spotify_log.sql:7-20 and siblings).  Projection-early is the
reference's hand-rolled optimization; under Catalyst column pruning
makes it free, but the staging layer stays as the naming/contract
boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from musicflow_spark.schemas import MUSICFLOW_SCHEMAS


def stage(sources: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """source tables -> staged views, each projected to its table's
    declared columns (``schemas.MUSICFLOW_SCHEMAS``), in order."""
    return {
        name: sources[name].select(*schema.fieldNames())
        for name, schema in MUSICFLOW_SCHEMAS.items()
        if name in sources
    }
