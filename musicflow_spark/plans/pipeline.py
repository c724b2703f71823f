"""The dbt DAG as plain call order (SURVEY §3.3): sources -> staging
-> intermediates -> marts -> analyses.  Returns every model keyed by
its reference name; callers persist ('table') or register views
('view') as they choose — materialization is a deployment decision,
not a model property."""

from __future__ import annotations

from pyspark.sql import DataFrame

from musicflow_spark.config import PipelineConfig
from musicflow_spark.plans import analyses, intermediate, marts
from musicflow_spark.plans.staging import stage


def build_all(
    sources: dict[str, DataFrame], cfg: PipelineConfig | None = None
) -> dict[str, DataFrame]:
    """Every model of one build, keyed by its reference name.

    A model that two or more models read is computed once per build.
    The two intermediates sit on a lazy ``localCheckpoint``: the first
    action that reads one (a mart write, usually) stores its rows, and
    the other readers (marts, analyses, the check suite) read those
    rows instead of re-running its joins.  Not ``cache()``: a cache
    entry is session-wide, so a later build over the same source paths,
    rewritten, would match it and read stale rows, and someone would
    have to unpersist it.  A checkpoint lives and dies with the frames
    of this build.  Setting one up plans the intermediate physically,
    so under AQE this call already runs its shuffle and broadcast
    stages.
    """
    cfg = cfg or PipelineConfig()
    stg = stage(sources)
    out: dict[str, DataFrame] = {f"stg__{k}": v for k, v in stg.items()}

    int_join = intermediate.int_join_spotify_uris(stg).localCheckpoint(eager=False)
    int_useful = intermediate.int_useful_youtube_library(stg, cfg).localCheckpoint(eager=False)
    out["int_join_spotify_uris"] = int_join
    out["int_useful_youtube_library"] = int_useful

    out["log_found_videos"] = marts.log_found_videos(int_join)
    out["log_not_found_videos"] = marts.log_not_found_videos(
        int_useful, stg["spotify_log"]
    )
    out["log_for_tableau"] = marts.log_for_tableau(stg, cfg)

    out["most_saved_channels"] = analyses.most_saved_channels(stg["youtube_videos"])
    out["youtube_statistics"] = analyses.youtube_statistics(int_useful)
    out["videos_saved_more_than_once"] = analyses.videos_saved_more_than_once(int_useful)
    out["found_by_statistics"] = analyses.found_by_statistics(int_join)
    out["found_on_try_statistics"] = analyses.found_on_try_statistics(int_join)
    out["skipped_during_the_run"] = analyses.skipped_during_the_run(int_join)
    out["ratio_of_found_by_playlists"] = analyses.ratio_of_found_by_playlists(stg)
    return out
