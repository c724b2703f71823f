"""End-to-end over planted truth: a cold sync of a seeded generated
library must find exactly the planted catalog match of every video.

The generator and the verification are the benchmark's
(``perfbench/generator.py``, ``perfbench/workloads.py``), used
read-only, so tier-1 and the benchmark share one meaning of
"correct": recall and precision 1.0 against ``Dataset.truth``,
conservation of library rows, ``spotify_log`` and the entity tables
row for row, the flushed match cache entry by entry, and the totals of
the seven analyses.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
from generator import CATALOG_TABLES, generate  # noqa: E402
from workloads import ANALYSES, Outputs, Workload  # noqa: E402

SEED = 7
LIBRARY_ROWS = 400


@pytest.fixture(scope="module")
def synced(spark, tmp_path_factory):
    from musicflow_spark.config import PipelineConfig
    from musicflow_spark.matching import CatalogCandidateSource
    from musicflow_spark.plans.dag import musicflow_pipeline
    from musicflow_spark.schemas import MUSICFLOW_SCHEMAS

    wl = Workload(
        "cold_sync", SEED, spark, data=generate(SEED, LIBRARY_ROWS),
        workdir=str(tmp_path_factory.mktemp("planted_truth")),
    )
    sources = {
        name: spark.createDataFrame(rows, MUSICFLOW_SCHEMAS[name])
        for name, rows in wl.data.tables.items()
    }
    catalog = CatalogCandidateSource(*(sources.pop(name) for name in CATALOG_TABLES))
    pipe = musicflow_pipeline(
        spark, sources, PipelineConfig(), catalog, wl.warehouse,
        cache_path=wl.cache_path,  # cold: nothing there yet
    )
    models = pipe.run()
    return wl, models, dict(pipe.metrics)


def test_matches_equal_planted_truth(synced):
    wl, models, metrics = synced
    assert any(v is not None for v in wl.data.truth.values()), "no match is planted"
    assert wl.verify(Outputs(models, 0, metrics)), wl.problems
    assert (wl.recall, wl.precision) == (1.0, 1.0)


def test_analysis_totals(synced):
    wl, models, _ = synced
    rows = {name: models[name].collect() for name in ANALYSES}
    n_found = sum(v is not None for v in wl.data.truth.values())
    assert wl._check_analyses(rows, n_found) == []
