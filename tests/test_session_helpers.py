"""The session helpers the sync path relies on: an empty frame that
starts no Python worker, and concurrent submission of independent
actions from Python threads."""

from __future__ import annotations

import pathlib
import re
import threading

import pytest
from pyspark.sql.types import StructType

from musicflow_spark.session import empty_frame, run_concurrently

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "musicflow_spark"
#: the sync-and-analyse path: a Python worker started here is fixed
#: cost on every sync
PAPER_PATH = ("sources", "functions", "plans", "matching", "checks")


DDL = "uri string, n bigint, children array<struct<track_uri:string,ms:bigint>>"


@pytest.mark.parametrize("as_struct", [False, True], ids=["ddl", "struct"])
def test_empty_frame_plans_to_an_empty_local_scan(spark, as_struct):
    schema = StructType.fromDDL(DDL)
    df = empty_frame(spark, schema if as_struct else DDL)
    assert df.schema == schema
    assert df.collect() == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan <empty>" in plan
    assert "Range" not in plan


def test_run_concurrently_runs_thunks_side_by_side_and_keeps_order(spark):
    # every thunk waits for all the others: run one after another,
    # the barrier would time out
    barrier = threading.Barrier(4, timeout=30)

    def thunk(i):
        def run():
            barrier.wait()
            return i * i

        return run

    assert run_concurrently(*(thunk(i) for i in range(4))) == [0, 1, 4, 9]
    assert run_concurrently() == []


def test_run_concurrently_finishes_every_thunk_then_raises_the_first_failure(spark):
    done = []

    def fail(msg):
        def run():
            raise ValueError(msg)

        return run

    with pytest.raises(ValueError, match="first"):
        run_concurrently(fail("first"), lambda: done.append(1), fail("second"))
    assert done == [1]


def test_paper_path_builds_no_empty_frame_from_python_rows():
    """``createDataFrame([] ...)`` plans a Python RDD, and running it
    starts Python workers: the paper path uses ``empty_frame``."""
    pattern = re.compile(r"createDataFrame\(\s*\[\s*\]")
    offenders = [
        str(path.relative_to(PACKAGE))
        for pkg in PAPER_PATH
        for path in sorted((PACKAGE / pkg).rglob("*.py"))
        if pattern.search(path.read_text())
    ]
    assert offenders == []


def test_paper_path_opens_urls_only_in_http_json():
    """``sources/auth.py::http_json`` is the one HTTP call: it maps a
    401 to ``AuthError`` and a 429/5xx to ``TransientError``, which the
    one retry loop reads.  A second ``urlopen`` would need its own
    status mapping."""
    import inspect

    pattern = re.compile(r"\burlopen\(")
    calls = [
        (str(path.relative_to(PACKAGE)), len(pattern.findall(path.read_text())))
        for pkg in PAPER_PATH
        for path in sorted((PACKAGE / pkg).rglob("*.py"))
        if pattern.search(path.read_text())
    ]
    assert calls == [("sources/auth.py", 1)]

    from musicflow_spark.sources.auth import http_json

    assert pattern.search(inspect.getsource(http_json))


def test_partitioned_commits_only_in_overwrite_touched_partitions():
    """``sources/catalog.py::overwrite_touched_partitions`` is the one
    dynamic partition overwrite: it reads the touched partitions back,
    checkpoints their new rows and drops the ones left empty.  A
    second writer would need all three again."""
    offenders = [
        str(path.relative_to(PACKAGE))
        for path in sorted(PACKAGE.rglob("*.py"))
        if "partitionOverwriteMode" in path.read_text()
    ]
    assert offenders == ["sources/catalog.py"]
