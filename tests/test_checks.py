"""Check-runner tests: the ported dbt suite (SURVEY §5) must pass on
the fixture pipeline, and each check family must actually catch
planted violations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from musicflow_spark.checks import CheckResult, CheckSet, reference_suite
from musicflow_spark.config import PipelineConfig
from musicflow_spark.plans.pipeline import build_all


@pytest.fixture(scope="module")
def models(musicflow_sources):
    return build_all(musicflow_sources, PipelineConfig())


def test_reference_suite_green(models):
    suite = reference_suite(models)
    # the reference runs ~130 dbt assertions; the port must be in
    # that league, not a token subset
    assert suite.count() >= 130
    results = suite.run()
    failing = [r for r in results if not r.passed]
    assert failing == [], "\n".join(str(r) for r in failing)


def test_row_check_fusion_single_scan(models):
    # all row checks for one table fuse into one aggregate: verify by
    # constructing N checks and observing a single-row result drives
    # them all (behavioral: counts still correct per check)
    s = CheckSet(tables=dict(models))
    s.not_null("stg__youtube_videos", "video_id")
    s.expression_is_true("stg__youtube_videos", "duration_ms > 0")
    s.accepted_values("stg__youtube_videos", "type", ["nope"])
    res = {r.name: r.failures for r in s.run()}
    assert res["not_null: video_id"] == 0
    assert res["expression: duration_ms > 0"] == 0
    assert res["accepted_values: type"] == 10  # every fixture video


def test_unique_catches_duplicates(spark, models):
    t = models["stg__youtube_videos"]
    dup = t.unionByName(t.limit(1))
    s = CheckSet(tables={"t": dup})
    s.unique("t", "video_id")
    assert s.run()[0].failures == 1


def test_relationships_catches_orphans(spark, models):
    s = CheckSet(
        tables={
            "child": models["stg__spotify_log"].withColumn(
                "track_uri", F.lit("spotify:track:orphan")
            ),
            "parent": models["stg__spotify_tracks"],
        }
    )
    s.relationships("child", "track_uri", "parent", "track_uri")
    assert s.run()[0].failures == 1


def test_not_null_where_scoping(spark):
    df = spark.createDataFrame(
        [("LM", None), ("PL", None), ("PL2", "x")], "id string, author string"
    )
    s = CheckSet(tables={"t": df})
    s.not_null("t", "author", where="id != 'LM'")
    # only the PL row violates; LM's null author is allowed
    assert s.run()[0].failures == 1


def test_equal_rowcount_and_singular(models):
    s = CheckSet(tables=dict(models))
    s.equal_rowcount("stg__youtube_library", "stg__spotify_log")  # 14 vs 12
    assert s.run()[0].failures == 2


def test_aggregate_match_catches_duration_drift(models):
    bad_albums = models["stg__spotify_albums"].withColumn(
        "duration_ms", F.col("duration_ms") + 1
    )
    s = CheckSet(
        tables={
            "stg__spotify_albums": bad_albums,
            "stg__spotify_tracks": models["stg__spotify_tracks"],
        }
    )
    s.aggregate_match(
        "stg__spotify_albums", "album_uri", "duration_ms", "stg__spotify_tracks",
        "album_uri", F.sum("duration_ms"), "duration_match",
    )
    assert s.run()[0].failures == 1


def test_column_type_check_is_static(models):
    s = CheckSet(tables=dict(models))
    s.column_type("stg__youtube_videos", "duration_ms", "bigint")
    s.column_type("stg__youtube_videos", "duration_ms", "string")  # wrong
    res = s.run()
    assert res[0].passed and not res[1].passed


def _every_family(spark) -> CheckSet:
    """One suite with a check of every family over two hand-built
    tables, each check planted with a different failure count."""
    # p: rows 0-9 pair up into ids 0-4 (5 duplicate keys); rows 10-19
    # are ids 110-119 with dur = row number
    p = spark.createDataFrame(
        [
            (i // 2 if i < 10 else i + 100, None if i < 1 else "x", "y" if i < 2 else "x",
             -1 if i < 3 else 1, "bad" if i < 4 else "ok-1", 0 if i < 10 else i)
            for i in range(20)
        ],
        "id bigint, a string, kind string, v bigint, code string, dur bigint",
    )
    # c (29 rows): one child per id 110-119 whose dur is off by one,
    # 8 extra (pid, 't') rows for 110-117, 7 orphan pids, 4 children
    # of ids 0-3 that sum to p's dur; 6 rows are tagged 'x'
    c = spark.createDataFrame(
        [(110 + k, "t", 11 + k) for k in range(10)]
        + [(110 + k, "t", 0) for k in range(8)]
        + [(1000 + k, "x" if k < 2 else "t", 0) for k in range(7)]
        + [(k, "x", 0) for k in range(4)],
        "pid bigint, tag string, dur bigint",
    )
    s = CheckSet(tables={"p": p, "c": c})
    s.unique("p", "id")  # 5
    s.not_null("p", "a")  # 1
    s.column_type("p", "id", "bigint")  # schema: 0
    s.relationships("c", "pid", "p", "id")  # 7
    s.match_like("c", "tag", "t%")  # 6
    s.accepted_values("p", "kind", ["x"])  # 2
    s.unique_combination("c", ["pid", "tag"])  # 8
    s.expression_is_true("p", "v >= 0")  # 3
    s.equal_rowcount("p", "c")  # 9
    s.match_regex("p", "code", "^ok")  # 4
    s.aggregate_match("p", "id", "dur", "c", "pid", F.sum("dur"), "duration_match")  # 10
    s.custom(  # 11
        "(singular)", "rows_minus_9",
        lambda t: t["p"].agg((F.count(F.lit(1)) - 9).alias("failures")),
    )
    s.column_type("p", "id", "string")  # schema: 1
    return s


def test_every_family_in_one_suite(spark):
    # every count differs, so a check index swapped in the union shows
    # up as a wrong count; order is schema checks, then the fused row
    # checks table by table, then the rest in registration order
    assert _every_family(spark).run() == [
        CheckResult("p", "column_type: id = bigint", 0),
        CheckResult("p", "column_type: id = string", 1),
        CheckResult("p", "not_null: a", 1),
        CheckResult("p", "accepted_values: kind", 2),
        CheckResult("p", "expression: v >= 0", 3),
        CheckResult("p", "match_regex: code", 4),
        CheckResult("c", "match_like: tag", 6),
        CheckResult("p", "unique: id", 5),
        CheckResult("c", "relationships: pid -> p.id", 7),
        CheckResult("c", "unique: pid, tag", 8),
        CheckResult("p", "equal_rowcount vs c", 9),
        CheckResult("p", "duration_match", 10),
        CheckResult("(singular)", "rows_minus_9", 11),
    ]


def test_run_is_one_action(spark, monkeypatch):
    s = _every_family(spark)
    cls = type(s.tables["p"])
    calls = {"collect": 0, "count": 0}
    for method in calls:
        def spy(self, *args, _method=method, _real=getattr(cls, method), **kwargs):
            calls[_method] += 1
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, spy)
    s.run()
    assert calls == {"collect": 1, "count": 0}
