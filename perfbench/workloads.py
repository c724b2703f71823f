"""The benchmark workloads, each over one generated dataset.

Every workload has the same life cycle, driven by run.py:

- ``prepare(workdir)``: land the seeded inputs as parquet (and, per
  workload, the cache snapshot or the materialised warehouse);
- ``reset()``: before each iteration, wipe what the last one wrote
  and restore the snapshot;
- ``iterate(tracer)``: the timed call into the program;
- ``verify(out, tracer)``: outside the timed region, check the outputs
  against the planted truth (and, in the traced run, the reference
  check suite), and record the counts the per-layer metrics read
  (``self.counts``).

``cold_sync`` and ``incremental_sync`` time
``musicflow_pipeline(...).run()``; ``mart_analytics`` times
``build_all`` plus writing the three marts and collecting the seven
analyses over a warehouse written during ``prepare``.

Sizes are small because a run's time is mostly fixed cost: a cold
sync of 2,000 library rows takes about 57 s on a 4-core machine, one
of 10,000 rows about 66 s.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from generator import CATALOG_TABLES, COLUMNS, Dataset, generate

MARTS = ("log_found_videos", "log_not_found_videos", "log_for_tableau")
ANALYSES = (
    "most_saved_channels", "youtube_statistics", "videos_saved_more_than_once",
    "found_by_statistics", "found_on_try_statistics", "skipped_during_the_run",
    "ratio_of_found_by_playlists",
)
ENGINE_TABLES = ("spotify_log", "spotify_tracks", "spotify_albums", "spotify_playlists_others")

#: library rows per workload
SIZES = {"cold_sync": 20_000, "incremental_sync": 2_000, "mart_analytics": 2_000}


def write_table(path: str, name: str, rows: list[tuple]) -> None:
    from pyspark.sql.pandas.types import to_arrow_schema

    from musicflow_spark.schemas import MUSICFLOW_SCHEMAS

    schema = to_arrow_schema(MUSICFLOW_SCHEMAS[name])
    cols = list(zip(*rows)) if rows else [() for _ in schema]
    table = pa.table(
        {f.name: pa.array(list(c), f.type) for f, c in zip(schema, cols)}, schema=schema
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def write_cache(path: str, rows: list[tuple[str, str | None]]) -> None:
    os.makedirs(path, exist_ok=True)
    keys, payloads = zip(*rows) if rows else ((), ())
    pq.write_table(
        pa.table({"video_id": pa.array(list(keys), pa.string()),
                  "payload": pa.array(list(payloads), pa.string())}),
        os.path.join(path, "part-0.parquet"),
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parse_payload(payload: str | None) -> dict | None:
    """A cache payload as a dict, children in uri order: the snapshot
    and the program serialise the same match differently."""
    if payload is None:
        return None
    m = json.loads(payload)
    if m.get("children"):
        m["children"] = sorted(m["children"], key=lambda c: c["track_uri"])
    return m


def read_rows(path: str) -> list[dict]:
    """A parquet table the program wrote, read without Spark so that
    verification adds no job to the run."""
    return pq.read_table(path).to_pylist()


@dataclass
class Outputs:
    """What one iteration produced, for verification."""

    #: model name -> DataFrame, as the reference suite takes them
    models: dict
    bytes_written: int
    #: Pipeline.metrics of a sync: table model -> {"rows": n}
    pipeline_metrics: dict = field(default_factory=dict)
    #: analysis name -> collected rows (mart_analytics)
    analyses: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    seed: int
    spark: object = None
    data: Dataset | None = None
    workdir: str = ""
    recall: float = 0.0
    precision: float = 0.0
    #: per-layer counts of the last verified iteration
    counts: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    # ---------------------------------------------------------- set-up
    def prepare(self, workdir: str) -> None:
        self.workdir = workdir
        self.data = generate(self.seed, SIZES[self.name])
        src = os.path.join(workdir, "src")
        for name, rows in self.data.tables.items():
            write_table(os.path.join(src, name), name, rows)
        if self.name == "incremental_sync":
            write_cache(self.snapshot_path, self.data.yesterday().expected_cache())
        if self.name == "mart_analytics":
            for name, rows in self.data.expected_entities().items():
                write_table(os.path.join(workdir, "mart_src", name), name, rows)
            write_table(os.path.join(workdir, "mart_src", "spotify_log"), "spotify_log",
                        self.data.expected_log())

    def _read(self, subdir: str, names) -> dict:
        from musicflow_spark.schemas import MUSICFLOW_SCHEMAS

        return {
            n: self.spark.read.schema(MUSICFLOW_SCHEMAS[n]).parquet(
                os.path.join(self.workdir, subdir, n)
            )
            for n in names
        }

    @property
    def warehouse(self) -> str:
        return os.path.join(self.workdir, "warehouse")

    @property
    def cache_path(self) -> str:
        return os.path.join(self.workdir, "match_cache")

    @property
    def snapshot_path(self) -> str:
        return os.path.join(self.workdir, "snapshot")

    def reset(self) -> None:
        """Wipe the warehouse and cache; restore the cache snapshot."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.rmtree(self.cache_path, ignore_errors=True)
        if self.name == "incremental_sync":
            shutil.copytree(self.snapshot_path, self.cache_path)

    # ------------------------------------------------------- timed call
    def iterate(self, tracer) -> Outputs:
        if self.name == "mart_analytics":
            return self._marts(tracer)
        return self._sync(tracer)

    def _sync(self, tracer) -> Outputs:
        from musicflow_spark.config import PipelineConfig
        from musicflow_spark.plans.dag import musicflow_pipeline

        from instrument import CountingSource, instrument_pipeline

        sources = self._read("src", self.data.tables)
        catalog = CountingSource(*(sources.pop(n) for n in CATALOG_TABLES), tracer=tracer)
        pipe = musicflow_pipeline(
            self.spark, sources, PipelineConfig(), catalog, self.warehouse,
            cache_path=self.cache_path,
        )
        instrument_pipeline(pipe, tracer)
        models = pipe.run()
        return Outputs(models, dir_bytes(self.warehouse) + dir_bytes(self.cache_path),
                       dict(pipe.metrics))

    def _marts(self, tracer) -> Outputs:
        from musicflow_spark.config import PipelineConfig
        from musicflow_spark.plans.pipeline import build_all

        sources = self._read("src", [n for n in COLUMNS if n not in CATALOG_TABLES])
        sources.update(self._read("mart_src", ENGINE_TABLES))
        with tracer.span("plans.pipeline.build_all"):
            models = build_all(sources, PipelineConfig())
        for name in MARTS:
            path = os.path.join(self.warehouse, name)
            with tracer.span(f"plans.marts.{name}"):
                models[name].write.mode("overwrite").parquet(path)
            models[name] = self.spark.read.parquet(path)
        analyses = {}
        for name in ANALYSES:
            with tracer.span(f"plans.analyses.{name}"):
                analyses[name] = models[name].collect()
        return Outputs(models, dir_bytes(self.warehouse), analyses=analyses)

    # ------------------------------------------------------ verification
    def verify(self, out: Outputs, tracer=None) -> bool:
        """The written tables (and mart_analytics' analyses) against the
        planted truth; records recall, precision and ``counts``.  Reads
        parquet with pyarrow, so it adds no Spark job to the run.  With
        a tracer (the traced run) it also runs the reference check
        suite over the iteration's models, under its own span."""
        d = self.data
        n_lib = d.library_rows
        problems = []
        self.counts = {
            "plans.dag.rows_written": sum(m["rows"] for m in out.pipeline_metrics.values()),
        }
        if tracer is not None:
            from musicflow_spark.checks import reference_suite

            with tracer.span("checks.runner.run"):
                results = reference_suite(out.models).run()
            problems += [str(r) for r in results if not r.passed]
            self.counts["checks.runner.assertions"] = len(results)
            self.counts["checks.runner.failed"] = len(problems)

        # library id of each found row: a video sits at most once in a
        # playlist, and another user's playlist holds one video
        lib_id = {(pid, vid): i for i, pid, vid in d.tables["youtube_library"]}
        other = {pid: i for i, pid, _ in d.tables["youtube_library"] if pid.startswith("OT")}
        found = {}
        for r in read_rows(os.path.join(self.warehouse, "log_found_videos")):
            key = other.get(r["youtube_playlist_id"])
            if key is None:
                key = lib_id.get((r["youtube_playlist_id"], r["video_id"]), -1)
            found[key] = r["spotify_uri"]
        not_found = pq.read_table(os.path.join(self.warehouse, "log_not_found_videos")).num_rows
        if len(found) + not_found != n_lib:
            problems.append(f"found {len(found)} + not found {not_found} != library {n_lib}")
        planted = {k: v for k, v in d.truth.items() if v is not None}
        hits = sum(found.get(k) == v for k, v in planted.items())
        self.recall = hits / len(planted)
        self.precision = sum(d.truth.get(k) == v for k, v in found.items()) / max(1, len(found))
        if hits != len(planted) or len(found) != len(planted):
            problems.append(
                f"recall {self.recall:.6f} precision {self.precision:.6f}: planted "
                f"{len(planted)}, found {len(found)}, correct {hits}"
            )
        tableau = pq.read_table(os.path.join(self.warehouse, "log_for_tableau")).num_rows
        if tableau != n_lib:
            problems.append(f"log_for_tableau rows {tableau} != library {n_lib}")
        if self.name == "mart_analytics":
            problems += self._check_analyses(out.analyses, len(planted))
        else:
            problems += self._check_engine_tables()
            problems += self._check_cache()
        self.problems = problems
        return not problems

    def _check_analyses(self, rows: dict, n_found: int) -> list[str]:
        """Totals of the seven analyses against the planted library."""
        t = self.data.tables
        copies = {}
        for _, _, vid in t["youtube_library"]:
            copies[vid] = copies.get(vid, 0) + 1
        expected = {
            "most_saved_channels": (sum(r.videos for r in rows["most_saved_channels"]),
                                    len(t["youtube_videos"])),
            "youtube_statistics": (sum(r.total_reconds for r in rows["youtube_statistics"]),
                                   len(t["youtube_library"])),
            "videos_saved_more_than_once": (len(rows["videos_saved_more_than_once"]),
                                            sum(n > 1 for n in copies.values())),
            "found_by_statistics": (sum(r.records_found for r in rows["found_by_statistics"]),
                                    n_found),
            "found_on_try_statistics": (
                sum(r.records_found for r in rows["found_on_try_statistics"]), n_found),
            # planted uris are distinct per video, and a video is never
            # twice in one playlist: no uri is saved twice to a playlist
            "skipped_during_the_run": (len(rows["skipped_during_the_run"]), 0),
            "ratio_of_found_by_playlists": (
                sum(r.found_tracks for r in rows["ratio_of_found_by_playlists"]), n_found),
        }
        return [f"{name}: total {got} != {want}"
                for name, (got, want) in expected.items() if got != want]

    def _check_engine_tables(self) -> list[str]:
        """spotify_log and the entity tables, row for row."""
        expected = {"spotify_log": self.data.expected_log(), **self.data.expected_entities()}
        return [
            f"{name} differs from the planted expectation"
            for name, rows in expected.items()
            if sorted(tuple(r.values()) for r in read_rows(os.path.join(self.warehouse, name)))
            != rows
        ]

    def _check_cache(self) -> list[str]:
        """The flushed match cache against the planted expectation, and
        the cache counts: keys the engine searched this run (those not
        in the restored snapshot), how many of them it matched, the
        share of the run's keys the snapshot answered, bytes flushed."""
        actual = {r["video_id"]: parse_payload(r["payload"]) for r in read_rows(self.cache_path)}
        expected = {k: parse_payload(p) for k, p in self.data.expected_cache()}
        restored = set()
        if self.name == "incremental_sync":
            restored = set(pq.read_table(self.snapshot_path).column("video_id").to_pylist())
        searched = [k for k in actual if k not in restored]
        self.counts.update({
            "matching.engine.videos_searched": len(searched),
            "matching.engine.matched_per_searched":
                sum(actual[k] is not None for k in searched) / max(1, len(searched)),
            "matching.cache.hit_ratio": len(restored & actual.keys()) / max(1, len(actual)),
            "matching.cache.bytes_written": dir_bytes(self.cache_path),
        })
        problems = []
        expected_searched = len(expected) - len(restored)
        if len(searched) != expected_searched:
            problems.append(f"searched {len(searched)} keys, expected {expected_searched}")
        if actual != expected:
            wrong = sum(actual.get(k, "missing") != v for k, v in expected.items())
            problems.append(f"match cache: {wrong} of {len(expected)} entries differ, "
                            f"{len(actual.keys() - expected.keys())} unexpected")
        return problems
