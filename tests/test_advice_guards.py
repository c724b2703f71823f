"""ADVICE guard tests: the four low-severity contract gaps in
operators/similarity.py, and tools/perf_tables.py's unusable records,
now fail loudly instead of silently diverging."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_pq_codebook_rows_rejects_duplicate_seed_ids(spark):
    from musicflow_spark.operators.similarity import pq_codebook_rows_from_seeds

    seeds = spark.createDataFrame(
        [(1, [0.1, 0.2]), (1, [0.3, 0.4])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="duplicate seed ids"):
        pq_codebook_rows_from_seeds(seeds, "vec_id", "embedding", 2, 1, 1000)


def test_nearest_centroid_ids_arrow_rejects_non_finite(spark):
    from musicflow_spark.operators.similarity import nearest_centroid_ids_arrow

    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [float("nan"), 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = nearest_centroid_ids_arrow(
        df, [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "vec_id", "vid"
    )
    with pytest.raises(Exception, match="non-finite vector"):
        out.collect()


def test_ivf_multiprobe_rejects_unsorted_cent_rows(spark):
    from musicflow_spark.operators.similarity import ivf_multiprobe_topk

    corpus = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="sorted by cluster_id"):
        ivf_multiprobe_topk(
            corpus,
            corpus,
            [(2, [100, 100]), (0, [0, 0])],
            budget_rows=10,
        )


def test_pq_encode_arrow_preserves_id_type(spark):
    from musicflow_spark.operators.similarity import pq_encode_codes_arrow

    corpus = spark.createDataFrame(
        [(7, [0.1, 0.2]), (9, [0.9, 0.8])], "vec_id int, embedding array<double>"
    ).select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    codebook = [[[100, 200], [900, 800]]]
    out = pq_encode_codes_arrow(
        corpus, codebook, "vec_id", "embedding", 2, 1, 1000
    )
    assert out.schema["neighbor_id"].dataType.simpleString() == "int"
    rows = {r["neighbor_id"]: list(r["codes"]) for r in out.collect()}
    assert rows == {7: [0], 9: [1]}


def _perf_tables(tmp_path, a: dict, b: dict):
    import json
    import os
    import subprocess
    import sys

    paths = []
    for name, rec in (("a.json", a), ("b.json", b)):
        paths.append(str(tmp_path / name))
        with open(paths[-1], "w") as fh:
            json.dump(rec, fh)
    tool = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "perf_tables.py")
    return subprocess.run(
        [sys.executable, tool, *paths], capture_output=True, text=True, check=False
    )


def test_perf_tables_rejects_zero_control(tmp_path):
    ok = {"queries": {"q1": 2.0}, "control": {"sec": 1.0}}
    zero = {"queries": {"q1": 2.0}, "control": {"sec": 0.0}}
    done = _perf_tables(tmp_path, ok, zero)
    assert done.returncode != 0
    assert "b.json: control takes 0.0 s" in done.stderr
    assert "Traceback" not in done.stderr


def test_perf_tables_rejects_disjoint_records(tmp_path):
    a = {"queries": {"q1": 2.0}, "control": {"sec": 1.0}}
    b = {"queries": {"q2": 2.0}, "control": {"sec": 1.0}}
    done = _perf_tables(tmp_path, a, b)
    assert done.returncode != 0
    assert "share no query" in done.stderr
    assert "Traceback" not in done.stderr
    assert _perf_tables(tmp_path, a, a).returncode == 0
