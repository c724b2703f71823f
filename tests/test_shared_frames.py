"""r14 shared-frame parity: the toks/fps reuse parameters must be
value-identical to the inline derivations they replace (guide §2.4
same-subtree reuse — corpus_training_batch_mart threads one tokenize
pass and one fingerprint pass through its whole front end)."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from musicflow_spark.operators.textstats import fingerprint, tokens


def _docs(spark):
    rows = [
        (1, "Alpha beta gamma delta epsilon zeta"),
        (2, "alpha BETA gamma delta epsilon zeta"),
        (3, "one two, three four five six seven"),
        (4, ""),
        (5, "one two"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tok_frame(docs):
    return docs.select("doc_id", tokens(F.col("text")).alias("tk"))


def test_hashed_shingles_from_toks_row_identical(spark):
    from musicflow_spark.operators.dedup import with_hashed_shingles

    docs = _docs(spark)
    inline = {r["doc_id"]: sorted(r["sh"]) for r in with_hashed_shingles(docs).collect()}
    shared = {
        r["doc_id"]: sorted(r["sh"])
        for r in with_hashed_shingles(docs, toks=_tok_frame(docs)).collect()
    }
    assert inline == shared


def test_string_shingles_from_toks_row_identical(spark):
    from musicflow_spark.operators.dedup import with_shingles

    docs = _docs(spark)
    inline = {r["doc_id"]: sorted(r["sh"]) for r in with_shingles(docs).collect()}
    shared = {
        r["doc_id"]: sorted(r["sh"])
        for r in with_shingles(docs, toks=_tok_frame(docs)).collect()
    }
    assert inline == shared


def test_jaccard_pairs_from_toks_row_identical(spark):
    from musicflow_spark.operators.dedup import jaccard_pairs

    docs = _docs(spark)
    key = lambda r: (r["doc_a"], r["doc_b"], r["inter_cnt"], r["jaccard"])
    inline = sorted(map(key, jaccard_pairs(docs, threshold=0.1, max_df=20).collect()))
    shared = sorted(
        map(
            key,
            jaccard_pairs(
                docs, threshold=0.1, max_df=20, toks=_tok_frame(docs)
            ).collect(),
        )
    )
    assert inline == shared and inline  # non-empty: 1~2 must pair


def test_split_contamination_fps_row_identical(spark):
    from musicflow_spark.operators.sampling import split_contamination

    docs = _docs(spark)
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    key = lambda r: (r["eval_id"], r["split"], r["train_id"], r["kind"], r["jaccard"])
    inline = sorted(map(key, split_contamination(docs, "doc_id", "text", weights).collect()))
    fps = docs.select("doc_id", fingerprint("text").alias("fp"))
    shared = sorted(
        map(
            key,
            split_contamination(docs, "doc_id", "text", weights, fps=fps).collect(),
        )
    )
    assert inline == shared


def test_split_contamination_rejects_fps_missing_a_doc(spark):
    """A doc that ``fps`` lacks must fail the probe loudly, not drop
    out of it (an inner join on the id would lose it silently)."""
    from musicflow_spark.operators.sampling import split_contamination

    docs = _docs(spark)
    fps = docs.filter(F.col("doc_id") != 2).select("doc_id", fingerprint("text").alias("fp"))
    probe = split_contamination(docs, "doc_id", "text", {"train": 0.5, "val": 0.5}, fps=fps)
    with pytest.raises(PySparkException, match="fps has no fingerprint"):
        probe.collect()
