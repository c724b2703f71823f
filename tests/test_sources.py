"""REST-source adapters (SURVEY §2.1 S3-S8) against fake APIs, and
the S5 enrichment shapes."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from musicflow_spark.sources.rest import (
    batched_enrichment,
    fetch_token_paginated,
    lookup_join_enrichment,
)

ITEM_SCHEMA = "item_id bigint, name string"


def _fake_token_api(n_items: int, page_size: int):
    """nextPageToken-style walk over n_items."""

    def fetch_page(token):
        start = int(token) if token else 0
        rows = [
            {"item_id": i, "name": f"item-{i}"}
            for i in range(start, min(start + page_size, n_items))
        ]
        nxt = str(start + page_size) if start + page_size < n_items else None
        return rows, nxt

    return fetch_page


def test_token_pagination_walks_all_pages(spark):
    df = fetch_token_paginated(spark, _fake_token_api(123, 50), ITEM_SCHEMA)
    assert df.count() == 123
    assert df.agg(F.min("item_id"), F.max("item_id")).collect()[0][:] == (0, 122)


def test_token_pagination_guards_nontermination(spark):
    def never_ends(token):
        return [{"item_id": 0, "name": "x"}], "again"

    import pytest

    with pytest.raises(RuntimeError, match="did not terminate"):
        fetch_token_paginated(spark, never_ends, ITEM_SCHEMA, max_pages=5)


def test_offset_pagination_is_distributed_and_complete():
    """The Data Source reader deals the pages of [0, 173) into 3
    slices: each offset lies in exactly one page, the last page is
    clipped to the total, and a sub-range (a stream's micro-batch) is
    dealt the same way."""
    from musicflow_spark.sources.datasource import OffsetRestReader

    reader = OffsetRestReader(
        T.StructType.fromDDL(ITEM_SCHEMA),
        {"url": "http://x", "total": "173", "page_size": "50", "num_partitions": "3"},
    )

    def covered(slices):
        return sorted(i for s in slices for off, limit in s.pages for i in range(off, off + limit))

    slices = reader.partitions()
    assert len(slices) == 3
    assert covered(slices) == list(range(173))
    assert [p for s in slices for p in s.pages] == [(0, 50), (150, 23), (50, 50), (100, 50)]
    assert covered(reader.partitions(13, 23)) == list(range(13, 23))


def test_batched_enrichment_chunks_and_fills(spark):
    df = spark.createDataFrame([(i,) for i in range(120)], "video_id bigint").coalesce(1)

    def lookup(ids):
        # executor-side enforcement of the API's batch limit: chunking
        # failures surface as task errors
        if len(ids) > 50:
            raise AssertionError(f"batch limit exceeded: {len(ids)}")
        # id 7 missing from the API response -> null duration
        return {i: {"duration_ms": i * 1000} for i in ids if i != 7}

    out = batched_enrichment(
        df,
        "video_id",
        lookup,
        [T.StructField("duration_ms", T.LongType(), True)],
        batch_size=50,
    ).collect()
    by_id = {r["video_id"]: r["duration_ms"] for r in out}
    assert by_id[3] == 3000 and by_id[7] is None
    assert len(by_id) == 120


def test_lookup_join_enrichment_broadcasts(spark):
    base = spark.createDataFrame([(1,), (2,), (3,)], "id bigint")
    lut = spark.createDataFrame([(1, "a"), (3, "c")], "id bigint, v string")
    out = lookup_join_enrichment(base, lut, "id")
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: "a", 2: None, 3: "c"}
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_runs_shuffle_free(spark, tmp_path):
    """The 100 TB fact-join story, proven on the plan: both sides
    written bucketBy the join key -> the join reads pre-co-located
    buckets and the physical plan contains NO shuffle exchange."""
    from pyspark.sql import functions as F

    from musicflow_spark.sources.catalog import read_table, write_table

    sf = "/root/testdata/sf0.001"
    orders = read_table(spark, sf, "orders")
    lineitem = read_table(spark, sf, "lineitem")
    for name, df, key in (
        ("b_orders", orders, "o_orderkey"),
        ("b_lineitem", lineitem, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_table(
            df, str(tmp_path / name), bucket_by=(8, [key]), table_name=name
        )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # emulate the at-scale regime: neither fact side broadcastable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself must not shuffle either side; the only
        # exchange allowed is the post-join aggregation's
        n_shuffles = plan.count("Exchange hashpartitioning")
        assert n_shuffles <= 1, plan
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        # and it computes the right thing
        want = (
            lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        got = {r["o_orderpriority"]: r["n"] for r in joined.collect()}
        assert got == {r["o_orderpriority"]: r["count"] for r in want.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_replace_table_recovers_only_a_finished_copy(spark, tmp_path):
    """``existing_table`` reads a table, finishes a replace that crashed
    between removing the table and renaming its finished copy, and
    leaves an unfinished copy (no ``_SUCCESS``) where it is."""
    import os
    import shutil

    from musicflow_spark.sources.catalog import existing_table, replace_table

    path = str(tmp_path / "t")
    tmp = f"{path}.__tmp__"
    assert existing_table(spark, path) is None
    replace_table(spark.range(3), path)
    replace_table(spark.range(5), path)
    assert sorted(r.id for r in existing_table(spark, path).collect()) == list(range(5))
    assert not os.path.exists(tmp)

    os.rename(path, tmp)  # the state such a crash leaves
    assert sorted(r.id for r in existing_table(spark, path).collect()) == list(range(5))
    assert not os.path.exists(tmp)

    shutil.rmtree(path)
    spark.range(2).write.parquet(tmp)
    os.remove(os.path.join(tmp, "_SUCCESS"))
    assert existing_table(spark, path) is None
    assert not os.path.exists(path) and os.path.isdir(tmp)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Partition pruning, proven on the plan: events written
    partitionBy(event_type), a single-type query must scan ONE
    partition directory and push the predicate out of the scan."""
    from pyspark.sql import functions as F

    from musicflow_spark.sources.catalog import read_table, write_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "ev_part")
    write_table(ev, path, partition_by=["event_type"])
    one = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the partition filter reaches the scan; no row-level filter left
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan
    want = ev.filter(F.col("event_type") == "click").count()
    assert one.count() == want and want > 0


def test_compact_table_reduces_file_count_preserves_rows(spark, tmp_path):
    from musicflow_spark.sources.catalog import compact_table, read_table

    path = str(tmp_path / "fragmented")
    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    # simulate an accreting incremental sink: 12 tiny appends
    for i in range(12):
        ev.filter(F.col("event_id") % 12 == i).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 12
    want = ev.count()
    n = compact_table(spark, path, target_file_bytes=64 * 1024, sort_within_by=["ts"])
    after = glob.glob(f"{path}/*.parquet")
    assert len(after) == n < before
    got = spark.read.parquet(path)
    assert got.count() == want
    # within-file ts ordering -> selective min/max row-group stats
    import pyarrow.parquet as pq

    metas = [(pq.read_metadata(f)) for f in after]
    for m in metas:
        assert m.num_rows > 0
