"""Physical-plan regression guards for the classic-join-shape queries.

Each query's scale story (broadcast pruning, shuffle reuse, no
cartesian product) is asserted against the EXECUTED plan at sf0.001,
so a refactor that silently decays the plan — a lost broadcast hint, a
new cartesian, an extra exchange — fails the suite, not just the
per-round plan audit.  Bounds are upper bounds measured on the
intended plan (+1 slack for AQE variation), not exact counts: AQE may
legally remove exchanges, never add beyond these.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


CASES = [
    # (query fn module path, max hash exchanges, wants broadcast join)
    # 6th exchange = the un-hinted qualifying-order join-back (AQE
    # broadcasts it at runtime from the shuffle it reads; the forced
    # hint was dropped as a 100-TB OOM hazard)
    ("relational", "sole_late_shippers", 6, True),
    ("relational", "large_volume_orders", 3, True),
    ("relational", "nation_pair_trade_volume", 7, True),
    ("relational", "market_share_by_year", 6, True),
    ("warehouse", "nation_value_percentiles", 3, True),
    ("warehouse", "nation_metrics_unpivot", 3, True),
    ("warehouse", "segment_customer_overlap", 9, True),
    # classic Q-shape additions (bounds = measured executed plan + 1
    # slack; the AQE plan string repeats initial+final subtrees, so
    # these run higher than tools/plan_audit.py's pre-execution counts)
    ("classic", "best_supplier_per_part", 10, True),
    ("classic", "nation_profit_by_year", 2, True),
    ("classic", "ship_latency_priority_counts", 2, False),
    ("classic", "top_supplier_revenue", 5, True),
    ("classic", "part_supplier_variety", 7, True),
    ("classic", "excess_inventory_suppliers", 6, True),
]


@pytest.mark.parametrize("mod,name,max_hash_ex,wants_bcast", CASES)
def test_plan_shape(spark, mod, name, max_hash_ex, wants_bcast):
    import importlib

    fn = getattr(
        importlib.import_module(f"musicflow_spark.queries.{mod}"), name
    )
    plan = _executed(fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= max_hash_ex, f"{name}: {n_ex} hash exchanges > {max_hash_ex}"
    if wants_bcast:
        assert "BroadcastHashJoin" in plan, name


def test_important_parts_scalar_broadcast_only(spark):
    """The Q11 shape is ALLOWED its deliberate 1-row scalar broadcast
    (BroadcastNestedLoopJoin against the global total) but nothing
    quadratic: no CartesianProduct, and at most one BNLJ."""
    from musicflow_spark.queries.relational import important_parts

    plan = _executed(important_parts(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # AQE's toString renders the joined subtree twice; one logical
    # BNLJ appears as (up to) two occurrences
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_full_outer_join_planned(spark):
    """Snapshot reconciliation must plan a real FullOuter join (not a
    union-of-anti-joins emulation)."""
    from musicflow_spark.queries.warehouse import customer_snapshot_diff

    plan = _executed(customer_snapshot_diff(spark, SF_DIR))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_left_semi_join_planned(spark):
    """The Q4-shaped EXISTS must plan an actual LeftSemi join (no
    fan-out + dedup workaround)."""
    from musicflow_spark.queries.relational import late_order_priority_counts

    plan = _executed(late_order_priority_counts(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_nullaware_anti_join_planned(spark):
    """The NOT-IN query must plan Spark's null-aware anti join — a
    BroadcastHashJoin rendered 'LeftAnti, BuildRight, true' (the
    trailing flag is isNullAwareAntiJoin) — not a nested-loop
    fallback."""
    from musicflow_spark.queries.relational import nullaware_segment_anti

    plan = _executed(nullaware_segment_anti(spark, SF_DIR))
    assert "LeftAnti, BuildRight, true" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unpivot_expands_in_place(spark):
    """unpivot must stay a narrow Expand projection — no shuffle
    between the aggregate and the long output."""
    from musicflow_spark.queries.warehouse import nation_metrics_unpivot

    plan = _executed(nation_metrics_unpivot(spark, SF_DIR))
    assert "Expand" in plan


def test_runtime_bloom_filter_join_injectable(spark):
    # 100 TB surface: a selective dimension filter can inject a bloom
    # filter on the fact side's join key (row-level runtime filtering),
    # cutting shuffle input before the join.  Local thresholds are far
    # above sf0.001 sizes, so lower them to prove the engine's plans
    # are bloom-compatible (no conf in our read path blocks injection).
    from pyspark.sql import functions as F

    from musicflow_spark.sources.catalog import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1000MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, SF_DIR, "lineitem")
        orders = read_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).count()
        plan = _executed(j)
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_write(spark, tmp_path):
    # 100 TB surface: a fact table written partitionBy(key) must let a
    # selective dim filter prune partitions AT RUNTIME (DPP subquery in
    # the scan), not scan everything.  Uses our own write path.
    from pyspark.sql import functions as F

    from musicflow_spark.sources.catalog import read_table, write_table

    orders = read_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_table(orders, path, partition_by=["o_year"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(1996, "pick")], "d_year int, tag string"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        j = fact.join(
            dim.filter(F.col("tag") == "pick"),
            fact["o_year"] == dim["d_year"],
        ).groupBy("d_year").count()
        plan = _executed(j)
        # the scan must carry dynamicpruningexpression(o_year IN ...)
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        rows = j.collect()
        assert rows and rows[0]["count"] > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_index_at_rest_prunes_partitions(spark):
    """The ANN partition-pruning claim (SCALE.md), measured on a
    WRITTEN index: knn_ivf_at_rest writes (cluster_id, vec_id,
    embedding) partitionBy(cluster_id) through the catalog sink and
    serves the probe off the read-back — the at-rest scan must carry
    the probed cluster ids as PartitionFilters (whole non-probed
    cluster files never listed), and the probed set must be a strict
    subset of the k clusters for the pruning to be real."""
    import os
    import re

    from musicflow_spark.queries.vectors import (
        IVF_INDEX_DIR,
        KMEANS_K,
        knn_ivf_at_rest,
    )

    df = knn_ivf_at_rest(spark, SF_DIR)
    plan = _executed(df)
    # the at-rest read is the ONLY scan of the written index path
    scan_lines = [
        l for l in plan.split("\n")
        if "Scan parquet" in l and "musicflow_spark_index" in l
    ]
    assert scan_lines, plan[:3000]
    m = re.search(r"cluster_id#\d+ IN \(([\d,]+)\)", scan_lines[0])
    assert m and "PartitionFilters" in scan_lines[0], scan_lines[0]
    probed = {int(x) for x in m.group(1).split(",")}
    # pruning is real only if some clusters are NOT probed — the
    # query set is sized to guarantee it (AT_REST_QUERY_VECS)
    assert 0 < len(probed) < KMEANS_K, (probed, KMEANS_K)
    # the written layout has one directory per cluster, and the scan
    # probes a strict subset of what exists on disk
    idx_path = os.path.join(IVF_INDEX_DIR, "ivf_sf0.001")
    on_disk = {
        int(d.split("=")[1])
        for d in os.listdir(idx_path)
        if d.startswith("cluster_id=")
    }
    assert probed <= on_disk and len(probed) < len(on_disk)
    # and the served results are exactly the trained tier's for the
    # same query set (the oracle replays that equivalence at 3 SFs)
    rows = df.collect()
    assert rows and {r["query_id"] for r in rows} == set(range(2))


def test_dynamic_overwrite_rewrites_only_touched_partitions(spark, tmp_path):
    """The at-rest index MAINTENANCE mechanics in isolation: a
    dynamic-partition-overwrite commit must replace exactly the
    partitions present in the staged frame — every other partition's
    files keep their names, sizes and mtimes bit-for-bit, so an
    ingest batch costs O(delta + touched partitions), never a full
    index rewrite (the knn_ivf_at_rest_ingest contract)."""
    import os

    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(c, 100 * c + i, float(i)) for c in range(4) for i in range(5)],
        "cluster_id int, vec_id long, v double",
    )
    base.write.mode("overwrite").partitionBy("cluster_id").parquet(path)

    def snapshot():
        out = {}
        for d in os.listdir(path):
            if d.startswith("cluster_id="):
                dd = os.path.join(path, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(dd, f)),
                     os.path.getmtime(os.path.join(dd, f)))
                    for f in os.listdir(dd) if f.endswith(".parquet")
                )
        return out

    before = snapshot()
    assert set(before) == {f"cluster_id={c}" for c in range(4)}

    staged = spark.createDataFrame(
        [(2, 100 * 2 + i, float(i)) for i in range(5)] + [(2, 999, 9.0)],
        "cluster_id int, vec_id long, v double",
    )
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cluster_id")
        .parquet(path)
    )
    after = snapshot()
    # untouched partitions: identical file lists incl. sizes+mtimes
    for d in ("cluster_id=0", "cluster_id=1", "cluster_id=3"):
        assert after[d] == before[d], d
    # touched partition: rewritten (different file set)
    assert after["cluster_id=2"] != before["cluster_id=2"]
    # and the table now holds base + delta with no loss elsewhere
    got = spark.read.parquet(path)
    assert got.count() == 21
    assert got.filter("cluster_id = 2").count() == 6


@pytest.mark.slow
def test_ivf_at_rest_ingest_serves_delta_and_base(spark, tmp_path, monkeypatch):
    """knn_ivf_at_rest_ingest end-to-end at sf0.001: the single delta
    vector (vec_id 0) is both a query and discoverable content, every
    cluster partition materializes, and no row is lost by the
    maintenance commit (base + delta == the fixture row count, read
    from the table rather than hardcoded — ADVICE r11; the index
    root is a per-run temp dir so a concurrent run against the shared
    /tmp path cannot interfere)."""
    import os

    from musicflow_spark.queries import vectors as _vectors
    from musicflow_spark.queries.vectors import (
        KMEANS_K,
        knn_ivf_at_rest_ingest,
    )
    from musicflow_spark.sources.catalog import read_table

    monkeypatch.setattr(_vectors, "IVF_INDEX_DIR", str(tmp_path))
    n_vectors = read_table(spark, SF_DIR, "embeddings").count()
    rows = knn_ivf_at_rest_ingest(spark, SF_DIR).collect()
    idx_path = os.path.join(str(tmp_path), "ivfing_sf0.001")
    parts = [d for d in os.listdir(idx_path) if d.startswith("cluster_id=")]
    assert len(parts) == KMEANS_K
    assert spark.read.parquet(idx_path).count() == n_vectors
    assert {r["query_id"] for r in rows} == {0, 1}
    # ranks are dense per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


@pytest.mark.slow
def test_hnsw_at_rest_layout_and_layer_pruning(spark, tmp_path, monkeypatch):
    """knn_hnsw_at_rest writes the per-layer adjacency
    partitionBy(layer, bucket) and the descent's edge reads carry the
    layer literal as a static PartitionFilter — a layer-l walk never
    lists the other layers' files (VERDICT r11 item 3)."""
    import os
    import re

    from pyspark.sql import functions as F

    from musicflow_spark.queries import vectors as _vectors
    from musicflow_spark.queries.vectors import (
        HNSW_NBUCKETS,
        _hnsw_sym_edges_at_rest,
        knn_hnsw_at_rest,
    )

    monkeypatch.setattr(_vectors, "IVF_INDEX_DIR", str(tmp_path))
    rows = knn_hnsw_at_rest(spark, SF_DIR).collect()
    assert rows and {r["query_id"] for r in rows} == set(range(8))
    # on-disk layout: one dir per layer, hash-bucket subdirs inside
    idx_path = os.path.join(str(tmp_path), "hnsw_sf0.001")
    layers = sorted(d for d in os.listdir(idx_path) if d.startswith("layer="))
    assert layers == ["layer=0", "layer=1", "layer=2"]
    for d in layers:
        buckets = [
            b for b in os.listdir(os.path.join(idx_path, d))
            if b.startswith("bucket=")
        ]
        assert 1 <= len(buckets) <= HNSW_NBUCKETS, (d, buckets)
    # the serve path's edge frame: every scan of the index carries the
    # layer literal as a PartitionFilter
    at_rest = spark.read.parquet(idx_path)
    edges = _hnsw_sym_edges_at_rest(at_rest, 1)
    plan = _executed(edges.groupBy().count())
    # the edges frame reads ONLY the index, so every FileScan in this
    # plan is an index read (toString truncates the location path,
    # which cannot be matched reliably)
    scan_lines = [l for l in plan.split("\n") if "FileScan parquet" in l]
    assert scan_lines, plan[:3000]
    for l in scan_lines:
        assert "PartitionFilters" in l and re.search(r"layer#\d+ = 1", l), l


@pytest.mark.slow
def test_hnsw_at_rest_ingest_rewrites_only_touched_partitions(
    spark, tmp_path, monkeypatch
):
    """The at-rest HNSW maintenance commit replaces exactly the
    (layer, bucket) partitions its write-set touches: every other
    partition's files keep names/sizes/mtimes bit-for-bit, and the
    touched set is a strict subset (the O(delta), never
    O(index-rewrite) contract).  The registered function's own base
    write is suppressed after a first identical build so the snapshot
    brackets only the MAINTENANCE commit."""
    import os

    from musicflow_spark.queries import vectors as _vectors
    from musicflow_spark.queries.vectors import (
        _hnsw_adjacency_rows,
        _hnsw_layer_graphs,
        knn_hnsw_at_rest_ingest,
    )
    from musicflow_spark.sources import catalog as _catalog
    from musicflow_spark.sources.catalog import read_table, write_table

    monkeypatch.setattr(_vectors, "IVF_INDEX_DIR", str(tmp_path))
    # a REALISTIC maintenance batch: one delta vector (the registered
    # KNN_INGEST_MOD=5 makes the fixture delta 20% of the corpus —
    # fine for the oracle, but a write-set that dense legitimately
    # touches every hash bucket; the partial-rewrite property needs
    # the production-shaped small batch, same as AT_REST_INGEST_MOD)
    monkeypatch.setattr(_vectors, "KNN_INGEST_MOD", 500)
    # pre-build the base index exactly as the registered function does
    from pyspark.sql import functions as F

    emb = read_table(spark, SF_DIR, "embeddings")
    base = emb.filter(~(F.col("vec_id") % _vectors.KNN_INGEST_MOD == 0))
    g0d, g1d, g2d = _hnsw_layer_graphs(base)
    index = (
        _hnsw_adjacency_rows(g0d, 0)
        .unionByName(_hnsw_adjacency_rows(g1d, 1))
        .unionByName(_hnsw_adjacency_rows(g2d, 2))
    )
    idx_path = os.path.join(str(tmp_path), "hnswing_sf0.001")
    write_table(index, idx_path, partition_by=["layer", "bucket"])

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(idx_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    rel = os.path.relpath(p, idx_path)
                    out[rel] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = snapshot()
    assert before
    # suppress the function's own (identical) base rebuild so the
    # maintenance commit is the only write between snapshots
    monkeypatch.setattr(_catalog, "write_table", lambda *a, **k: None)
    rows = knn_hnsw_at_rest_ingest(spark, SF_DIR).collect()
    assert rows
    after = snapshot()

    before_dirs = {os.path.dirname(k) for k in before}
    changed_dirs = {
        os.path.dirname(k)
        for k in set(before) ^ set(after)
        | {k for k in before if k in after and before[k] != after[k]}
    }
    untouched = before_dirs - changed_dirs
    # the commit is partial: some partitions rewritten, some never
    assert changed_dirs, "maintenance commit wrote nothing"
    assert untouched, "every partition was rewritten"
    for k in before:
        if os.path.dirname(k) in untouched:
            assert after[k] == before[k], k


def _file_snapshot(idx_path):
    import os

    out = {}
    for root, _dirs, files in os.walk(idx_path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rel = os.path.relpath(p, idx_path)
                out[rel] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def test_overwrite_touched_partitions_drops_emptied(spark, tmp_path):
    """The delete-fold commit: dynamic overwrite rewrites the touched
    partitions that still hold rows, and touched partitions whose rows
    were ALL deleted get their directories dropped explicitly —
    without it the stale files silently survive the commit.  A
    rewrite that empties every touched partition writes nothing and
    drops them all."""
    import os

    from pyspark.sql import functions as F

    from musicflow_spark.sources.catalog import (
        overwrite_touched_partitions,
        write_table,
    )

    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], "p int, v int"
    )
    for deleted, emptied, kept in (
        # delete v=11 (p=1 survives with one row) and v=20 (p=2
        # empties); p=3 untouched
        ([11, 20], [(2,)], {(1, 10), (3, 30)}),
        ([10, 11, 20], [(1,), (2,)], {(3, 30)}),
    ):
        path = str(tmp_path / f"tbl{len(deleted)}")
        write_table(df, path, partition_by=["p"])
        before = _file_snapshot(path)
        assert overwrite_touched_partitions(
            spark, path, ["p"], [(1,), (2,)],
            lambda stored: stored.filter(~F.col("v").isin(deleted)),
        ) == emptied
        for (p,) in emptied:
            assert not os.path.exists(os.path.join(path, f"p={p}"))
        after = _file_snapshot(path)
        # p=3 files byte-identical
        for k in before:
            if k.startswith("p=3"):
                assert after[k] == before[k], k
        got = {(r["p"], r["v"]) for r in spark.read.parquet(path).collect()}
        assert got == kept


def test_ivf_at_rest_delete_partial_rewrite_and_visibility(
    spark, tmp_path, monkeypatch
):
    """knn_ivf_at_rest_delete: the takedown fold rewrites ONLY the
    clusters holding deleted vectors (other partitions' files stay
    byte/mtime-identical), the deleted ids — query 0's pre-delete
    top-2, so they provably WERE in the answer — never appear in the
    post-delete result, and query 0's answer actually changed."""
    import os

    from musicflow_spark.queries import vectors as _vectors
    from musicflow_spark.queries.vectors import (
        AT_REST_DELETE_TOPK,
        _ivf_frozen_assign,
        _ivf_probe_at_rest,
        _ivf_train_centroids,
        knn_ivf_at_rest_delete,
    )
    from musicflow_spark.sources import catalog as _catalog
    from musicflow_spark.sources.catalog import read_table, write_table

    monkeypatch.setattr(_vectors, "IVF_INDEX_DIR", str(tmp_path))
    # pre-build the base index exactly as the registered function does
    emb = read_table(spark, SF_DIR, "embeddings")
    cent_rows = _ivf_train_centroids(emb)
    idx_path = os.path.join(str(tmp_path), "ivfdel_sf0.001")
    write_table(
        _ivf_frozen_assign(emb, cent_rows), idx_path,
        partition_by=["cluster_id"],
    )
    base_top = _ivf_probe_at_rest(
        emb, spark.read.parquet(idx_path), cent_rows
    ).collect()
    deleted = {
        int(r["neighbor_id"])
        for r in base_top
        if r["query_id"] == 0 and r["rank"] <= AT_REST_DELETE_TOPK
    }
    assert len(deleted) == AT_REST_DELETE_TOPK

    before = _file_snapshot(idx_path)
    assert before
    # suppress the function's own (identical) base rebuild so the
    # delete commit is the only write between snapshots
    monkeypatch.setattr(_catalog, "write_table", lambda *a, **k: None)
    rows = knn_ivf_at_rest_delete(spark, SF_DIR).collect()
    after = _file_snapshot(idx_path)

    # visibility: deleted ids were in the pre-delete answer, are not
    # in the post-delete answer, and query 0's answer changed
    assert deleted <= {
        int(r["neighbor_id"]) for r in base_top if r["query_id"] == 0
    }
    assert not deleted & {int(r["neighbor_id"]) for r in rows}
    q0_before = {
        (r["neighbor_id"], r["rank"]) for r in base_top if r["query_id"] == 0
    }
    q0_after = {
        (r["neighbor_id"], r["rank"]) for r in rows if r["query_id"] == 0
    }
    assert q0_before != q0_after
    # the deleted vectors are gone from the FILES too
    post = spark.read.parquet(idx_path)
    assert post.filter(post["vec_id"].isin(sorted(deleted))).count() == 0

    before_dirs = {os.path.dirname(k) for k in before}
    changed_dirs = {
        os.path.dirname(k)
        for k in set(before) ^ set(after)
        | {k for k in before if k in after and before[k] != after[k]}
    }
    untouched = before_dirs - changed_dirs
    assert changed_dirs, "delete commit wrote nothing"
    assert untouched, "every partition was rewritten"
    for k in before:
        if os.path.dirname(k) in untouched:
            assert after[k] == before[k], k


def test_hnsw_at_rest_delete_partial_rewrite_and_reverse_repair(
    spark, tmp_path, monkeypatch
):
    """knn_hnsw_at_rest_delete: only the (layer, bucket) partitions
    naming a deleted node are rewritten; no surviving adjacency row
    references a deleted node as src OR dst (reverse-link repair);
    every surviving list's ranks are dense starting at 1."""
    import os

    from musicflow_spark.queries import vectors as _vectors
    from musicflow_spark.queries.vectors import (
        _hnsw_adjacency_rows,
        _hnsw_layer_graphs,
        HNSW_DELETE_EXTRA,
        knn_hnsw_at_rest_delete,
    )
    from musicflow_spark.sources import catalog as _catalog
    from musicflow_spark.sources.catalog import read_table, write_table

    monkeypatch.setattr(_vectors, "IVF_INDEX_DIR", str(tmp_path))
    emb = read_table(spark, SF_DIR, "embeddings")
    g0, g1, g2 = _hnsw_layer_graphs(emb)
    index = (
        _hnsw_adjacency_rows(g0, 0)
        .unionByName(_hnsw_adjacency_rows(g1, 1))
        .unionByName(_hnsw_adjacency_rows(g2, 2))
    )
    idx_path = os.path.join(str(tmp_path), "hnswdel_sf0.001")
    write_table(index, idx_path, partition_by=["layer", "bucket"])
    pre = spark.read.parquet(idx_path)
    pre_count = pre.count()

    before = _file_snapshot(idx_path)
    assert before
    monkeypatch.setattr(_catalog, "write_table", lambda *a, **k: None)
    rows = knn_hnsw_at_rest_delete(spark, SF_DIR).collect()
    after = _file_snapshot(idx_path)

    # the upper-layer member is gone on EVERY layer, and no surviving
    # row references any deleted node either way
    srcs = {(r["layer"], r["src"]) for r in rows}
    dsts = {r["dst"] for r in rows}
    assert all(s != HNSW_DELETE_EXTRA for _, s in srcs)
    assert HNSW_DELETE_EXTRA not in dsts
    assert len(rows) < pre_count
    # dense ranks per surviving (layer, src) list
    by_list = {}
    for r in rows:
        by_list.setdefault((r["layer"], r["src"]), []).append(r["rank"])
    assert all(
        sorted(v) == list(range(1, len(v) + 1)) for v in by_list.values()
    )

    before_dirs = {os.path.dirname(k) for k in before}
    changed_dirs = {
        os.path.dirname(k)
        for k in set(before) ^ set(after)
        | {k for k in before if k in after and before[k] != after[k]}
    }
    untouched = before_dirs - changed_dirs
    assert changed_dirs, "delete commit wrote nothing"
    assert untouched, "every partition was rewritten"
    for k in before:
        if os.path.dirname(k) in untouched:
            assert after[k] == before[k], k
