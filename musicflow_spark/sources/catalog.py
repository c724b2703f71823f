"""Warehouse catalog: the parquet-at-rest layer that replaces BigQuery.

The reference stores every table in BigQuery datasets and routes them
with a dbt macro (reference: dbt/macros/generate_schema_name.sql:1-14).
Here a catalog is a directory of parquet files.  Every table the
program rewrites whole is replaced through :func:`replace_table` and
read, where a replace may have been interrupted, through
:func:`existing_table`.

Every fold into a partitioned table (the at-rest vector indexes and
their streaming sinks) commits through
:func:`overwrite_touched_partitions`: the caller names the touched
partitions and how their rows change, and the function reads them
back, rewrites them and drops the ones left empty.  :func:`write_table`
writes a table whole, with ``partition_by`` and ``bucket_by`` for the
100 TB layout.

Scale note: reads are plain ``spark.read.parquet`` so Catalyst keeps
predicate pushdown / column pruning / partition pruning.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: the driver-generated synthetic tables (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Accepts both ``dir/name.parquet`` files
    and ``dir/name/`` parquet directories (partitioned layout).

    Ingest normalization: the events table is written with parquet
    TIMESTAMP(NANOS), which Spark has no native type for.  We read
    nanos as long (legacy conf) and truncate to microseconds at the
    scan — the same truncation DuckDB applies — so downstream
    operators see a plain TimestampType.
    """
    from pyspark.sql import functions as F

    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    path = file_path if os.path.exists(file_path) else dir_path
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def replace_table(df: DataFrame, path: str) -> None:
    """Replace the parquet table at ``path`` with ``df``: the reference's
    WRITE_TRUNCATE load (youtube_elt.py:336-362) for a directory table.

    ``df`` is written whole to the sibling ``<path>.__tmp__`` first, so
    it may read the table it replaces, and a failed write leaves the
    old table readable.  Then the old table is removed and the copy
    renamed into place.  Those two steps are not atomic: a crash
    between them leaves only the finished copy, which the next
    :func:`existing_table` moves into place."""
    tmp = f"{path}.__tmp__"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def existing_table(
    spark: SparkSession, path: str, schema: str | StructType | None = None
) -> DataFrame | None:
    """The table at ``path``, or ``None`` when there is none.

    If ``path`` is missing but a :func:`replace_table` copy finished
    (its ``_SUCCESS`` marker shows the write completed), that copy is
    moved into place first.  A copy without the marker is an
    unfinished write and stays where it is.  A given ``schema`` is
    read as is; without one, Spark runs a job to infer it."""
    tmp = f"{path}.__tmp__"
    if not os.path.exists(path) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)
    if not os.path.exists(path):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
) -> None:
    """Write ``df`` as the whole table at ``path``, replacing any table
    there (the reference's ``WRITE_TRUNCATE``,
    dags/scripts/youtube_elt.py:336-362).

    ``bucket_by=(n, cols)`` requires ``table_name`` (bucketing is a
    metastore feature); it pre-co-locates later joins on ``cols`` so
    they run shuffle-free — the 100 TB path for the big fact tables.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucket_by requires table_name (saveAsTable)")
        writer.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(
            table_name
        )
        return
    writer.parquet(path)


def overwrite_touched_partitions(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    touched: list[tuple],
    rewrite: Callable[[DataFrame], DataFrame],
) -> list[tuple]:
    """Fold a change into the ``touched`` partitions of the parquet
    table at ``path``, partitioned by ``partition_by``; every other
    partition's files stay as they are.  Returns the touched
    partitions the fold left empty, which are dropped.

    The touched partitions are read back through a literal filter (so
    only their files are scanned) and ``rewrite(stored)`` gives their
    new rows.  Those are checkpointed eagerly, since the write
    replaces the files they are read from, and committed with one
    dynamic partition overwrite.  That overwrite replaces only the
    partitions the new rows fall in: a touched partition that lost
    all its rows keeps its stale files, so its directory is deleted
    (through the Hadoop FileSystem of ``path``, which serves local
    disk and HDFS / object stores alike).  The written partitions
    come from an observation on the write itself, with no second
    scan."""
    if not touched:
        return []
    pred = F.lit(False)
    for t in touched:
        cond = F.lit(True)
        for c, v in zip(partition_by, t):
            cond = cond & (F.col(c) == v)
        pred = pred | cond
    staged = rewrite(spark.read.parquet(path).filter(pred)).localCheckpoint(eager=True)
    obs = Observation()
    (
        staged.observe(obs, F.collect_set(F.struct(*partition_by)).alias("parts"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    written = {tuple(r) for r in obs.get["parts"]}
    emptied = [t for t in touched if t not in written]
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for t in emptied:
        subdir = "/".join(f"{c}={v}" for c, v in zip(partition_by, t))
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{subdir}")
        p.getFileSystem(hconf).delete(p, True)
    return emptied


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files —
    small-file management, the maintenance job every incremental sink
    (streaming upsert/rollup, per-batch appends) needs at scale: a
    100 TB table accreting thousands of KB-sized files per day turns
    scan planning and NameNode/listing into the bottleneck long before
    the data itself does.

    File count derives from the ON-DISK byte size (sum of part files,
    so compression is accounted for), the rewrite is a coalesce (no
    shuffle — merges whole files), and the swap is :func:`replace_table`.
    ``sort_within_by`` optionally sorts WITHIN output files
    (sortWithinPartitions — still no global shuffle) so min/max
    row-group stats become selective for those columns.  Returns the
    output file count."""
    size = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-size // target_file_bytes))
    df = spark.read.parquet(path).coalesce(n_files)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    replace_table(df, path)
    return n_files
