"""Write path: durable sinks with scale-aware layout.

The reference's sinks are `CREATE TABLE ... SELECT` temp tables
(reference: SQL/GetMessage.sql:46-54), `.show()` displays, and an
intended write-back of the compacted log (Backup.java:43-61 — the
write itself never materialized in the repo). Here the write path is
parquet with the two layouts that matter at 100 TB:

- **partitioned** by a coarse time/key column: queries with
  predicates on the partition column scan only matching directories
  (partition pruning + dynamic partition pruning on joins);
- **bucketed** by join/agg key: repeated joins and aggregations on
  the bucket key skip their shuffle entirely (bucketed scan).

`day_col` derives the canonical integer day index from the epoch-ms
log clock (the loader's canonical encoding — sources/loader.
normalize_event_time), matching the workloads' day arithmetic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .loader import read_parquet

MS_PER_DAY = 86_400_000


def day_col(ts_ms_col: str = "ts") -> F.Column:
    return F.expr(f"{ts_ms_col} DIV {MS_PER_DAY}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet write. Partition columns should be coarse
    (days, not timestamps): aim for partitions of 100 MB - 1 GB so a
    100 TB table lands at 10^5-10^6 files, not 10^9."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_partitioned_parquet(
    spark,
    path: str,
    partition_col: str | None = None,
    n_files: int = 1,
) -> None:
    """Fold an append-accumulating parquet directory back to ONE
    file per partition value (or one file total when
    `partition_col` is None) — the generic maintenance twin of
    compact_semantic_index for the engine's partitioned-dir indexes
    (MinHash/SimHash band dirs, BM25/positional term-hash buckets,
    IVF inverted lists, PQ subspaces): every index append lands one
    more file generation per touched partition, the small-files
    drift of any long-lived index.  PHYSICAL rewrite only — row
    content and the directory layout contract are identical before
    and after (graded under the UNCHANGED oracle by
    bm25_index_compacted; content pins per family in pytest).

    Scale design: the live directory cannot be overwritten while it
    is being read, so rows stage through a sibling directory (the
    compact_semantic_index pattern — a compaction rewrites its data
    twice by nature, both writes bounded by the DIRECTORY being
    compacted, never the corpus).  `repartition(partition_col)`
    routes each partition value to exactly one task, so the
    partitionBy write emits exactly one file per value; the stage
    directory is removed through the Hadoop FileSystem API so the
    op works on any storage the session can reach.  For a FLAT
    directory (partition_col None) the target is `n_files` files —
    1 for config-bounded tables (stats, metas), more for tables
    that are corpus-sized at the deployment's scale (doc_len,
    signatures).

    Crash recovery: the final overwrite of the live directory is
    not atomic, so a crash there leaves the live dir torn — and
    naively re-running would stage the TORN content and lose rows.
    The op is therefore resumable through the stage's commit
    marker: a stage directory carrying Spark's _SUCCESS is a
    complete content snapshot taken from an intact live dir (it is
    deleted on successful completion, so its existence means the
    previous run crashed after the stage commit), and a re-run
    skips re-derivation and replays the final overwrite from it;
    without the marker the live dir is known intact and the stage
    is rebuilt.  Re-running after ANY crash converges
    (pytest-pinned).  Single-writer discipline, like every index
    maintenance op here: appends racing a compaction (or landing
    between a crash and its recovery) are the caller's lost
    update."""
    stage = path.rstrip("/") + "_compact_stage"

    def _write(df, target):
        if partition_col is None:
            df.coalesce(n_files).write.mode("overwrite").parquet(
                target
            )
        else:
            df.repartition(F.col(partition_col)).write.mode(
                "overwrite"
            ).partitionBy(partition_col).parquet(target)

    jvm = spark._jvm
    spath = jvm.org.apache.hadoop.fs.Path(stage)
    fs = spath.getFileSystem(spark._jsc.hadoopConfiguration())
    committed = jvm.org.apache.hadoop.fs.Path(f"{stage}/_SUCCESS")
    # Partition values round-trip through DIRECTORY NAMES, and
    # Spark's partition-type inference would retype a string value
    # that parses as a number ('01' -> int 1) and renormalize the
    # directory on rewrite (bucket=01 -> bucket=1) — a layout change
    # in an op whose contract is "physical rewrite only".  Reading
    # with inference OFF keeps every partition value the verbatim
    # directory string, so the partitionBy write reproduces the
    # directory names exactly for any partition column type (the
    # value never lives in the data files, only in the name).
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    saved = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        if not fs.exists(committed):
            _write(read_parquet(spark, path), stage)
        _write(read_parquet(spark, stage), path)
    finally:
        spark.conf.set(infer_key, saved)
    fs.delete(spath, True)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed table (Hive-style layout; external when `path` is
    given, managed otherwise). Joins between two tables bucketed the
    same way on the same key execute with zero shuffle
    (test_bucketed_join_no_shuffle asserts the Exchange-free plan);
    sort_cols additionally pre-sorts within buckets so sort-merge
    joins skip their sort."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def write_table(
    df: DataFrame, base: str, name: str, mode: str = "append"
) -> None:
    """Write one logical table — the symmetric write side of
    sources/loader.load_table's base-string convention: ``base`` is a
    parquet directory (``{base}/{name}.parquet``) or a Cassandra
    keyspace when prefixed ``cassandra://``.

    The Cassandra branch closes the reference surface's last
    asymmetry: Backup.java:43-61 INTENDS to write the compacted log
    back to the cluster (the repo only ever shows it), and the read
    path here already speaks ``cassandra://``
    (sources/loader.load_table) — so the write side uses the same
    connector format string and option names, requiring only the
    spark-cassandra-connector jar on the classpath at deploy time
    (without it Spark raises its standard failed-to-find-data-source
    error, which is what the unit test pins: the dispatch and option
    assembly are exercised; the cluster round-trip is a deployment
    concern).

    ``mode`` defaults to append — the natural semantics for both a
    log write-back and a Cassandra upsert; pass "overwrite" (with the
    connector's ``confirm.truncate`` at deploy time) for replace
    semantics.
    """
    if base.startswith("cassandra://"):
        keyspace = base[len("cassandra://") :]
        (
            df.write.format("org.apache.spark.sql.cassandra")
            .options(table=name, keyspace=keyspace)
            .mode(mode)
            .save()
        )
        return
    df.write.mode(mode).parquet(f"{base}/{name}.parquet")


def write_compacted_log(
    compacted: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Durable sink for plans.backup output (the reference's intended
    Backup write-back, Backup.java:43-61): one partition directory per
    series hash bucket keeps later per-series reads narrow."""
    (
        compacted.withColumn(
            "series_bucket", F.abs(F.hash("uevol_field_id") % 64)
        )
        .write.mode(mode)
        .partitionBy("series_bucket")
        .parquet(path)
    )
