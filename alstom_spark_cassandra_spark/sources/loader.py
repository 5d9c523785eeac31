"""Table loaders.

The reference has seven near-identical typed Cassandra loaders
(reference: Java/.../DataLoader.java:508-667) plus schema-pinned and
inferred Scala variants (Scala/.../DatabaseLoad.scala:34-81,
Retrieve_field.scala:17) and a MySQL ``replay`` switch that swaps
``instance_message``/``instance_field`` for their ``*_replay`` twins
(SQL/GetMessage.sql:17-23). Here that whole surface is one Catalog:

- parquet directories are the default physical source (the driver's
  testdata layout, TESTDATA.md);
- a Cassandra read path is kept behind the same API for deployments
  with the connector jar on the classpath (format
  "org.apache.spark.sql.cassandra") — gated, never required;
- ``replay=True`` resolves the ``*_replay`` table names exactly like
  the reference's dynamic-table-name switch.

At 100 TB the fact tables should be written partitioned (e.g.
lineitem by l_shipdate month, events by date(ts)); ``load_table``
reads whatever layout exists and Catalyst prunes partitions from the
query predicates.
"""

from __future__ import annotations

import json
from weakref import WeakKeyDictionary

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Per-session memo of the lazy parquet-scan DataFrame per (base, table).
# This caches PLAN METADATA (file listing + footer schema + the
# canonicalized-ts projection), never data: every execution of a memoized
# DataFrame still scans the parquet files. What a miss costs: opening a
# table starts no Spark job (read_parquet reads the footer on the
# driver), but the status lookup, footer read, Spark's own file listing
# and their py4j round trips still take ~28 ms per table (sf0.1,
# 4 cores; the inferred-schema open it replaced took ~89 ms), and a
# snowflake query like tpch_q5 opens six tables PER CONSTRUCTION.
# Freshness semantics match what `spark.read.parquet` already pins at
# analysis time (the file listing is captured when the DataFrame is
# built); a caller that appends files to a memoized table's directory
# must call `refresh_tables()` — exactly Spark's own catalog
# `refreshTable` contract. The Cassandra branch is NOT memoized (its
# ts-unit conf is read per call).
_TABLE_MEMO: WeakKeyDictionary = WeakKeyDictionary()

# Bases under this root are write-side (streaming sinks, index
# scratch): no memo holds plans over them (see memoizable). Module-level
# so tests can pin it.
import tempfile as _tempfile  # noqa: E402

_TMP_ROOT = _tempfile.gettempdir()


def memoizable(base: str) -> bool:
    """Whether a per-session memo may hold plans built over `base`.
    A base under the system temp dir is a WRITE-side location
    (streaming sinks, index scratch) that a query may mutate
    mid-session, so neither load_table's scan memo nor a registered
    plan memo may freeze its listing or a literal resolved from it.
    Read-only data roots (the sf dirs) are memoizable."""
    return not base.startswith(_TMP_ROOT)


# Other per-session LAZY-plan memos (e.g. workloads._memo_query_df)
# register here so one refresh hatch invalidates every layer that
# froze a file listing or a data-derived literal at construction time.
_EXTRA_MEMOS: list = []


def register_plan_memo(memo) -> None:
    """Register a WeakKeyDictionary-style memo (keyed by session) to be
    cleared by refresh_tables alongside the table memo."""
    _EXTRA_MEMOS.append(memo)


def refresh_tables(spark: SparkSession | None = None) -> None:
    """Drop the per-session load_table memo (all sessions when None) so
    the next load re-lists files and re-reads the footer schema.
    Registered downstream plan memos are dropped too — they embed
    literals resolved from the frozen listing."""
    if spark is None:
        _TABLE_MEMO.clear()
        for m in _EXTRA_MEMOS:
            m.clear()
    else:
        _TABLE_MEMO.pop(spark, None)
        for m in _EXTRA_MEMOS:
            m.pop(spark, None)

REPLAY_SWITCHED = {"instance_field", "instance_message"}

# Canonical event-log clock: LONG epoch-milliseconds, the reference's
# own time axis (Java/.../DataLoader.java:151-152 — log_time is plain
# epoch-millis). The driver's parquet has carried `events.ts` as
# TIMESTAMP(NANOS) (read as long ns via nanosAsLong) in rounds 1-2 and
# as timestamp[us] (TIMESTAMP_NTZ) from round 3 — a real lakehouse
# sees exactly this kind of writer drift, so the adaptation lives HERE,
# at the loader boundary, and every query downstream sees one stable
# encoding. tests/test_testdata_contract.py fails loudly if a future
# regeneration introduces an encoding this function doesn't recognize.
_EVENT_TIME_COL = "ts"


# What a LongType event-time column means depends on the WRITER, not
# the schema: the driver's parquet surfaces TIMESTAMP(NANOS) as long
# nanoseconds (nanosAsLong), while the reference's Cassandra tables
# carry plain long epoch-millis (DataLoader.java:151-152,
# RetrieveField.java's 1581734409340L). The schema alone cannot
# disambiguate, so the unit is an explicit per-source parameter:
# the parquet path pins "ns" (testdata contract), the Cassandra path
# reads it from config and refuses to guess.
_LONG_UNIT_TO_MS = {
    "s": "{col} * 1000",
    "ms": "{col}",
    "us": "{col} DIV 1000",
    "ns": "{col} DIV 1000000",
}
CASSANDRA_TS_UNIT_CONF = "spark.alstom.cassandra.tsUnit"


def epoch_ms_expr(
    df: DataFrame, col: str = _EVENT_TIME_COL, long_unit: str | None = "ns"
) -> F.Column:
    """Epoch-milliseconds LONG from whatever physical encoding `col`
    carries. Session timezone is pinned UTC (session.py), so casting
    TIMESTAMP_NTZ to TIMESTAMP preserves the instant.

    ``long_unit`` states what a LongType column encodes ("s"/"ms"/
    "us"/"ns"); ``None`` means "unknown — raise rather than guess"."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        if long_unit is None:
            raise ValueError(
                f"column {col!r} is LongType but its epoch unit is unknown; "
                f"set {CASSANDRA_TS_UNIT_CONF} to one of "
                f"{sorted(_LONG_UNIT_TO_MS)} (refusing to guess — a wrong "
                "unit silently corrupts every timestamp)"
            )
        if long_unit not in _LONG_UNIT_TO_MS:
            raise ValueError(
                f"unknown epoch unit {long_unit!r}; expected one of "
                f"{sorted(_LONG_UNIT_TO_MS)}"
            )
        return F.expr(_LONG_UNIT_TO_MS[long_unit].format(col=col))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_millis(F.col(col).cast("timestamp"))
    raise TypeError(
        f"unsupported event-time encoding for column {col!r}: {dt}"
    )


def normalize_event_time(
    df: DataFrame, col: str = _EVENT_TIME_COL, long_unit: str | None = "ns"
) -> DataFrame:
    """Rewrite `col` to canonical long epoch-ms (no-op if absent)."""
    if col not in df.columns:
        return df
    return df.withColumn(col, epoch_ms_expr(df, col, long_unit))


def stream_event_time(df: DataFrame, col: str = _EVENT_TIME_COL) -> DataFrame:
    """Streaming variant: rewrite `col` to TimestampType truncated to
    whole milliseconds (watermarks/windows need a timestamp; the ms
    truncation matches the batch engines' epoch-ms axis so stream and
    batch sessionization see identical gaps)."""
    return df.withColumn(col, F.timestamp_millis(epoch_ms_expr(df, col)))


# Summary files Spark's listing keeps despite the leading underscore;
# a non-merging schema read prefers them, _common_metadata first
# (ParquetUtils.inferSchema).
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _hidden(name: str) -> bool:
    """Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName):
    `_`/`.` names and in-flight `._COPYING_` copies are not part of a
    table, except the summary files and `_k=v` partition dirs."""
    if name.startswith(_SUMMARY_FILES):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _parquet_roots(spark: SparkSession, paths) -> tuple:
    """(hadoop conf, FileStatus per path); the list is None when a
    path does not exist."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    roots = []
    for p in paths:
        hpath = jvm.org.apache.hadoop.fs.Path(p)
        try:
            roots.append(hpath.getFileSystem(conf).getFileStatus(hpath))
        except Py4JJavaError as exc:
            if not is_instance_of(
                spark.sparkContext._gateway,
                exc.java_exception,
                "java.io.FileNotFoundException",
            ):
                raise
            return conf, None
    return conf, roots


def _leaf_files(fs, status, full: str, out: list) -> None:
    """Append (full path string, FileStatus) for every leaf file Spark
    would list under `status`, descending into every visible
    directory (partition dirs included)."""
    if not status.isDirectory():
        out.append((full, status))
        return
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        if not _hidden(name):
            _leaf_files(fs, child, f"{full}/{name}", out)


def _footer_schema(spark: SparkSession, conf, roots) -> T.StructType | None:
    """The schema Spark's parquet inference would return for `roots`,
    read on the driver from the footer(s) Spark itself would pick: a
    summary file, else the first data file by full path
    (ParquetUtils.splitFiles), or every leaf under
    spark.sql.parquet.mergeSchema. Spark's own converter reads the
    footers, so nanosAsLong, TIMESTAMP_NTZ inference and the Spark
    row-metadata key are honoured. None when no footer is readable."""
    leaves: list = []
    for st in roots:
        hpath = st.getPath()
        _leaf_files(hpath.getFileSystem(conf), st, hpath.toString(), leaves)
    leaves.sort(key=lambda leaf: leaf[0])
    sql_conf = spark._jsparkSession.sessionState().conf()
    if sql_conf.isParquetSchemaMergingEnabled():
        picked = [st for _, st in leaves]
    else:
        names = [full.rsplit("/", 1)[-1] for full, _ in leaves]
        summaries = [
            leaf
            for want in _SUMMARY_FILES
            for leaf, name in zip(leaves, names)
            if name == want
        ]
        data = [
            leaf
            for leaf, name in zip(leaves, names)
            if name not in _SUMMARY_FILES
        ]
        picked = [st for _, st in (summaries + data)[:1]]
    if not picked:
        return None
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.datasources.parquet
    pff = getattr(getattr(pkg, "ParquetFileFormat$"), "MODULE$")
    footers = pff.readParquetFootersInParallel(
        conf, jvm.PythonUtils.toSeq(picked), sql_conf.ignoreCorruptFiles()
    )
    found = pff.readSchema(footers, spark._jsparkSession)
    if found.isEmpty():
        return None
    return T.StructType.fromJson(json.loads(found.get().json()))


def _parquet_reader(spark: SparkSession, paths) -> tuple:
    """(DataFrameReader with the footer schema pinned, root FileStatus
    list). With no footer to read (a path missing, empty or holding no
    data file) the reader is plain `spark.read`, which raises Spark's
    own PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA that callers match;
    the list is None when a path is missing."""
    conf, roots = _parquet_roots(spark, paths)
    schema = _footer_schema(spark, conf, roots) if roots else None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader, roots


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """`spark.read.parquet(*paths)` without its schema-inference job.

    Spark infers a parquet schema with one Spark job per open
    (ParquetFileFormat.mergeSchemasInParallel). This reads the same
    footer on the driver instead and hands the result to
    `spark.read.schema(...)`, so the DataFrame, its plan and its
    errors are Spark's own and opening it starts no job. Partition
    columns of a `k=v` layout are still inferred by Spark's listing,
    under the session's partition type-inference setting."""
    return _parquet_reader(spark, paths)[0].parquet(*paths)


def stream_source(spark: SparkSession, base: str, name: str) -> DataFrame:
    """File-stream source for one logical table, adaptive to layout:
    Spark's file stream needs a DIRECTORY basePath, so a flat
    `{name}.parquet` FILE is read via pathGlobFilter on its parent,
    while a `{name}.parquet/` directory of part-files is read
    directly (the glob would match no leaf file there). Schema and
    layout come from the one Hadoop FileSystem status lookup that
    read_parquet makes, so the check answers on any filesystem
    (local, HDFS, S3A) and starts no Spark job. Event time is
    canonicalized like the batch loader (`stream_event_time`)."""
    path = f"{base}/{name}.parquet"
    reader, roots = _parquet_reader(spark, [path])
    schema = reader.parquet(path).schema  # raises if `path` is missing
    if roots[0].isDirectory():
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(base)
        )
    return stream_event_time(raw) if _EVENT_TIME_COL in raw.columns else raw


def _raw_ts_literal(dt, ms: int) -> F.Column:
    """A literal comparable to the RAW `ts` column without casting the
    column (a cast on the column side would defeat parquet pushdown).
    Session timezone is pinned UTC, so the rendered wall-clock instant
    is exact for both timestamp flavors."""
    if isinstance(dt, T.LongType):
        return F.lit(ms * 1_000_000)  # nanosAsLong
    from datetime import datetime, timedelta, timezone

    iso = (
        datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(milliseconds=ms)
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(f"TIMESTAMP_NTZ '{iso}'")
    if isinstance(dt, T.TimestampType):
        return F.expr(f"TIMESTAMP '{iso}'")
    raise TypeError(f"unsupported event-time encoding: {dt}")


def load_table_window(
    spark: SparkSession,
    base: str,
    name: str,
    lo_ms: int | None = None,
    hi_ms: int | None = None,
    replay: bool = False,
    col: str = _EVENT_TIME_COL,
) -> DataFrame:
    """`load_table` for time-windowed scans: the inclusive epoch-ms
    window [lo_ms, hi_ms] is expressed as plain comparisons on the RAW
    physical column BEFORE canonicalization, so it reaches the parquet
    scan as a pushed filter (row-group / page skipping — on a 100 TB
    time-ordered log this is the difference between scanning a day and
    scanning the archive). A filter on the derived epoch-ms column
    cannot be pushed: parquet accepts only bare-column predicates.

    Bound mapping is exact because epoch-ms is floor(raw / unit):
    ms >= lo  ⟺  raw >= lo*unit;  ms <= hi  ⟺  raw < (hi+1)*unit.
    """
    if base.startswith("cassandra://"):
        # Cassandra path: the filter lands on the CANONICALIZED ms
        # column (unit pinned by spark.alstom.cassandra.tsUnit — see
        # load_table), which is a derived expression the connector
        # cannot push — correct but unpruned (a full-scan fallback).
        # A deployment that pins tsUnit=ms could push raw-column
        # comparisons; left conservative until one exists to test.
        df = load_table(spark, base, name, replay)
        if lo_ms is not None:
            df = df.filter(F.col(col) >= lo_ms)
        if hi_ms is not None:
            df = df.filter(F.col(col) <= hi_ms)
        return df
    raw = read_parquet(
        spark, f"{base}/{_resolve_replay(name, replay)}.parquet"
    )
    dt = raw.schema[col].dataType
    if lo_ms is not None:
        raw = raw.filter(F.col(col) >= _raw_ts_literal(dt, lo_ms))
    if hi_ms is not None:
        raw = raw.filter(F.col(col) < _raw_ts_literal(dt, hi_ms + 1))
    return normalize_event_time(raw, col)


def _resolve_replay(name: str, replay: bool) -> str:
    # SQL/GetMessage.sql:17-23 — replay flag swaps to *_replay tables.
    if replay and name in REPLAY_SWITCHED:
        return f"{name}_replay"
    return name


def load_table(
    spark: SparkSession,
    base: str,
    name: str,
    replay: bool = False,
) -> DataFrame:
    """Load one logical table.

    ``base`` is a parquet directory (``{base}/{name}.parquet``) or a
    Cassandra keyspace when prefixed ``cassandra://``.
    """
    name = _resolve_replay(name, replay)
    if base.startswith("cassandra://"):
        keyspace = base[len("cassandra://") :]
        df = (
            spark.read.format("org.apache.spark.sql.cassandra")
            .options(table=name, keyspace=keyspace)
            .load()
        )
        # Cassandra surfaces ts however the table was written; the unit
        # for a LongType column MUST be pinned by deployment config
        # (reference tables are epoch-ms, but we refuse to assume —
        # normalize_event_time raises a clear error if the column is
        # LongType and the conf is unset).
        unit = spark.conf.get(CASSANDRA_TS_UNIT_CONF, None)
        return normalize_event_time(df, long_unit=unit)
    if not memoizable(base):
        df = read_parquet(spark, f"{base}/{name}.parquet")
        return normalize_event_time(df, long_unit="ns")
    memo = _TABLE_MEMO.setdefault(spark, {})
    key = (base, name)
    if key not in memo:
        df = read_parquet(spark, f"{base}/{name}.parquet")
        # parquet path: long ts is TIMESTAMP(NANOS)-as-long by the
        # testdata contract (tests/test_testdata_contract.py pins it).
        memo[key] = normalize_event_time(df, long_unit="ns")
    return memo[key]


class Catalog:
    """Session-scoped view of one deployment (one keyspace / one sf dir).

    Mirrors the reference's DataLoader: one object that hands out lazy
    DataFrames per table (DataLoader.java:508-529), with the replay
    switch applied at resolution time.
    """

    def __init__(self, spark: SparkSession, base: str, replay: bool = False):
        self.spark = spark
        self.base = base
        self.replay = replay
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        key = _resolve_replay(name, self.replay)
        if key not in self._cache:
            self._cache[key] = load_table(self.spark, self.base, name, self.replay)
        return self._cache[key]

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return self.table(name)


def register_all(spark: SparkSession, base: str, tables: list[str]) -> None:
    """createOrReplaceTempView for each table so SQL-path queries work."""
    for t in tables:
        load_table(spark, base, t).createOrReplaceTempView(t)
