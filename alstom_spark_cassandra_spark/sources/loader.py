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

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Per-session memo of the lazy parquet-scan DataFrame per (base, table).
# This caches PLAN METADATA (file listing + inferred schema + the
# canonicalized-ts projection), never data: every execution of a memoized
# DataFrame still scans the parquet files. Rationale (measured, round 15):
# a warm `spark.read.parquet` costs ~80-100 ms of schema inference +
# py4j round-trips per call, and a snowflake query like tpch_q5 pays it
# six times PER CONSTRUCTION — ~0.6 s of driver-side latency for scans
# whose schemas cannot have changed. Freshness semantics match what
# `spark.read.parquet` already pins at analysis time (the file listing is
# captured when the DataFrame is built); a caller that appends files to a
# memoized table's directory must call `refresh_tables()` — exactly
# Spark's own catalog `refreshTable` contract. The Cassandra branch is
# NOT memoized (its ts-unit conf is read per call).
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
    the next load re-lists files and re-infers schema. Registered
    downstream plan memos are dropped too — they embed literals
    resolved from the frozen listing."""
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


def stream_source(
    spark: SparkSession, base: str, name: str, schema=None
) -> DataFrame:
    """File-stream source for one logical table, adaptive to layout:
    Spark's file stream needs a DIRECTORY basePath, so a flat
    `{name}.parquet` FILE is read via pathGlobFilter on its parent,
    while a `{name}.parquet/` directory of part-files is read
    directly (the glob would match no leaf file there). The layout
    check goes through the Hadoop FileSystem API so it answers
    correctly on any filesystem (local, HDFS, S3A), not just local
    paths. Event time is canonicalized like the batch loader
    (`stream_event_time`)."""
    path = f"{base}/{name}.parquet"
    if schema is None:
        schema = spark.read.parquet(path).schema
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        is_dir = fs.getFileStatus(hpath).isDirectory()
    except Exception:
        import os

        is_dir = os.path.isdir(path)
    if is_dir:
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
    raw = spark.read.parquet(f"{base}/{_resolve_replay(name, replay)}.parquet")
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
        df = spark.read.parquet(f"{base}/{name}.parquet")
        return normalize_event_time(df, long_unit="ns")
    memo = _TABLE_MEMO.setdefault(spark, {})
    key = (base, name)
    if key not in memo:
        df = spark.read.parquet(f"{base}/{name}.parquet")
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
