"""Public query API — the reference's procedure surface, Spark-first.

Reference entry points (SURVEY.md §2.9 D5, §3):

  RetrieveField.fieldFilter      Java/.../RetrieveField.java:50-93
  RetrieveMessage.messageFilter  Java/.../RetrieveMessage.java:54-118
  GetMessage                     SQL/GetMessage.sql:8
  GetMultipleFields              SQL/GetMultipleFields.sql:8
  GetUpdateHistory               SQL/GetUpdateHistory.sql:8
  Backup                         Java/.../Backup.java:30-61

Each becomes one Python function returning a *lazy* DataFrame — one
Catalyst plan per query instead of the reference's chain of
materialized temp tables (`CREATE TABLE data_center.X_{temp_nb}`,
SQL/GetMessage.sql:46-54) or driver round-trip `first()` loops
(RetrieveField.java:66-90). Concurrency isolation comes free
(DataFrames are values; no `temp_nb` suffixes).

Snapshot layout note: the reference stores one MySQL table per
snapshot epoch, addressed through a `snapshots(name, start_id)` index
(SQL/GetMessage.sql:60-70). Here all snapshot rows live in ONE
DataFrame with a `snapshot_name` column — on disk, a parquet dataset
partitioned by snapshot_name, so selecting an epoch is partition
pruning, not a table lookup.
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Sequence
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.filter_compiler import compile_filter
from ..operators.asof import asof_id_bounds, asof_snapshot_pair
from ..operators.json_flatten import flatten_json_value
from ..operators.latest import latest_per_key
from ..operators.locf import locf

# Columns that identify one logical field series in the change log.
SERIES_KEY = ["uevol_field_id", "src_id", "dst_id"]
# Tie-break for same-instance_message_id updates (DataLoader.java:65).
TIEBREAK = ["iteration"]


def _apply_eq_filters(df: DataFrame, eq: dict[str, object]) -> DataFrame:
    # Dynamic conjunctive equality filters; None/-1 means "not set"
    # (RetrieveField.java:57-63, Retrieve_field.scala:37-43).
    for col, val in eq.items():
        if val is not None and val != -1:
            df = df.filter(F.col(col) == F.lit(val))
    return df


def retrieve_field(
    instance_field: DataFrame,
    instance_message: DataFrame,
    uevol_field_id: int | None = None,
    value: int | None = None,
    src_id: int | None = None,
    dst_id: int | None = None,
    seq_nb: int | None = None,
    start_log_time: int | None = None,
    end_log_time: int | None = None,
    duration: int | None = None,
    uevol_message_id: int | None = None,
    src_ty: int | None = None,
    dst_ty: int | None = None,
    sort_output: bool = True,
) -> DataFrame:
    """Q2-interval: field updates matching dynamic filters, bounded to a
    seq_nb / time window (reference: RetrieveField.java:50-93).

    The result is ordered by the update clock (`instance_message_id`);
    `sort_output=False` returns it unordered, as get_update_history's
    flag does. The output is window-sized (unbounded at scale), and the
    global sort costs a rangepartitioning exchange plus a
    bounds-sampling re-execution of the child.

    The reference resolves seq_nb and each time bound with separate
    `orderBy().first()` driver round-trips (RetrieveField.java:66-90).
    Here the bounds stay in-plan: 1-row aggregates cross-joined in, so
    the whole query is one Spark job and the log scan happens once.

    `uevol_message_id`/`src_ty`/`dst_ty` narrow the MESSAGE set the
    time bounds are resolved from (RetrieveField.java:60-62), so the
    id window is the filtered messages' min/max id — still applied to
    the field log as a RANGE, exactly like the reference (:76-88).
    seq_nb deliberately resolves against the UNFILTERED message table
    (the reference uses `instanceMessage`, not the filtered set, at
    :66) — parity over plausibility.
    """
    log = _apply_eq_filters(
        instance_field,
        {
            "uevol_field_id": uevol_field_id,
            "new_value": value,
            "src_id": src_id,
            "dst_id": dst_id,
        },
    )
    msgs = _apply_eq_filters(
        instance_message,
        {
            "uevol_message_id": uevol_message_id,
            "src_ty": src_ty,
            "dst_ty": dst_ty,
        },
    )

    def _ordered(df: DataFrame) -> DataFrame:
        return df.orderBy("instance_message_id") if sort_output else df

    if seq_nb is not None and seq_nb != -1:
        # seq_nb resolves to ONE message id and the log is filtered to
        # exactly that message (RetrieveField.java:67-68 filters
        # instance_message_id==resolved, not a range).
        bound = instance_message.filter(F.col("seq_nb") == F.lit(seq_nb)).agg(
            F.min("id").alias("min_id")
        )
        return _ordered(
            log.join(bound, F.lit(True), "left")
            .filter(F.col("instance_message_id") == F.col("min_id"))
            .drop("min_id")
        )

    if start_log_time is None and end_log_time is None and duration is None:
        return _ordered(log)

    # time window -> id bounds, one aggregate in-plan (asof_id_bounds
    # replaces RetrieveField.java:74-90's three orderBy().first() jobs);
    # resolved from the type-filtered message set (:60-62, 75-81)
    bounds = asof_id_bounds(
        msgs,
        start_time=start_log_time,
        end_time=end_log_time,
        duration=duration,
    )
    return _ordered(
        log.join(bounds, F.lit(True), "left")
        .filter(
            (F.col("instance_message_id") >= F.col("min_id"))
            & (F.col("instance_message_id") <= F.col("max_id"))
        )
        .drop("min_id", "max_id")
    )


def retrieve_message(
    instance_field: DataFrame,
    uevol_field: DataFrame,
    uevol_message_id: int,
    at_instance_message_id: int,
    src_id: int | None = None,
    dst_id: int | None = None,
    default_value: int = -1,
) -> DataFrame:
    """Q1 (log-only): reconstruct every field of a message type at a
    point in the log (reference: RetrieveMessage.java:54-118).

    The reference does this with a correlated per-field UDF that
    re-filters the whole Dataset per row (RetrieveMessage.java:92-108
    — invalid outside local mode, SURVEY.md J11). Replacement: window
    argmax over the narrowed log once, broadcast the field catalog,
    one left join; fields with no update yet get `default_value`
    (the reference's -1 convention).

    The log is scoped to the target conversation pair and message type
    exactly like the reference (RetrieveMessage.java:85-88 filters
    src_id/dst_id/uevol_message_id before the per-field lookups) —
    without it, another pair's later update would win the argmax.
    """
    fields = uevol_field.filter(
        F.col("uevol_message_id") == F.lit(uevol_message_id)
    ).select(F.col("id").alias("uevol_field_id"), "name")

    narrowed = _apply_eq_filters(
        instance_field,
        {"src_id": src_id, "dst_id": dst_id},
    )
    if "uevol_message_id" in narrowed.columns:
        narrowed = narrowed.filter(
            F.col("uevol_message_id") == F.lit(uevol_message_id)
        )
    narrowed = narrowed.filter(
        F.col("instance_message_id") <= F.lit(at_instance_message_id)
    )
    latest = latest_per_key(
        narrowed, ["uevol_field_id"], "instance_message_id", TIEBREAK
    ).select("uevol_field_id", "new_value")

    # Broadcast the aggregated side: after the argmax it is <= one row
    # per field. (Broadcasting the preserved side of an outer join is
    # unsupported — Spark would silently fall back to sort-merge.)
    return (
        fields.join(F.broadcast(latest), "uevol_field_id", "left")
        .select(
            "uevol_field_id",
            "name",
            F.coalesce("new_value", F.lit(default_value)).alias("value"),
        )
        .orderBy("uevol_field_id")
    )


def get_message(
    instance_field: DataFrame,
    uevol_field: DataFrame,
    snapshot_index: DataFrame,
    snapshot_rows: DataFrame,
    instance_message: DataFrame,
    at_instance_message_id: int,
    default_value: float = -1.0,
) -> DataFrame:
    """Q1 (snapshot+delta): reconstruct a full message at a message id
    using the nearest snapshot plus the deltas since (reference:
    SQL/GetMessage.sql — ~990 lines of staged temp tables).

    Stages (all one lazy plan here):
      1. resolve message type + src/dst from the message log
         (GetMessage.sql:25-38);
      2. snapshot pair around the target (GetMessage.sql:63-88);
      3. same/diff between the two snapshots (GetMessage.sql:147-176);
      4. delta argmax over [snap_min_start, target]
         (GetMessage.sql:178-226);
      5. no-update-yet anti-join + snapshot JSON flatten
         (GetMessage.sql:362-590);
      6. final union, dedup by (field, path) (GetMessage.sql:595-597).

    Returns (uevol_field_id, name, relative_path, value).
    """
    # 1. point lookup of the target message's metadata (tiny).
    tgt = (
        instance_message.filter(F.col("id") == F.lit(at_instance_message_id))
        .select("uevol_message_id", "src_id", "dst_id")
        .limit(1)
        .collect()
    )
    if not tgt:
        raise ValueError(f"no instance_message with id={at_instance_message_id}")
    msg_type, src_id, dst_id = tgt[0][0], tgt[0][1], tgt[0][2]

    fields = uevol_field.filter(F.col("uevol_message_id") == F.lit(msg_type)).select(
        F.col("id").alias("uevol_field_id"), "name"
    )

    # 2. snapshot pair (tiny index — driver scalar is fine and bounds
    # the delta scan, the reference's partition-pruning analog).
    pair_rows = asof_snapshot_pair(snapshot_index, at_instance_message_id).collect()
    if not pair_rows or pair_rows[0]["snap_min_name"] is None:
        raise ValueError(
            f"no snapshot at or below instance_message_id="
            f"{at_instance_message_id}; the snapshot index is empty or "
            "starts later — reconstruct via retrieve_message (log-only) "
            "instead"
        )
    pair = pair_rows[0]
    snap_min_name, snap_min_start = pair["snap_min_name"], pair["snap_min_start"]
    snap_max_name = pair["snap_max_name"]

    snap_cols = ["uevol_field_id", "src_id", "dst_id", "json_value"]
    snap_min = snapshot_rows.filter(
        (F.col("snapshot_name") == F.lit(snap_min_name))
        & (F.col("src_id") == F.lit(src_id))
        & (F.col("dst_id") == F.lit(dst_id))
    )

    if snap_max_name is not None and snap_max_name != snap_min_name:
        snap_max = snapshot_rows.filter(
            (F.col("snapshot_name") == F.lit(snap_max_name))
            & (F.col("src_id") == F.lit(src_id))
            & (F.col("dst_id") == F.lit(dst_id))
        )
        # 3. same/diff compares the snapshots' LAST-UPDATE ids
        # (GetMessage.sql:150,172 group on uevol_field_id, src_id,
        # dst_id, instance_message_id), NOT the values: a field that
        # round-trips back to its old value inside the epoch has an
        # identical json_value but a newer id, and must be treated as
        # changed so its deltas are scanned.
        id_cols = ["uevol_field_id", "src_id", "dst_id", "instance_message_id"]
        conc = (
            snap_min.select(*id_cols, "json_value")
            .unionByName(snap_max.select(*id_cols, "json_value"))
            .groupBy(*id_cols)
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.first("json_value").alias("json_value"),
            )
        )
        same = conc.filter(F.col("__cnt") > 1).select(*snap_cols)
        diff_fields = (
            conc.filter(F.col("__cnt") == 1)
            .select("uevol_field_id")
            .distinct()
        )
    else:
        # Single-snapshot branch (target beyond the last snapshot,
        # GetMessage.sql:611-990): EVERY message field may have deltas
        # — a field whose first-ever update falls after the snapshot
        # has no snapshot row, so restricting the delta scan to
        # snapshot fields would drop it.
        same = snap_min.select(*snap_cols).limit(0)
        diff_fields = fields.select("uevol_field_id")

    # 4. deltas in [snap_min_start, target]: inclusive lower bound like
    # the reference's BETWEEN (GetMessage.sql:181,616) — safe whether
    # the snapshot covers ids < start or <= start (re-applying the
    # boundary update is idempotent under the argmax), and required
    # for the < convention.
    deltas = instance_field.filter(
        (F.col("instance_message_id") >= F.lit(snap_min_start))
        & (F.col("instance_message_id") <= F.lit(at_instance_message_id))
        & (F.col("src_id") == F.lit(src_id))
        & (F.col("dst_id") == F.lit(dst_id))
    ).join(F.broadcast(diff_fields), "uevol_field_id", "left_semi")
    delta_latest = latest_per_key(
        deltas, ["uevol_field_id", "relative_path"], "instance_message_id", TIEBREAK
    ).select(
        "uevol_field_id",
        "relative_path",
        F.col("new_value").cast("double").alias("value"),
    )

    # 5a. seed ALL of a changed field's snapshot paths
    # (GetMessage.sql:247-358): paths the deltas did not touch keep
    # their snapshot value; the per-path priority dedup below lets
    # delta values win where both exist.
    changed_seed = snap_min.join(
        F.broadcast(diff_fields), "uevol_field_id", "left_semi"
    )
    seeded = flatten_json_value(
        changed_seed.select("uevol_field_id", "json_value")
    ).select("uevol_field_id", "relative_path", "value")

    # 5b. unchanged = same ∪ (fields with no snapshot row at all ->
    # default json, GetMessage.sql:362-437).
    no_update_yet = (
        fields.join(snap_min.select("uevol_field_id"), "uevol_field_id", "left_anti")
        .select(
            "uevol_field_id",
            F.lit(src_id).alias("src_id"),
            F.lit(dst_id).alias("dst_id"),
            F.lit(f'{{"000": {default_value}}}').alias("json_value"),
        )
    )
    unchanged = same.unionByName(no_update_yet.select(*snap_cols))
    unchanged_flat = flatten_json_value(
        unchanged.select("uevol_field_id", "json_value")
    ).select("uevol_field_id", "relative_path", "value")

    # 6. assemble: delta values win over seeds win over unchanged;
    # dedup by (field, path) like the final GROUP BY
    # (GetMessage.sql:595) but with an explicit priority order.
    result = (
        delta_latest.withColumn("__prio", F.lit(0))
        .unionByName(seeded.withColumn("__prio", F.lit(1)))
        .unionByName(unchanged_flat.withColumn("__prio", F.lit(2)))
    )
    w = Window.partitionBy("uevol_field_id", "relative_path").orderBy("__prio")
    deduped = (
        result.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )
    return (
        deduped.join(F.broadcast(fields), "uevol_field_id", "inner")
        .select("uevol_field_id", "name", "relative_path", "value")
        .orderBy("uevol_field_id", "relative_path")
    )


_WILDCARDS = (-1, "-1")


def _sql_literal(v) -> str:
    """The one way a Python value enters generated SQL text.

    Strings travel as hex-encoded binary cast back to STRING, so no
    quote, backslash or parser setting (escapedStringLiterals) can end
    the literal early; Catalyst folds the cast back into a plain string
    literal before filter pushdown. Numbers are rendered from their
    int/float value, never from caller-supplied text."""
    if v is None:
        return "NULL"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        f = float(v)
        if math.isfinite(f):
            return f"{f!r}D"
        return f"CAST('{f!r}' AS DOUBLE)"  # 'nan', 'inf', '-inf'
    if isinstance(v, str):
        return f"CAST(X'{v.encode().hex()}' AS STRING)"
    raise TypeError(f"no SQL literal for {type(v).__name__} value {v!r}")


@dataclass(frozen=True)
class Arguments:
    """The requested (field, src, dst, filter) series — the reference
    procedures' argument lists (SQL/CreateArgumentsTable.sql).

    These are query PARAMETERS, so they live driver-side: wildcard
    detection and per-series filter extraction are plain Python and
    never launch a Spark job (in local mode every job — even take(1)
    on a 3-row relation — costs ~0.5s of scheduling overhead; a query
    that probes its own arguments twice pays a second of pure tax).
    `df(spark)` materializes the broadcastable relation lazily;
    `pattern_sql()` is the same rows as a log predicate. Both are built
    as SQL text, so their cost is a constant number of py4j calls
    whatever the row count."""

    rows: tuple[tuple, ...]
    schema: str = "uevol_field_id int, src_id int, dst_id int, filter string"

    @property
    def _fields(self) -> list[tuple[str, str]]:
        return [tuple(f.strip().split(" ", 1)) for f in self.schema.split(",")]

    def df(self, spark) -> DataFrame:
        # Literal in-plan relation, not createDataFrame(rows): the
        # Python-RDD path (applySchemaToPythonRDD) plans as a Scan
        # ExistingRDD with UnknownPartitioning — a parallelize over
        # default-parallelism splits whose every consumption pays a
        # task set of Python deserialization. inline(array(structs))
        # over a one-partition range is pure JVM, whole-stage codegen,
        # zero Python boundary; the outer cast pins the exact legacy
        # schema (types and nullability — asserted by test_plans).
        fields = self._fields
        structs = ", ".join(
            "struct("
            + ", ".join(
                f"CAST({_sql_literal(v)} AS {t})"
                for v, (_n, t) in zip(row, fields, strict=True)
            )
            + ")"
            for row in self.rows
        )
        struct_t = ",".join(f"{n}:{t}" for n, t in fields)
        return spark.range(0, 1, 1, 1).selectExpr(
            f"inline(CAST(array({structs}) AS array<struct<{struct_t}>>))"
        )

    @property
    def has_wildcard(self) -> bool:
        return any(
            r[0] in _WILDCARDS or r[1] in _WILDCARDS or r[2] in _WILDCARDS
            for r in self.rows
        )

    def pattern_sql(self) -> str:
        """SQL predicate over the log selecting every requested
        series' rows: each argument row is the conjunction of
        equalities on its non-wildcard key columns, and the rows are
        OR-ed. Plain column-vs-literal comparisons, so Catalyst pushes
        it into the parquet scan (PushedFilters). "TRUE" when a row
        wildcards every key column; "FALSE" for an empty set."""
        types = dict(self._fields)
        terms = []
        # first-seen order: stable plan text, and no sort over mixed
        # value types
        for key in dict.fromkeys(r[:3] for r in self.rows):
            eqs = [
                f"`{c}` = CAST({_sql_literal(v)} AS {types[c]})"
                for c, v in zip(SERIES_KEY, key)
                if v not in _WILDCARDS
            ]
            if not eqs:
                return "TRUE"
            terms.append("(" + " AND ".join(eqs) + ")")
        return " OR ".join(terms) or "FALSE"


def make_arguments(
    spark,
    field_ids: Sequence[int],
    src_ids: Sequence[int] | None = None,
    dst_ids: Sequence[int] | None = None,
    filters: Sequence[str | None] | None = None,
) -> Arguments:
    """Positional zip of the parallel argument lists into one
    Arguments set (reference: SQL/CreateArgumentsTable.sql:36-41
    does this with a 4-way cartesian join on positional ids; in Python
    it's just zip — strict, so a length mismatch raises instead of
    silently dropping trailing fields).

    -1 entries are wildcards. A wildcard row matches every series of
    the log, seen at any message id, whose non-wildcard columns equal
    its own (the reference validates/expands against the latest
    snapshot the same way, SQL/CreateArgumentsTable.sql:74-92);
    get_multiple_fields and get_update_history expand automatically.
    Once any row is a wildcard, the set resolves to the distinct
    matching series of the log: a concrete row whose series never
    occurs yields nothing, and repeated rows collapse.

    Filter rule: when several rows match one series, the series takes
    exactly one row's filter — a concrete row (no -1 column) wins over
    a wildcard row, and among rows of equal rank the first in argument
    order wins.

    `spark` is unused (kept for signature stability); the rows stay
    driver-side until a plan needs the relation.
    """
    n = len(field_ids)
    src = list(src_ids) if src_ids else [-1] * n
    dst = list(dst_ids) if dst_ids else [-1] * n
    flt = list(filters) if filters else [None] * n
    rows = tuple(
        (int(f), int(s), int(d), x)
        for f, s, d, x in zip(field_ids, src, dst, flt, strict=True)
    )
    return Arguments(rows)


def expand_arguments(
    arguments: DataFrame,
    instance_field: DataFrame,
    pattern: str | None = None,
) -> DataFrame:
    """Resolve -1 wildcards to the concrete series present in the log
    (reference: CreateArgumentsTable.sql:74-92 validates/expands the
    argument intervals against the latest snapshot). A concrete
    argument passes through iff its series exists; a -1 column matches
    every value. One row per series; its filter follows the rule on
    `make_arguments` (concrete before wildcard, then argument order —
    the row order of `arguments`).

    `pattern` (Arguments.pattern_sql of the same rows) pre-filters the
    log inside the scan, so the distinct runs over the requested
    series' rows only instead of over every series of the log."""
    log = instance_field if pattern is None else instance_field.filter(pattern)
    series = log.select(*SERIES_KEY).distinct()

    def sentinel(col: str):
        # cast the -1 sentinel to the argument column's own type so a
        # string-keyed series ('click') compares as '-1', not as a
        # failing string->bigint ANSI cast
        return F.lit(-1).cast(arguments.schema[col].dataType)

    wild = [F.col(c) == sentinel(c) for c in SERIES_KEY]
    a = arguments.select(
        *SERIES_KEY,
        "filter",
        (wild[0] | wild[1] | wild[2]).cast("int").alias("__rank"),
        F.monotonically_increasing_id().alias("__ord"),
    ).alias("a")
    s = series.alias("s")

    def match(col: str):
        return (F.col(f"a.{col}") == sentinel(col)) | (
            F.col(f"a.{col}") == F.col(f"s.{col}")
        )

    # condition join (wildcards are inequalities) -> broadcast the tiny
    # argument list so it's a BroadcastNestedLoopJoin over it, never a
    # cartesian over the series set
    return (
        s.join(
            F.broadcast(a),
            match("uevol_field_id") & match("src_id") & match("dst_id"),
        )
        .groupBy(*[F.col(f"s.{c}").alias(c) for c in SERIES_KEY])
        .agg(
            F.min_by(
                F.col("a.filter"), F.struct(F.col("a.__rank"), F.col("a.__ord"))
            ).alias("filter")
        )
    )


def _maybe_expand(arguments: DataFrame, instance_field: DataFrame) -> DataFrame:
    # arguments is a tiny local relation; the take() is driver-local.
    def sentinel(col: str):
        return F.lit(-1).cast(arguments.schema[col].dataType)

    has_wildcard = bool(
        arguments.filter(
            (F.col("uevol_field_id") == sentinel("uevol_field_id"))
            | (F.col("src_id") == sentinel("src_id"))
            | (F.col("dst_id") == sentinel("dst_id"))
        ).take(1)
    )
    return expand_arguments(arguments, instance_field) if has_wildcard else arguments


_MAX_PUSHDOWN_SERIES = 64
# get_update_history per-series filters: above this many filtered
# series, the AND-chain encoding (O(rows x filtered series) per-row
# work, ~5 expression nodes per series) switches to a broadcast join
# on the filter table + a CASE over distinct filter strings.
_MAX_FILTER_CHAIN = 8


@dataclass(frozen=True)
class _Resolved:
    """Arguments resolved against one log.

    `df`: one row per requested series (+ filter), wildcards expanded.
    `rows`: the driver-known argument tuples when learning them needs
    no Spark job (an Arguments set with no wildcards), else None.
    `pattern`: the SQL predicate selecting the series' log rows, or
    None when only `df` knows the series."""

    df: DataFrame
    rows: tuple[tuple, ...] | None
    pattern: str | None

    def restrict(self, log: DataFrame) -> DataFrame:
        """Restrict the log to the argument series.

        With a pattern the restriction is a plain predicate Catalyst
        pushes into the parquet scan (PushedFilters), engaging
        row-group stats / dictionary / bloom pruning. A broadcast
        semi-join filters just as early in the executor but can never
        reach the scan, so at 100 TB the pushed predicate is the
        difference between skipping row groups and reading them.
        Wildcard Arguments always restrict by their pattern. The
        semi-join serves DataFrame arguments and concrete lists longer
        than _MAX_PUSHDOWN_SERIES (a 1000-term OR predicate is worse
        than a broadcast hash probe)."""
        if self.pattern is not None:
            return log.filter(self.pattern)
        return log.join(
            F.broadcast(self.df.select(*SERIES_KEY)), SERIES_KEY, "left_semi"
        )


def _resolve_args(
    arguments: Arguments | DataFrame | _Resolved, instance_field: DataFrame
) -> _Resolved:
    """Arguments -> _Resolved; an already resolved set passes through
    (get_update_history_chunked hands its own to every chunk).
    DataFrame arguments keep the take(1) wildcard probe."""
    if isinstance(arguments, _Resolved):
        return arguments
    if isinstance(arguments, Arguments):
        df = arguments.df(instance_field.sparkSession)
        if arguments.has_wildcard:
            pattern = arguments.pattern_sql()
            return _Resolved(
                expand_arguments(df, instance_field, pattern), None, pattern
            )
        pattern = (
            arguments.pattern_sql()
            if len(arguments.rows) <= _MAX_PUSHDOWN_SERIES
            else None
        )
        return _Resolved(df, arguments.rows, pattern)
    return _Resolved(_maybe_expand(arguments, instance_field), None, None)


def get_multiple_fields(
    instance_field: DataFrame,
    arguments: Arguments | DataFrame,
    at_instance_message_id: int,
    default_value: float = -1.0,
    snapshot_index: DataFrame | None = None,
    snapshot_rows: DataFrame | None = None,
) -> DataFrame:
    """Q2: current value of each requested (field, src, dst) series at
    a message id (reference: SQL/GetMultipleFields.sql).

    Without snapshots: log-only formulation — latest update per
    requested series ≤ target; series with no update yet get the
    default. -1 wildcards in the arguments expand against the log's
    series (J9).

    With `snapshot_index` + `snapshot_rows`: the reference's
    snapshot-seeded formulation (SQL/GetMultipleFields.sql:44-67
    snapshot pair, 343-356 no-update-yet ⟕ snapshots) — only the
    deltas in [nearest snapshot ≤ target, target] are scanned, and a
    series with no update in that window takes its value from the
    snapshot instead of the default. On a snapshotted deployment this
    is both the correct cold-series answer AND the partition-pruning
    win: the log scan is bounded by one snapshot epoch, not the full
    history.
    """
    if snapshot_index is None:
        if isinstance(arguments, Arguments) and arguments.has_wildcard:
            # the series come from the same pattern-restricted scan
            # that yields their latest values: no expansion relation
            return _multiple_fields_log(
                instance_field.filter(arguments.pattern_sql()),
                None, at_instance_message_id, default_value,
            )
        res = _resolve_args(arguments, instance_field)
        return _multiple_fields_log(
            res.restrict(instance_field), res.df, at_instance_message_id,
            default_value,
        )
    if snapshot_rows is None:
        raise ValueError("snapshot_index given without snapshot_rows")
    return _multiple_fields_snapshot_seeded(
        instance_field,
        snapshot_index,
        snapshot_rows,
        _resolve_args(arguments, instance_field),
        at_instance_message_id,
        default_value,
    )


def _multiple_fields_snapshot_seeded(
    instance_field: DataFrame,
    snapshot_index: DataFrame,
    snapshot_rows: DataFrame,
    args: _Resolved,
    at_instance_message_id: int,
    default_value: float,
) -> DataFrame:
    """Snapshot-seeded Q2 body (arguments already resolved).

    Stages, all one lazy plan after the two tiny scalar lookups:
      1. snapshot pair around the target
         (SQL/GetMultipleFields.sql:44-67) — the snap_min epoch bounds
         the delta scan exactly like the reference's
         `instance_message_id>=@snap_min_start` reduction (:160-162);
      2. latest delta per (series, path) in [snap_min_start, target]
         (:163-199 diff_update_prem/diff_update_rec argmax);
      3. seed rows from the snapshots for everything the deltas did
         not touch: snap_min preferred, snap_max only for a series
         absent from snap_min (the reference's no-update-yet left
         join against the CONCATENATED snapshot pair, :343-356 — the
         priority dedup keeps one row where the reference's plain
         join could emit both epochs');
      4. series in neither log window nor snapshots -> default
         sentinel row, same as the log-only path.

    Equivalence invariant (tested): when snapshots are exact
    latest-state captures of the same log, the result ≡ the log-only
    full replay.
    """
    pair_rows = asof_snapshot_pair(
        snapshot_index, at_instance_message_id
    ).collect()
    if not pair_rows or pair_rows[0]["snap_min_name"] is None:
        raise ValueError(
            f"no snapshot at or below instance_message_id="
            f"{at_instance_message_id}; pass snapshot_index=None for the "
            "log-only replay instead"
        )
    pair = pair_rows[0]
    snap_min_name = pair["snap_min_name"]
    snap_min_start = pair["snap_min_start"]
    snap_max_name = pair["snap_max_name"]

    # 2. deltas bounded to one snapshot epoch — the scan-pruning win.
    # Inclusive lower bound: re-applying the boundary update is
    # idempotent under the argmax (same convention as get_message).
    deltas = args.restrict(
        instance_field.filter(
            (F.col("instance_message_id") >= F.lit(snap_min_start))
            & (F.col("instance_message_id") <= F.lit(at_instance_message_id))
        )
    )
    delta_latest = latest_per_key(
        deltas, SERIES_KEY + ["relative_path"], "instance_message_id", TIEBREAK
    ).select(
        *SERIES_KEY,
        "relative_path",
        F.col("new_value").cast("double").alias("value"),
        "instance_message_id",
    )

    # 3. snapshot seeds for the argument series, flattened to paths.
    # A wildcard pattern may also admit snapshot series the log never
    # saw; the final left join from the resolved series drops them.
    def seed(name: str) -> DataFrame:
        rows = args.restrict(
            snapshot_rows.filter(F.col("snapshot_name") == F.lit(name))
        )
        return flatten_json_value(
            rows.select(*SERIES_KEY, "instance_message_id", "json_value")
        ).select(
            *SERIES_KEY, "relative_path", "value", "instance_message_id"
        )

    seeds = seed(snap_min_name).withColumn("__prio", F.lit(1))
    if snap_max_name is not None and snap_max_name != snap_min_name:
        seeds = seeds.unionByName(
            seed(snap_max_name).withColumn("__prio", F.lit(2))
        )

    # deltas win over snap_min win over snap_max, per (series, path).
    ranked = delta_latest.withColumn("__prio", F.lit(0)).unionByName(seeds)
    w = Window.partitionBy(*SERIES_KEY, "relative_path").orderBy("__prio")
    best = (
        ranked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )

    # 4. default rows for series with nothing anywhere; `best` holds
    # <= paths-per-series rows for the requested series only —
    # broadcast it, not the preserved arguments side.
    return (
        args.df.select(*SERIES_KEY)
        .join(F.broadcast(best), SERIES_KEY, "left")
        .select(
            *SERIES_KEY,
            F.coalesce("relative_path", F.lit("000")).alias("relative_path"),
            F.coalesce("value", F.lit(default_value)).alias("value"),
            F.coalesce("instance_message_id", F.lit(-1)).alias(
                "instance_message_id"
            ),
        )
        .orderBy(*SERIES_KEY, "relative_path")
    )


def _multiple_fields_log(
    restricted: DataFrame,
    preserved: DataFrame | None,
    at_instance_message_id: int,
    default_value: float,
) -> DataFrame:
    """Log-only get_multiple_fields body over the log already
    restricted to the requested series.

    `preserved` (the resolved argument relation) gets one output row
    per argument row, duplicates included: its series' latest value
    per path at the target, or one default row. `preserved=None`
    (wildcard Arguments) takes the series from `restricted` itself —
    every series seen at ANY message id, so one seen only after the
    target still gets its default row — and the log scan happens once.

    Plan: one partial-aggregated exchange on (series, path), then a
    single partition, whose per-series step, join and final sort need
    no further exchange and no broadcast job. The output is bounded by
    the request (it is collected to the driver anyway); a global sort
    would cost a bounds-sampling job and a range exchange per query.
    """
    at = _sql_literal(int(at_instance_message_id))
    if preserved is not None:
        # the target bound rides into the scan with the series pattern
        restricted = restricted.filter(f"instance_message_id <= {at}")
    # latest update ≤ target per (series, path): max over the
    # (id, iteration) total order (an exact tie keeps the larger
    # value); rows past the target or with a NULL key column (which
    # wildcard expansion never matched) carry none.
    # The per-query literals stay in the scan stage's projection
    # (compiled with the pushed filter anyway): the aggregate's own
    # generated code then repeats across queries and is compiled once.
    ok = " AND ".join(
        [f"instance_message_id <= {at}"]
        + [f"`{c}` IS NOT NULL" for c in SERIES_KEY]
    )
    latest = (
        restricted.selectExpr(
            *SERIES_KEY,
            "relative_path",
            f"CASE WHEN {ok} THEN struct(instance_message_id AS i, "
            "iteration AS t, CAST(new_value AS DOUBLE) AS v) END AS l",
        )
        .groupBy(*SERIES_KEY, "relative_path")
        .agg(F.expr("max(l) AS l"))
        .coalesce(1)
    )
    if preserved is None:
        # one row per path with a value, or one NULL row for a series
        # with none
        rows = (
            latest.groupBy(*SERIES_KEY)
            .agg(F.expr(
                "collect_list(CASE WHEN l IS NOT NULL THEN struct("
                "relative_path AS p, l) END) AS ls"
            ))
            .selectExpr(*SERIES_KEY, "explode_outer(ls) AS e")
            .selectExpr(*SERIES_KEY, "e.p AS relative_path", "e.l AS l")
        )
    else:
        # an argument list is tiny and an Arguments relation already
        # one partition: with both sides there, the hash join needs
        # neither an exchange nor a broadcast job
        rows = preserved.select(*SERIES_KEY).coalesce(1).join(
            latest.hint("shuffle_hash"), SERIES_KEY, "left"
        )
    return rows.selectExpr(
        *SERIES_KEY,
        "coalesce(relative_path, '000') AS relative_path",
        f"coalesce(l.v, CAST({_sql_literal(default_value)} AS DOUBLE)) AS value",
        "coalesce(l.i, -1) AS instance_message_id",
    ).orderBy(*SERIES_KEY, "relative_path")


def _scalar_state(
    restricted: DataFrame,
    arguments: DataFrame,
    at_instance_message_id: int,
    default_value: float,
) -> DataFrame:
    """One value per requested series at a message id: the min
    relative_path's latest update ≤ the target ("000" when a field
    has nested paths), default for series with no update yet. ONE
    aggregation total: min_by over the (path asc, id desc, iteration
    desc) total order picks the min-path group's latest row, and the
    per-series default is a sentinel row unioned INTO the same
    aggregation (path "￿" sorts after every real path, so it only
    wins when the series has no update at all) — the union folds into
    the one exchange where an `arguments ⟕ asof` join would cost a
    broadcast build. `restricted` must already be narrowed to the
    argument series."""
    updates = restricted.filter(
        F.col("instance_message_id") <= F.lit(at_instance_message_id)
    ).select(
        *SERIES_KEY,
        "relative_path",
        F.col("instance_message_id").cast("long").alias("__id"),
        F.col("iteration").cast("long").alias("__it"),
        F.col("new_value").cast("double").alias("__v"),
    )
    defaults = arguments.select(*SERIES_KEY).select(
        *SERIES_KEY,
        F.lit("￿").alias("relative_path"),
        F.lit(-1).cast("long").alias("__id"),
        F.lit(-1).cast("long").alias("__it"),
        F.lit(default_value).cast("double").alias("__v"),
    )
    return (
        updates.unionByName(defaults)
        .groupBy(*SERIES_KEY)
        .agg(
            F.min_by(
                F.col("__v"),
                F.struct(
                    F.col("relative_path").alias("p"),
                    (-F.col("__id")).alias("nid"),
                    (-F.col("__it")).alias("nit"),
                ),
            ).alias("value")
        )
    )


def get_multiple_fields_history(
    instance_field: DataFrame,
    arguments: Arguments | DataFrame,
    at_instance_message_id: int,
    default_value: float = -1.0,
) -> DataFrame:
    """Scalar per-series state at a message id — the reference's
    GetMultipleFieldsHistory (SQL/GetMultipleFieldsHistory.sql:8),
    whose output `start_table(uevol_field_id, src_id, dst_id, value)`
    seeds GetUpdateHistory (SQL/GetMultipleFieldsHistory.sql:358-369,
    SQL/GetUpdateHistory.sql:29).

    Differs from get_multiple_fields in shape: history treats each
    series as ONE scalar (the min relative_path, "000" for nested
    fields) instead of one row per (series, path). Log-only
    formulation like get_multiple_fields — snapshot seeding is
    get_message's machinery.
    """
    args = _resolve_args(arguments, instance_field)
    return _scalar_state(
        args.restrict(instance_field), args.df, at_instance_message_id,
        default_value,
    ).orderBy(*SERIES_KEY)


def get_update_history(
    instance_field: DataFrame,
    arguments: Arguments | DataFrame,
    start_instance_message_id: int,
    end_instance_message_id: int,
    pivot: bool = False,
    default_value: float = -1.0,
    use_cache: bool = True,
    max_dense_cells: int | None = 100_000_000,
    start_state: DataFrame | None = None,
    sort_output: bool = True,
) -> DataFrame:
    """Q3: dense value-over-time matrix for a set of series over an id
    window (reference: SQL/GetUpdateHistory.sql).

    `max_dense_cells` guards the dense grid's inherent blow-up (grid
    time points × series — the reference matrix's own semantics): when
    the driver-known upper bound (id-window width × series) exceeds
    it, ONE count job on the cached base measures the exact grid, and
    a grid × series product above the cap raises ValueError with
    chunking guidance instead of silently building a memory-breaking
    matrix (SCALE.md round-5 probe: grid × series dominates cost).
    The common small-window call never pays a job. Pass None to
    disable for callers that sized their cluster for the matrix.

    BEHAVIOR CHANGE (round 6): the guard is ON by default
    (max_dense_cells=100_000_000). A call that previously built a
    larger grid now raises ValueError (and a wide-window call may pay
    one bounded count job to decide). This is deliberate — an
    unbounded dense grid is the one memory-breaking shape in this
    module — but callers sized for bigger matrices must now opt out
    explicitly with max_dense_cells=None.

    Long format is the primary output (series key as rows) — the
    reference's one-column-per-series pivot is its own scalability
    ceiling (SURVEY.md §7.4); `pivot=True` gives that presentation for
    bounded series counts.

    `start_state`, when given, replaces the internal _scalar_state
    seed with a caller-supplied (series key, value) frame — the
    reference's own start-table hand-off (SQL/GetUpdateHistory.sql:29)
    and the seam get_update_history_chunked seeds interior chunks
    through. CONTRACT: the frame must contain EVERY requested series;
    a missing series has no start row, so its leading grid cells come
    back NULL instead of default_value (the chunked wrapper guarantees
    completeness by left-joining onto the start scalar).

    Per-series user filter strings (column `filter` of `arguments`)
    are validated by the whitelist compiler before touching the plan
    (the reference string-concatenates them into SQL,
    SQL/GetUpdateHistory.sql:202-233).

    `use_cache` pins the twice-consumed subplans for the duration of
    the session (Spark caches are LRU-evictable, but services issuing
    many histories per session may prefer use_cache=False and let the
    subplans recompute).
    """
    args = _resolve_args(arguments, instance_field)
    arguments, arg_rows = args.df, args.rows
    # ONE log scan feeds both the start-state and the in-window
    # branches: id ≤ end + the series restriction (pushed into the
    # scan when the series are driver-known). Cached because both
    # branches consume it — bounded by the requested series' rows up
    # to the window end.
    base = instance_field.filter(
        F.col("instance_message_id") <= F.lit(end_instance_message_id)
    )
    base = args.restrict(base)
    if use_cache:
        base = base.cache()

    # Start-of-window state per series (the reference calls
    # GetMultipleFieldsHistory for this, SQL/GetUpdateHistory.sql:29,
    # and passes the start table INTO the procedure — `start_state`
    # exposes that same seam so get_update_history_chunked can seed
    # interior chunks with the true LOCF carry instead of the
    # min-relative-path scalar). Default: the _scalar_state
    # aggregation over the shared cached base scan.
    if start_state is None:
        start_state = _scalar_state(
            base, arguments, start_instance_message_id, default_value
        )
    else:
        start_state = start_state.select(
            *SERIES_KEY, F.col("value").cast("double").alias("value")
        )
    start_state = start_state.select(
        *SERIES_KEY,
        F.lit(start_instance_message_id).cast("long").alias(
            "instance_message_id"
        ),
        "value",
    )

    # Raw in-window updates — NOT pre-aggregated: same-message-id
    # iteration ties (the reference's loop overwrites,
    # SQL/GetUpdateHistory.sql:162-172) resolve inside the single
    # dense-grid aggregation below instead of paying their own
    # exchange first.
    raw_updates = base.filter(
        F.col("instance_message_id") > F.lit(start_instance_message_id)
    ).select(
        *SERIES_KEY,
        "instance_message_id",
        F.col("new_value").cast("double").alias("value"),
        F.col("iteration").cast("long").alias("__it"),
    )

    # Dense grid: every series gets a row at every update time point,
    # like the reference's matrix (one row per distinct update id,
    # SQL/GetUpdateHistory.sql:136-141), then LOCF fills the gaps.
    # Union + one aggregate instead of a grid outer join: null
    # placeholder rows for every (id × series) cell lose max_by's
    # (is-real, iteration) order to any real row, so one hash
    # aggregation resolves placeholders AND iteration ties where the
    # join shape costs two exchanges plus sorts.
    # The start-of-window time point is a LITERAL one-row frame
    # (range(1) → no exchange, no job), not arguments.limit(1): the
    # limit shape cost a LocalLimit → Exchange SinglePartition →
    # GlobalLimit stage per call (guide §2.4 — an exchange whose only
    # job is to emit one constant row). Empty-arguments calls stay
    # empty either way: placeholders cross-join against the empty
    # argument set.
    # NOT distinct-ed (r15): the grid's time-point set is
    # distinct(update ids) ∪ {start}, but the placeholder rows feed the
    # dense aggregation below, whose map-side partial agg on
    # (series, id) collapses duplicate (series, id, NULL, NULL) cells
    # before the exchange — so an explicit .distinct() here only added
    # its own full shuffle stage (one more AQE barrier per call) to
    # deduplicate what the aggregation deduplicates for free (guide
    # §2.4). The cap guard still measures the TRUE distinct-id count.
    spark = instance_field.sparkSession
    ids = raw_updates.select("instance_message_id").unionByName(
        spark.range(1).select(
            F.lit(start_instance_message_id)
            .cast("long")
            .alias("instance_message_id")
        )
    )
    if max_dense_cells is not None:
        # driver-known upper bound first: distinct update ids in the
        # window cannot exceed its integer width, so a small window
        # with driver-known args never pays a measurement job
        id_span = max(
            end_instance_message_id - start_instance_message_id + 1, 1
        )
        truncated = False
        if arg_rows is not None:
            n_series = len(arg_rows)
        else:
            # DataFrame/wildcard args: count only enough rows to
            # decide whether the span bound can exceed the cap — the
            # limit early-stops even when `arguments` is a wildcard
            # expansion over the log, so this probe is bounded by the
            # decision, not the argument cardinality
            k_limit = max_dense_cells // id_span + 1
            n_series = arguments.limit(k_limit + 1).count()
            truncated = n_series > k_limit
        if n_series * id_span > max_dense_cells:
            n_ids = ids.distinct().count()
            if truncated:
                # the probe undercounted on purpose; the exact test
                # needs the true series count
                n_series = arguments.count()
            if n_series * n_ids > max_dense_cells:
                if use_cache:
                    base.unpersist()
                raise ValueError(
                    f"get_update_history dense grid would be "
                    f"{n_ids} time points x {n_series} series = "
                    f"{n_series * n_ids} cells, above the "
                    f"max_dense_cells cap ({max_dense_cells}). Use "
                    f"get_update_history_chunked (splits the id "
                    f"window into sub-windows, each seeded by its "
                    f"own start state — results concatenate "
                    f"exactly), request fewer series per call, or "
                    f"pass max_dense_cells=None if the cluster is "
                    f"sized for the full matrix."
                )
    placeholders = ids.crossJoin(
        F.broadcast(arguments.select(*SERIES_KEY))
    ).select(
        *SERIES_KEY,
        "instance_message_id",
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("long").alias("__it"),
    )
    dense_in = (
        start_state.withColumn("__it", F.lit(-1).cast("long"))
        .unionByName(raw_updates)
        .unionByName(placeholders)
    )
    # ONE exchange hash-partitioned by the series key carries the
    # aggregation AND the LOCF window: HashPartitioning(series)
    # satisfies the agg's (series, id) clustering, and the fill window
    # partitions by series anyway. Per-series parallelism is already
    # the fill's (and the reference matrix's) inherent bound, so the
    # subset partitioning costs nothing at scale that the LOCF did not
    # already cost.
    # The max_by ordering is a SCALAR long, not a (is-real, iteration)
    # struct: a struct-typed aggregation buffer is not hash-aggregatable
    # and forced this — the widest aggregation in the plan (updates +
    # one placeholder per grid cell) — into a SortAggregate pair with
    # its pre-aggregation sort over ~2× the grid's rows. Encoding: a
    # null-valued row (placeholder, or an update carrying NULL) gets a
    # NULL ordering, which max_by skips entirely, so ANY real row beats
    # every null-valued row (the old `real` flag); among real rows the
    # iteration decides, with a NULL iteration coalesced to Long.MIN so
    # it loses to every real iteration (the old null-first struct
    # order). Cells with no real row aggregate to NULL and LOCF-fill
    # below, exactly as before. Verified value-identical against the
    # struct form and the DuckDB oracle; plan now HashAggregate +
    # whole-stage codegen.
    dense = (
        dense_in.repartition(*SERIES_KEY)
        .groupBy(*SERIES_KEY, "instance_message_id")
        .agg(
            F.max_by(
                "value",
                F.when(
                    F.col("value").isNotNull(),
                    F.coalesce(F.col("__it"), F.lit(-(1 << 63))),
                ),
            ).alias("value")
        )
    )
    filled = locf(dense, SERIES_KEY, "instance_message_id")

    # Per-series user filters are applied to the FILLED matrix (the
    # reference AND-chains them over the pivoted result,
    # SQL/GetUpdateHistory.sql:221-233): a time point survives only if
    # every filtered series satisfies its predicate there.
    if arg_rows is not None:
        flt_rows = [
            {"uevol_field_id": f, "src_id": s, "dst_id": d, "filter": x}
            for (f, s, d, x) in arg_rows
            if x
        ]
    else:
        flt_rows = [
            r
            for r in arguments.select(*SERIES_KEY, "filter").collect()
            if r["filter"]
        ]
    if flt_rows:
        if len(flt_rows) <= _MAX_FILTER_CHAIN:
            # Few filtered series: a join-free AND chain of
            # (not-this-series | predicate) terms — zero extra plan
            # nodes beyond the expression itself.
            keep = None
            for r in flt_rows:
                series_match = (
                    (F.col("uevol_field_id") == r["uevol_field_id"])
                    & (F.col("src_id") == r["src_id"])
                    & (F.col("dst_id") == r["dst_id"])
                )
                # NULL predicate = fail, like a SQL WHERE (pre-start rows)
                ok = ~series_match | F.coalesce(
                    compile_filter(r["filter"], "value"), F.lit(False)
                )
                keep = ok if keep is None else (keep & ok)
        else:
            # Many filtered series: the chain evaluates EVERY filtered
            # series' key-match on EVERY row — O(rows × filtered
            # series) and an expression tree Catalyst/codegen chokes on
            # near ~1000 terms — while row-level semantics only need
            # the row's OWN filter. Broadcast-join each row to its
            # series' filter string (narrow: key + string, driver-
            # known) and dispatch on the DISTINCT filter strings —
            # typically a handful even when thousands of series carry
            # one. Same semantics: keep(row) = own predicate if
            # filtered else true; the min-over-time-point below is
            # unchanged.
            spark = filled.sparkSession
            fdf = F.broadcast(
                spark.createDataFrame(
                    [
                        (
                            r["uevol_field_id"],
                            r["src_id"],
                            r["dst_id"],
                            r["filter"],
                        )
                        for r in flt_rows
                    ],
                    "uevol_field_id int, src_id int, dst_id int, __flt string",
                )
            )
            filled = filled.join(fdf, SERIES_KEY, "left")
            keep = F.when(F.col("__flt").isNull(), F.lit(True))
            for fx in sorted({r["filter"] for r in flt_rows}):
                keep = keep.when(
                    F.col("__flt") == F.lit(fx),
                    F.coalesce(compile_filter(fx, "value"), F.lit(False)),
                )
            keep = keep.otherwise(F.lit(False))
        # A time point survives only if EVERY filtered series passes:
        # min(ok) over a window partitioned by the time point, instead
        # of an aggregate + broadcast-semi-join back — the window is
        # one exchange on the same matrix; the join shape would scan
        # `filled` twice (once to build the broadcast) plus a build
        # barrier. The window partition width is exactly the series
        # count per time point — uniform by construction (the grid is
        # dense), so it cannot skew.
        w_id = Window.partitionBy("instance_message_id")
        filled = (
            filled.withColumn(
                "__all_ok", F.min(keep.cast("int")).over(w_id)
            )
            .filter(F.col("__all_ok") == 1)
            .drop("__all_ok", "__flt")
        )

    if not pivot:
        if not sort_output:
            # chunked composition: each chunk's global presentation
            # sort would be discarded by the union — sort once there
            return filled
        return filled.orderBy(*SERIES_KEY, "instance_message_id")

    # Presentation pivot: column names follow the reference's
    # id{f}_src{s}_dst{d} synthesis (SQL/GetUpdateHistory.sql:36,129).
    # Bounded series count only — the wide matrix is the reference's
    # own scalability ceiling.
    keyed = filled.withColumn(
        "__series",
        F.format_string(
            "id%d_src%d_dst%d",
            F.col("uevol_field_id"),
            F.col("src_id"),
            F.col("dst_id"),
        ),
    )
    if arg_rows is not None:
        series_names = sorted(
            {f"id{f}_src{s}_dst{d}" for (f, s, d, _x) in arg_rows}
        )
    else:
        series_names = sorted(
            f"id{r['uevol_field_id']}_src{r['src_id']}_dst{r['dst_id']}"
            for r in arguments.select(*SERIES_KEY).distinct().collect()
        )
    return (
        keyed.groupBy("instance_message_id")
        .pivot("__series", series_names)
        .agg(F.first("value"))
        .orderBy("instance_message_id")
    )


def _chunk_seeds(
    in_window: DataFrame,
    scalar_start: DataFrame,
    bounds: list[int],
) -> DataFrame:
    """Every interior chunk's start state in ONE pass over the
    restricted log: bucket each (non-null-value) update into the
    chunk it falls in — update id u lands in chunk j iff
    bounds[j] < u <= bounds[j+1], computed as the count of interior
    boundaries strictly below u (exact under the uneven integer
    chunk split, unlike a closed-form division) — argmax each
    (series, chunk) bucket by (id, iteration), then carry the latest
    value across empty chunks with a running last(ignorenulls) over
    chunk index. Returns a CACHED (series, __chunk, value) table:
    row (s, j, v) is the TRUE any-path LOCF carry at bounds[j+1] —
    chunk j+1 seeds from __chunk == j. Cost is one job and
    n_series × n_chunks tiny rows however many chunks there are
    (the per-chunk prefix rescans this replaces scanned
    O(n_chunks²/2) log rows). The cache is LRU-evictable helper
    state, reclaimed by the session-hygiene sweep like args_df's."""
    n_chunks = len(bounds) - 1
    boundary_arr = F.array(*[F.lit(b) for b in bounds[1:]])
    per_chunk = (
        in_window.withColumn(
            "__chunk",
            F.size(
                F.filter(
                    boundary_arr,
                    lambda x: x < F.col("instance_message_id"),
                )
            ),
        )
        .groupBy(*SERIES_KEY, "__chunk")
        .agg(
            F.max_by(
                F.col("new_value").cast("double"),
                F.struct(
                    F.col("instance_message_id"),
                    F.col("iteration").cast("long"),
                ),
            ).alias("__v")
        )
    )
    chunks_df = (
        in_window.sparkSession.range(n_chunks)
        .select(F.col("id").cast("int").alias("__chunk"))
    )
    # n_chunks-row broadcast fan-out: every series needs a carry row
    # at every boundary even when the chunk has no updates (LOCF
    # carries across them) — same sanctioned tiny-broadcast
    # crossJoin shape as the dense grid itself
    grid = scalar_start.crossJoin(F.broadcast(chunks_df))
    w = (
        Window.partitionBy(*SERIES_KEY)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_chunk, [*SERIES_KEY, "__chunk"], "left")
        .withColumn("__carry", F.last("__v", ignorenulls=True).over(w))
        .select(
            *SERIES_KEY,
            "__chunk",
            F.coalesce("__carry", "value").alias("value"),
        )
        .cache()
    )


def get_update_history_chunked(
    instance_field: DataFrame,
    arguments: Arguments | DataFrame,
    start_instance_message_id: int,
    end_instance_message_id: int,
    n_chunks: int | None = None,
    default_value: float = -1.0,
    use_cache: bool = False,
    max_dense_cells: int | None = 100_000_000,
    sort_output: bool = True,
) -> DataFrame:
    """The documented escape hatch for get_update_history's
    max_dense_cells guard, as an actual API: split the [start, end]
    id window into `n_chunks` contiguous sub-windows, run each with
    its own start state, and concatenate — EXACTLY the unchunked long
    result (pinned by test_update_history_chunked_exact, including
    multi-relative-path series), with the dense grid never wider than
    one chunk at a time.

    Why concatenation is exact: chunk 0 seeds from _scalar_state at
    `start` — the same min-path scalar the unchunked call (and the
    reference's GetMultipleFieldsHistory hand-off,
    SQL/GetUpdateHistory.sql:29) uses. Every LATER chunk seeds each
    series with the full matrix's TRUE LOCF carry at its boundary:
    the max-(id, iteration) update value in (start, b_i] across ALL
    relative_paths — the reference's interior loop overwrites from
    the unfiltered update stream (SQL/GetUpdateHistory.sql:104-110),
    so an interior re-seed through the min-path scalar would diverge
    for multi-path series — falling back to the start scalar for
    series with no update yet. With that seed, chunk i's grid rows at
    ids in (b_i, b_{i+1}] equal the full matrix's (LOCF is Markovian
    in the carried value), and the only surplus rows are each later
    chunk's injected start row at b_i, which either duplicates chunk
    i-1's grid row there or corresponds to no full-grid point —
    dropped unconditionally. Per-series filters gate each time point
    independently, so they are chunk-local too.

    `n_chunks=None` (the default) AUTO-SIZES: chunks = ceil(driver-
    known cell bound / max_dense_cells), so the one-line migration
    from a guard ValueError is "call the chunked variant" — no manual
    iteration on chunk counts. The bound uses the resolved series
    count (driver-known arg lists are free; DataFrame/wildcard args
    pay one count job — this path exists because the grid is huge, so
    one bounded job is noise). `max_dense_cells` still forwards to
    every chunk: even a mis-sized explicit n_chunks RAISES instead of
    rebuilding the memory-breaking matrix the guard exists to prevent.
    Long format only (the pivot is presentation; pivot the
    concatenated result if needed).
    `use_cache` defaults to False here, unlike the single-shot call:
    each chunk caches a scan up to its own end id, and n_chunks
    overlapping caches would hold roughly n_chunks/2 copies of the
    log — the chunked path exists precisely because memory is tight.
    Interior seeds are SINGLE-PASS: one scan of the restricted log
    buckets every update into its chunk, a per-(series, chunk) argmax
    compresses each bucket to at most one row, and a running
    last(ignorenulls) over chunk index carries values across empty
    chunks — the whole n_chunks × series seed table costs ONE bounded
    job (cached, a few columns per series per chunk), regardless of
    n_chunks (the round-7 per-chunk prefix rescans were
    O(n_chunks²/2) scanned rows; pinned by
    test_chunk_seeds_single_pass)."""
    if n_chunks is not None and n_chunks < 1:
        raise ValueError("n_chunks must be >= 1")
    if max_dense_cells is not None and max_dense_cells < 1:
        raise ValueError("max_dense_cells must be >= 1, or None")
    span = end_instance_message_id - start_instance_message_id
    if span < 0:
        raise ValueError("end must be >= start")
    if span == 0:  # degenerate window: nothing to chunk
        return get_update_history(
            instance_field,
            arguments,
            start_instance_message_id,
            end_instance_message_id,
            pivot=False,
            default_value=default_value,
            use_cache=use_cache,
            max_dense_cells=max_dense_cells,
            sort_output=sort_output,
        )

    # shared ingredients for the interior seeds (and auto-sizing).
    # DataFrame/wildcard args get CACHED: args_df is lazy, so without
    # it every chunk plan plus every seed would re-execute the
    # expansion join and its probe jobs; the cache is narrow (series
    # keys + filter strings) and LRU-evictable — the gate/bench
    # hygiene sweep reclaims it like every other helper cache
    args = _resolve_args(arguments, instance_field)
    if args.rows is None:
        args = replace(args, df=args.df.cache())
    args_df, arg_rows = args.df, args.rows
    restricted = args.restrict(instance_field)
    if n_chunks is None:
        if max_dense_cells is None:
            n_chunks = 1
        else:
            # size so each CHUNK's driver-known bound fits the cap:
            # a chunk spanning w ids bounds at (w + 1) × series (the
            # +1 is its injected boundary-seed id), so solve
            # (ceil(span / n) + 1) × S <= cap for n — sizing from
            # the WHOLE window's bound under-chunks by exactly that
            # per-chunk seed id and re-raises the guard on dense logs
            n_series = max(
                len(arg_rows) if arg_rows is not None else args_df.count(),
                1,
            )
            per_chunk_ids = max(max_dense_cells // n_series - 1, 1)
            n_chunks = max(1, -(-span // per_chunk_ids))
            # if cap < 2×series even 1-id chunks exceed it: fall
            # through and let the per-chunk guard raise its
            # informative error (chunking cannot help — each grid
            # row already costs `series` cells)
    n_chunks = min(n_chunks, span)
    bounds = [
        start_instance_message_id + span * i // n_chunks
        for i in range(n_chunks + 1)
    ]
    scalar_start = _scalar_state(
        restricted, args_df, start_instance_message_id, default_value
    )
    # NULL new_value rows never become a carried value: the full
    # matrix's dense agg prefers real rows at each id and LOCF fills
    # null grid cells from the previous real value, so the carry is
    # the last NON-NULL update by (id, iteration) — a null row with a
    # higher iteration must not shadow it here either
    in_window = restricted.filter(
        (F.col("instance_message_id") > F.lit(start_instance_message_id))
        & F.col("new_value").isNotNull()
    )

    seeds = (
        _chunk_seeds(in_window, scalar_start, bounds)
        if n_chunks > 1
        else None
    )
    out = None
    for i in range(n_chunks):
        if i == 0:
            seed = None  # the unchunked call's own start scalar
        else:
            seed = seeds.filter(F.col("__chunk") == i - 1).drop("__chunk")
        piece = get_update_history(
            instance_field,
            args,  # resolved once: no per-chunk probe or expansion
            bounds[i],
            bounds[i + 1],
            pivot=False,
            default_value=default_value,
            use_cache=use_cache,
            max_dense_cells=max_dense_cells,
            start_state=seed,
            sort_output=False,
        )
        if i > 0:
            piece = piece.filter(
                F.col("instance_message_id") != F.lit(bounds[i])
            )
        out = piece if out is None else out.unionByName(piece)
    if not sort_output:
        # grid-sized result: let the caller pick its presentation
        # (same seam as get_update_history's — a global sort here is a
        # range shuffle over the full matrix)
        return out
    return out.orderBy(*SERIES_KEY, "instance_message_id")


def backup(
    instance_field: DataFrame,
    instance_message: DataFrame,
    log_time_limit: int,
) -> DataFrame:
    """Compaction: keep all deltas after a wall-clock limit plus the
    single latest older delta per series, so reconstruction before the
    limit stays possible (reference: Backup.java:30-61; the per-field
    struct UDF at Backup.java:76-93 is the correlated-lookup
    anti-pattern, replaced by one window argmax).

    The reference collects recent field ids to the driver and uses
    NOT IN (Backup.java:48-51); at scale that's the left_anti join
    used here.

    The time->id cut is resolved to a driver-side scalar on purpose:
    as a literal it pushes down to the parquet scans of BOTH branches
    (and prunes partitions in an id/time-partitioned layout), where an
    in-plan joined column cannot. One tiny aggregate job buys two
    pruned scans — the same trade the reference's snapshot selection
    makes (SQL/GetMessage.sql:63-88).
    """
    row = (
        instance_message.filter(F.col("log_time") >= F.lit(log_time_limit))
        .agg(F.min("id").alias("cut"))
        .collect()[0]
    )
    cut = row["cut"]
    if cut is None:
        # nothing is recent: the whole log compacts to latest-per-series
        return latest_per_key(
            instance_field, SERIES_KEY + ["relative_path"],
            "instance_message_id", TIEBREAK,
        )
    recent = instance_field.filter(F.col("instance_message_id") >= F.lit(cut))
    older = instance_field.filter(F.col("instance_message_id") < F.lit(cut))
    older_latest = latest_per_key(
        older, SERIES_KEY + ["relative_path"], "instance_message_id", TIEBREAK
    )
    return recent.unionByName(older_latest)
