"""Structured-Streaming "online mode".

The reference distinguishes live vs playback only as a data-model
concept: a `replay` flag swaps to `*_replay` tables
(reference: SQL/GetMessage.sql:17-23) and catalog rows carry
`online_activated`/`playback_activated` flags
(Java/.../DataLoader.java:225-226) — every query is still batch.

Here "online" is a real Structured Stream over the same change-log
schema: the batch queries' central operator (latest value per series)
becomes a stateful streaming aggregation, so the same engine serves
both modes (SURVEY.md §2.10's stated opportunity).

Design: `max_by(value, clock)` under `groupBy(series)` in update
mode. State per series is one (clock, value) pair — bounded by series
cardinality, not stream length. Event-time watermarking bounds the
windowed variant's state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.loader import read_parquet


def latest_value_stream(
    stream: DataFrame,
    series_cols: list[str],
    order_col: str = "instance_message_id",
    value_col: str = "new_value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Maintain the current value per series over a stream of updates.

    Use with outputMode("update") (or "complete"): each microbatch
    emits the changed series rows.

    `tiebreak_col` resolves equal-`order_col` updates exactly like the
    batch `latest_per_key` tiebreak (domain: iteration,
    DataLoader.java:65) — without it, duplicate clocks resolve
    arbitrarily and online/batch modes can disagree.
    """
    ordk = (
        F.struct(F.col(order_col), F.col(tiebreak_col))
        if tiebreak_col
        else F.col(order_col)
    )
    return stream.groupBy(*series_cols).agg(
        F.max(order_col).alias("last_update_id"),
        F.max_by(value_col, ordk).alias("current_value"),
    )


CHANGE_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("uevol_field_id", T.IntegerType()),
        T.StructField("current_value", T.LongType()),
        T.StructField("n_updates_total", T.LongType()),
        T.StructField("last_update_id", T.LongType()),
    ]
)
# State schema is selected PER CALL: the no-TTL path keeps the
# original 4-long layout so existing no-TTL checkpoints stay
# resumable; enabling ttl appends last_ts — the max event time
# (epoch ms) ever seen for the key, so an out-of-order batch of
# OLDER rows can never move the TTL timeout earlier
_STATE_SCHEMA_BASE = "value long, n long, last_id long, last_tb long"
_STATE_SCHEMA_TTL = _STATE_SCHEMA_BASE + ", last_ts long"
# NULL tiebreaks sort below every real value (batch desc/NULLS LAST)
_NULL_TIEBREAK = -(1 << 62)


def stateful_latest_value(
    stream: DataFrame,
    key_col: str = "uevol_field_id",
    order_col: str = "instance_message_id",
    value_col: str = "new_value",
    tiebreak_col: str | None = None,
    ttl: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-series
    (current value, total update count, last update id), maintained
    across microbatches.

    This is the op the built-in `max_by` aggregation can't express —
    the cumulative n_updates_total requires explicit state carried
    between batches. State per key is 4 longs (value, count, last id,
    last tiebreak); enabling `ttl` appends a 5th (max event time
    seen, the TTL timeout base). The schema is selected per call so
    no-TTL checkpoints written before TTL existed stay resumable
    (pinned by test_no_ttl_checkpoint_resumes_across_builds); the
    corollary is that TOGGLING `ttl` on an existing checkpoint
    changes the state schema and Spark's state-store schema check
    rejects the resume (an incompatible-schema error naming the old
    and new state types — pinned by
    test_ttl_toggle_on_old_checkpoint_fails_loudly). Restart from a
    fresh checkpoint when enabling or disabling ttl. With the default
    `ttl=None` state lives forever (NoTimeout — correct for the
    reference's BOUNDED catalog of series). For unbounded/churning
    key domains — the 100 TB stream case — pass `ttl` (e.g.
    "2 hours"): a series idle longer than `ttl` of EVENT time has its
    state evicted via GroupStateTimeout.EventTimeTimeout, so state is
    bounded by keys active inside the horizon, not by lifetime key
    cardinality. Eviction is silent (no tombstone row); a later
    update re-creates the series fresh, so n_updates_total restarts —
    the deliberate trade, mirroring dedup_stream's
    dropDuplicatesWithinWatermark contract, and the downstream batch
    argmax remains the total-order source of truth. `ttl` requires
    the stream to carry a watermark on `ts_col` (eviction fires when
    the watermark passes last-seen event time + ttl).

    Equal-`order_col` updates compare on (order_col, tiebreak_col) —
    the same total order as the batch `latest_per_key` — so a
    duplicate clock cannot make online state diverge from a batch
    replay. Without `tiebreak_col` the tiebreak is 0 for every row
    and the >= compare keeps the last row of the batch-local sort
    (exactly the old behavior, defined only when clocks are unique).

    Known batch/online divergence: rows with a NULL `order_col` are
    dropped here (they cannot take a position in the total order, and
    int(NaN) would kill the executor), so a key whose rows ALL lack
    the clock emits nothing online, while the batch `latest_per_key`
    (desc sort, NULLS LAST) still emits that key with its arbitrary
    null-clock row. Feeds whose clock column is nullable should
    filter or default it upstream if that key set matters.
    """
    ttl_ms = None
    tz = None
    if ttl is not None:
        try:
            ttl_ms = int(pd.Timedelta(ttl).total_seconds() * 1000)
        except ValueError as exc:
            raise ValueError(
                f"ttl must be a duration like '30 minutes', got {ttl!r}"
            ) from exc
        if ttl_ms <= 0:
            raise ValueError(f"ttl must be positive, got {ttl!r}")
        # fail FAST on a missing or mistyped event-time column: the
        # canonical change-log clock is epoch-ms LONG, and a long
        # passed here would reach pd.Timestamp(int) below as
        # NANOSECONDS — last_ts collapses to ~0 and every key is
        # silently evicted at its next idle micro-batch instead of
        # after ttl; a missing column only surfaces as an executor
        # KeyError. Both are build-time errors, like the tz check.
        dtypes = dict(stream.dtypes)
        if ts_col not in dtypes:
            raise ValueError(
                f"ttl requires event-time column {ts_col!r}, not in "
                f"stream columns {stream.columns}"
            )
        if dtypes[ts_col] != "timestamp":
            raise ValueError(
                f"ttl requires {ts_col!r} to be TimestampType, got "
                f"{dtypes[ts_col]!r} — convert the canonical epoch-ms "
                f"long clock with F.timestamp_millis() first"
            )
        # applyInPandasWithState hands pandas tz-NAIVE timestamps
        # rendered in the session timezone; capture it at build time
        # so the epoch-ms conversion below is exact in any session,
        # not just UTC — and fail FAST here if pandas cannot resolve
        # the session zone (e.g. Spark-legal 'GMT+8'), instead of
        # crashing executors later
        tz = stream.sparkSession.conf.get(
            "spark.sql.session.timeZone", "UTC"
        )
        try:
            pd.Timestamp("2000-01-02 03:04:05").tz_localize(tz)
        except Exception as exc:
            raise ValueError(
                f"session timezone {tz!r} is not resolvable by pandas; "
                f"set spark.sql.session.timeZone to an IANA zone "
                f"(e.g. 'UTC', 'America/New_York') to use ttl"
            ) from exc

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            # idle past the event-time TTL: evict silently — the
            # series re-creates fresh on its next update
            state.remove()
            return
        existed = state.exists
        last_ts = 0
        if existed:
            if ttl_ms is not None:
                value, n, last_id, last_tb, last_ts = state.get
            else:
                value, n, last_id, last_tb = state.get
        else:
            value, n, last_id, last_tb = None, 0, -1, -1
        processed = False
        for pdf in pdfs:
            # rows without an order clock cannot participate in the
            # total order (and int(NaN) would kill the executor)
            pdf = pdf.dropna(subset=[order_col])
            if not len(pdf):
                continue
            processed = True
            if tiebreak_col:
                # a NULL tiebreak is SMALLEST — the batch
                # latest_per_key orders desc (NULLS LAST), so a null
                # tiebreak loses to every real one; pandas' NaN-sorts-
                # last default would instead let it WIN the intra-
                # batch sort and diverge online from batch
                pdf = pdf.assign(
                    __tb=pdf[tiebreak_col].fillna(_NULL_TIEBREAK)
                ).sort_values([order_col, "__tb"], kind="stable")
            else:
                pdf = pdf.sort_values([order_col], kind="stable")
            n += len(pdf)
            newest = pdf.iloc[-1]
            tb = (
                int(newest["__tb"]) if tiebreak_col else 0
            )
            if (int(newest[order_col]), tb) >= (last_id, last_tb):
                last_id = int(newest[order_col])
                last_tb = tb
                v = newest[value_col]
                # a NULL new_value winning the order is stored as NULL
                # (the batch max_by does the same), never int(NaN)
                value = int(v) if pd.notna(v) else None
            if ttl_ms is not None:
                # NULL event times produce NaT; they must not poison
                # the timeout base (NaT.value is -2^63). DST edges on
                # non-UTC sessions resolve deterministically
                # (ambiguous -> first occurrence, nonexistent ->
                # shifted forward) — worst case the timeout drifts by
                # the DST offset, never a crash
                batch_max = pdf[ts_col].dropna().max()
                if not pd.isna(batch_max):
                    ts_ms = int(
                        pd.Timestamp(batch_max)
                        .tz_localize(
                            tz, ambiguous=True, nonexistent="shift_forward"
                        )
                        .value
                        // 1_000_000
                    )
                    # monotone: an out-of-order batch of OLDER rows
                    # never moves the timeout earlier
                    last_ts = max(last_ts, ts_ms)
        if not processed and not existed:
            # every row lacked an order clock and there is no prior
            # state: creating one would emit a phantom (n=0, id=-1)
            # row AND permanently occupy a state entry per garbage key
            return
        if ttl_ms is not None:
            state.update((value, n, last_id, last_tb, last_ts))
        else:
            state.update((value, n, last_id, last_tb))
        if ttl_ms is not None:
            # ALWAYS arm — a key must never sit in state unmonitored.
            wm = state.getCurrentWatermarkMs()
            if last_ts > 0:
                # event-time horizon; the wm+1 clamp satisfies the
                # API's above-watermark rule when only late-but-valid
                # rows arrived (the horizon already passed — fire
                # next batch)
                state.setTimeoutTimestamp(max(last_ts + ttl_ms, wm + 1))
            else:
                # no usable event time ever seen: give the FULL ttl
                # grace on the watermark clock as of this batch (wm+1
                # here would evict on the very next tick; wm is never
                # negative, so cold start arms at epoch+ttl — best
                # effort for a key with no defined horizon, which
                # then ages out once a watermark develops rather than
                # leaking forever)
                state.setTimeoutTimestamp(wm + ttl_ms)
        if not processed:
            # existing key invoked with only clock-less rows: state
            # kept alive (and re-armed) but nothing changed to emit
            return
        yield pd.DataFrame(
            {
                "uevol_field_id": [key[0]],
                "current_value": [value],
                "n_updates_total": [n],
                "last_update_id": [last_id],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=CHANGE_COUNT_SCHEMA,
        stateStructType=(
            _STATE_SCHEMA_TTL if ttl is not None else _STATE_SCHEMA_BASE
        ),
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Late-data-tolerant windowed counts/sums over the event stream
    (append mode compatible thanks to the watermark)."""
    wm = stream.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return wm.groupBy(win, key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: the streaming fact joins a
    BATCH dimension table. Spark plans stream-static joins stateless
    (each microbatch joins the current dim snapshot — no state store),
    and a small dim is broadcast so the stream never shuffles for the
    join. This is the streaming twin of the batch fact⋈dim pattern
    (SURVEY.md J1; reference joins catalog tables the same way,
    Java/.../RetrieveField.java's uevol_field lookups) — at 100 TB of
    stream the dim stays O(catalog) and rides along each executor."""
    return stream.join(F.broadcast(dim), on, how)


def sessionize_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Streaming sessionization: group events into per-key sessions
    separated by more than `gap` of event-time silence, via the
    built-in `session_window` (merging-window state store — state per
    OPEN session, closed sessions are emitted and dropped once the
    watermark passes, so state is bounded by concurrent activity, not
    stream length).

    Boundary contract: `session_window(gap=G)` merges two events iff
    their gap is `<= G` — touching ranges count as overlapping (pinned
    by `test_sessionize_stream_boundary`). That is exactly the batch
    `sessionization` rule `split iff diff > G`, so the SAME gap value
    gates stream ≡ batch with no off-by-one adjustment.

    `ts_col` must be TimestampType (convert long-nanos change-log
    clocks with `F.timestamp_millis(ts DIV 1_000_000)` first — ms
    truncation on BOTH modes, so neither sees sub-ms gaps the other
    doesn't). Pass watermark=None only for availableNow replays that
    emit in complete mode.
    """
    key_cols = key_cols or ["user_id"]
    wm = stream.withWatermark(ts_col, watermark) if watermark else stream
    return wm.groupBy(F.session_window(ts_col, gap), *key_cols).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("first_event"),
        F.max(ts_col).alias("last_event"),
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each left event joined to
    right events with the same key inside [left_ts, left_ts + horizon]
    (inclusive) — the attribution/correlation shape (click -> purchase,
    command -> acknowledgement).

    The time-range condition plus both watermarks lets Spark derive
    state eviction: a buffered left row is dropped once the right
    watermark passes left_ts + horizon, so state is bounded by traffic
    within the horizon, not stream length. Column names must be
    disjoint across the two inputs (rename before calling); inner-join
    matches emit immediately — the watermark only bounds state, it
    does not delay output.

    ``how="left_outer"`` additionally emits each never-matched left
    row once, null-padded, when the join can PROVE no future right row
    can match it; ``how="full_outer"`` adds the symmetric right-side
    fate, whose measured eviction point is the right row's OWN
    timestamp (emits iff ``r[right_ts] < watermark`` strictly, since
    a matching left must satisfy ``left_ts <= right_ts`` — pinned by
    tests/test_streaming.py::test_full_outer_right_null_boundary).
    Measured semantics on this Spark (pinned by
    tests/test_streaming.py::test_outer_join_null_emission_*):

    - the global watermark is the MIN over both inputs of
      (max event time seen − that input's delay) — a quiet right
      stream holds back left-side null emission and vice versa;
    - a null row for left L emits only when
      ``L[left_ts] + horizon < watermark`` STRICTLY — eviction
      exactly at the watermark does not emit;
    - matched rows are never delayed and never re-emitted as null.

    State for both sides is bounded by the horizon + delay window, so
    an unbounded 100 TB feed holds only the last few hours of rows.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {horizon}"))
    )
    return lw.join(rw, cond, how)


def foreach_batch_upsert_sink(path: str):
    """foreachBatch writer with exactly-once-on-retry semantics: each
    micro-batch writes its rows to its own `batch_id=N` directory in
    OVERWRITE mode, so a batch replayed after a failure (Structured
    Streaming is at-least-once into foreachBatch) rewrites the same
    directory instead of appending duplicates — the standard
    idempotent-by-batch-id pattern, here as the durable parquet twin
    of the memory-sink queries. Pair with read_upsert_sink to recover
    final state; keep ONE writer per path (concurrent writers would
    collide on batch ids)."""

    def _write(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return _write


def read_upsert_sink(spark, path: str, key_cols: list[str]) -> DataFrame:
    """Final state from a foreach_batch_upsert_sink directory: for
    update-mode aggregations each batch emits only CHANGED keys, so
    the current row per key is the one from its largest batch_id
    (discovered as a partition column — directory pruning applies to
    point lookups). One window over key, no shuffle beyond it."""
    from pyspark.sql import Window

    df = read_parquet(spark, path)
    w = Window.partitionBy(*key_cols).orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch_id")
    )


def foreach_batch_merge_sink(
    path: str,
    key_cols: list[str],
    seq_col: str,
    payload_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
):
    """foreachBatch CONTINUOUS MERGE: each micro-batch of changes is
    applied to the running snapshot with operators/merge.apply_changes
    (latest change per key wins, tombstones delete), and the new
    snapshot is written whole to its own `snap_{batch_id}` directory.

    Exactly-once on retry by construction: a replayed batch re-reads
    its PREDECESSOR's snapshot (the largest snap_N with N < batch_id
    — never its own possibly-half-written output) and overwrites its
    own directory, so at-least-once delivery into foreachBatch still
    yields the once-applied result. Iterated per-batch merge equals
    one global merge because latest-change-wins composes: the final
    value per key is decided by the globally largest `seq_col` change
    regardless of how the feed was batched (delete-then-insert
    re-inserts, insert-then-delete deletes — the graded twin pins
    this against the single-pass batch oracle).

    Scale honesty: rewriting the full snapshot per batch is the
    correct-but-naive durable form — at 100 TB the snapshot side
    stays put (bucketed by the merge keys, the single-exchange plan
    test_merge_apply_bucketed_base_single_exchange pins) and only
    touched partitions/files are rewritten (the lakehouse MERGE
    refinement); the per-batch COMPUTE here already has that shape —
    the incremental cost is one minimized-changes join, not a
    re-aggregation of history. Seed `snap_-1` with the initial base
    snapshot before starting the stream; keep ONE writer per path."""
    def _latest_snap_below(spark, batch_id: int):
        snaps = [n for n in _committed_snaps(path, spark) if n < batch_id]
        if not snaps:
            return None
        return read_parquet(spark, f"{path}/snap_{max(snaps)}")

    def _write(batch_df, batch_id: int) -> None:
        from ..operators.merge import apply_changes

        spark = batch_df.sparkSession
        prev = _latest_snap_below(spark, batch_id)
        if prev is None:
            # no seed snapshot: start from an empty base with the
            # output schema (keys + seq + payload)
            prev = batch_df.select(
                *key_cols, seq_col, *payload_cols
            ).limit(0)
        merged = apply_changes(
            prev,
            batch_df,
            key_cols,
            seq_col,
            payload_cols,
            op_col=op_col,
            delete_op=delete_op,
        )
        merged.write.mode("overwrite").parquet(
            f"{path}/snap_{batch_id}"
        )

    return _write


def _committed_snaps(path: str, spark=None) -> list[int]:
    """Batch ids of COMMITTED snapshots: only snap_N directories
    carrying Spark's _SUCCESS marker count — a writer that died
    mid-overwrite leaves no marker, so readers (and a retrying batch
    looking for its predecessor) never see the torn snapshot; the
    stream's replay of that batch rewrites it.  Listing goes through
    the Hadoop FileSystem API when a session is at hand (any storage
    the session reaches — on S3/HDFS an os.path scan would silently
    report no snapshots); the os fallback serves the rare
    session-less caller on local paths."""
    if spark is not None:
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        snaps = []
        if fs.exists(root):
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if not name.startswith("snap_"):
                    continue
                try:
                    n = int(name.rsplit("snap_", 1)[1])
                except ValueError:
                    continue
                if fs.exists(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{path}/snap_{n}/_SUCCESS"
                    )
                ):
                    snaps.append(n)
        return snaps
    import glob as _glob
    import os as _os

    snaps = []
    for d in _glob.glob(f"{path}/snap_*"):
        try:
            n = int(d.rsplit("snap_", 1)[1])
        except ValueError:
            continue
        if _os.path.exists(f"{d}/_SUCCESS"):
            snaps.append(n)
    return snaps


def read_merge_sink(spark, path: str, version: int | None = None) -> DataFrame:
    """Snapshot from a foreach_batch_merge_sink directory: by default
    the largest committed snap_N (state after the last applied
    batch); pass `version` to time-travel to the state as of that
    batch id — the snap chain doubles as a coarse snapshot history
    until compacted away."""
    snaps = _committed_snaps(path, spark)
    if version is not None:
        snaps = [n for n in snaps if n <= version]
    if not snaps:
        raise FileNotFoundError(
            f"no committed snap_* snapshots under {path}"
            + (f" at or below version {version}" if version is not None else "")
        )
    return read_parquet(spark, f"{path}/snap_{max(snaps)}")


def quota_stream(
    stream: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    cap: int,
) -> DataFrame:
    """Streaming per-key admission quota: the first `cap` rows of each
    key pass (tagged with their 1-based `quota_rank`), everything
    after is dropped at ingest — the streaming twin of the batch
    `cap_per_group`/domain-cap operator, enforced with one LONG of
    state per key via applyInPandasWithState (the admitted count;
    once a key is saturated its rows are discarded map-side without
    growing state or output).

    Ordering contract: admission is by arrival; within a micro-batch
    rows are ordered by `order_col` (rows with a null `order_col`
    cannot take a position and are dropped), so when the feed arrives
    `order_col`-nondecreasing per key — a replayed log, a kafka
    partition keyed by the series — the admitted set is exactly "the
    first `cap` rows per key by `order_col`" and a batch row_number
    oracle reproduces it. Under out-of-order arrival the quota is
    still exact (never more than `cap`), but which rows won depends
    on arrival, as any online quota must.

    applyInPandasWithState delivers a key's micro-batch as MULTIPLE
    Arrow chunks (default `spark.sql.execution.arrow.maxRecordsPerBatch`
    = 10k rows), so admission must span chunks — otherwise a key with
    more rows than the chunk size in a single batch would be admitted
    chunk-by-chunk and the within-batch ordering contract above would
    silently break at exactly the scales that matter. To keep memory
    bounded by O(cap + chunk) rather than O(key's micro-batch), each
    chunk is stable-sorted and pruned to its first `cap - n` rows
    BEFORE the cross-chunk concat: a row past position `cap - n` in
    its own chunk's stable order is preceded by >= `cap - n` rows of
    its chunk in the global stable order, so it can never be admitted
    — the pruned prefixes admit exactly the same set (same ties: the
    per-chunk stable sort preserves original order among equal keys,
    and chunks concat in delivery order, so the final stable sort
    tie-breaks identically to sorting the whole batch at once). A
    saturated key skips all of it."""
    from pyspark.sql.types import LongType, StructField, StructType

    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    out_cols = [*key_cols, order_col, *payload_cols]
    out_schema = StructType(
        [stream.schema[c] for c in out_cols]
        + [StructField("quota_rank", LongType())]
    )

    def admit(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        if n < cap:
            # Arrow chunk boundaries must not be admission boundaries,
            # but holding the whole micro-batch is unbounded by cap —
            # prune each chunk to its stable-sorted first `cap - n`
            # rows (a provable superset of the admitted set, same
            # ties; see the docstring's memory note), then do the one
            # cross-chunk sort over O(cap * n_chunks) rows.
            budget = cap - n
            prefixes = [
                c.sort_values([order_col], kind="stable").head(budget)
                for c in (
                    chunk.dropna(subset=[order_col]) for chunk in pdfs
                )
                if len(c)
            ]
            pdf = (
                pd.concat(prefixes, ignore_index=True)
                if prefixes
                else pd.DataFrame(columns=out_cols)
            )
            pdf = pdf.sort_values([order_col], kind="stable")
            take = pdf.iloc[:budget]
            if len(take):
                take = take.assign(
                    quota_rank=range(n + 1, n + 1 + len(take))
                )
                n += len(take)
                yield take[[*out_cols, "quota_rank"]]
        state.update((n,))

    return stream.groupBy(*key_cols).applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType="n_admitted long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def compact_merge_sink(
    path: str, keep_last: int = 2, spark=None
) -> list[int]:
    """Retention for a foreach_batch_merge_sink snap chain: delete all
    committed snapshots except the newest `keep_last` (and every torn,
    marker-less directory older than the newest committed one — a
    torn CURRENT write must survive so its retry can overwrite in
    place). Returns the batch ids removed. Keep at least 2 so the
    current batch's predecessor is always available to a retry; run
    it from the maintenance cycle, not inside the stream.

    Listing, marker checks, and deletion all go through the Hadoop
    FileSystem API (`spark` argument, or the active session when
    omitted) — on S3/HDFS a glob/os.path scan would silently find
    no snapshots and the retention would no-op forever, snapshots
    growing unbounded (the silent-no-op class the _committed_snaps
    port closed for the read path)."""
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: the retrying batch needs its"
            " predecessor snapshot"
        )
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "compact_merge_sink needs a SparkSession (pass "
                "spark=...) — retention routes through the Hadoop "
                "FileSystem API so it works on any storage the "
                "session reaches"
            )
    committed = sorted(_committed_snaps(path, spark))
    keep = set(committed[-keep_last:])
    newest = committed[-1] if committed else None
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    removed = []
    if not fs.exists(root):
        return removed
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("snap_"):
            continue
        try:
            n = int(name.rsplit("snap_", 1)[1])
        except ValueError:
            continue
        torn = not fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{path}/snap_{n}/_SUCCESS")
        )
        if n in keep or (torn and (newest is None or n >= newest)):
            continue
        fs.delete(st.getPath(), True)
        removed.append(n)
    return sorted(removed)


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    exact: bool = False,
) -> DataFrame:
    """Streaming exact-dedup: the first arrival per key wins (the
    streaming counterpart of `operators.dedup.dedup_exact` — dedup a
    document/event feed at ingest instead of as a batch pass).

    Default path is `dropDuplicatesWithinWatermark`: a key's state is
    dropped once the event-time watermark passes it, so state is
    bounded by traffic inside the watermark horizon, not by stream
    lifetime — the only formulation that survives an unbounded 100 TB
    feed. Two occurrences separated by more than the horizon both
    pass; that is the deliberate trade, and downstream batch
    `dedup_exact` mops up the stragglers.

    `exact=True` switches to `dropDuplicates`: exact forever, state
    grows with distinct keys — only for bounded key domains (the
    reference's catalog tables).
    """
    wm = stream.withWatermark(ts_col, watermark)
    if exact:
        return wm.dropDuplicates(key_cols)
    return wm.dropDuplicatesWithinWatermark(key_cols)


def foreach_batch_ivm_sink(
    path: str,
    key_cols: list[str],
    val_col: str,
    mult_col: str = "mult",
):
    """foreachBatch CONTINUOUS statistics maintenance: each
    micro-batch of SIGNED deltas (+1 insert / -1 retraction) is
    folded into the running (keys..., cnt, total) snapshot with
    operators/ivm.merge_agg_deltas and written whole to its own
    `snap_{batch_id}` directory — the additive-monoid twin of
    foreach_batch_merge_sink (latest-wins), sharing its snap-chain
    layout, its _SUCCESS-gated torn-snapshot skip, and therefore
    read_merge_sink / compact_merge_sink unchanged.

    Exactly-once on retry by the same construction: a replayed batch
    re-reads its PREDECESSOR's snapshot and overwrites its own
    directory, so at-least-once delivery still folds each batch once.
    Iterated folding equals the one-shot fold because (+) is
    associative AND the state fold only eliminates the exact (0, 0)
    identity — a transiently inconsistent prefix (correction before
    its insert: cnt 0, total nonzero) survives batching (pinned by
    tests/test_ivm.py::test_transient_zero_count_state_survives_
    batching).  Read the maintained view with read_merge_sink and
    apply the final HAVING (cnt != 0) if the feed may be incomplete.

    Scale: per batch, ONE exchange of the map-side-minimized delta;
    the full-snapshot rewrite is the correct-but-naive durable form —
    same refinement path as the merge sink (bucketed layout: zero
    snapshot exchanges; lakehouse MERGE: partition-level rewrite).
    Seed `snap_-1` with the initial statistics before starting; keep
    ONE writer per path."""
    def _write(batch_df, batch_id: int) -> None:
        from ..operators.ivm import merge_agg_deltas

        spark = batch_df.sparkSession
        snaps = [n for n in _committed_snaps(path, spark) if n < batch_id]
        if snaps:
            prev = read_parquet(spark, f"{path}/snap_{max(snaps)}")
        else:
            prev = (
                batch_df.groupBy(*key_cols)
                .agg(
                    F.lit(0).cast("long").alias("cnt"),
                    F.lit(0).cast("long").alias("total"),
                )
                .limit(0)
            )
        folded = merge_agg_deltas(
            prev, batch_df, key_cols, val_col, mult_col=mult_col
        )
        folded.write.mode("overwrite").parquet(f"{path}/snap_{batch_id}")

    return _write


def foreach_batch_incremental_ingest(
    index_path: str,
    pairs_sink: str,
    incremental_fn,
    pair_cols: tuple[str, str] = ("a", "b"),
):
    """foreachBatch CONTINUOUS INDEX INGEST, family-agnostic core:
    each micro-batch of NEW documents is handed to `incremental_fn
    (spark, batch_df, index_path)` — the family's incremental
    dedup-and-append operator (update_index=True semantics: it must
    both pair the batch against the persisted index AND append the
    batch's index rows) — and the returned pairs land in the batch's
    own `pairs_{batch_id}` directory; batch k+1 then pairs against
    everything through batch k with no rebuild, so the union of the
    pairs directories after the stream drains equals the one-shot
    chained-batch result regardless of how the feed was batched
    (pairs are batching-invariant: a pair is reported by whichever
    batch carries its LATER side, exactly once).

    Replay contract (Structured Streaming is at-least-once into
    foreachBatch): the batch's pairs directory is only rolled over
    to a `done_{batch_id}` marker AFTER both the pairs write and the
    index append committed, and a marked batch short-circuits —
    re-delivery after success is a no-op.  A committed
    compact_ingest_pairs baseline is an equivalent durable low-water
    mark (batch ids are monotone within the sink's one stream, so
    id ≤ baseline ⇒ already committed): batches at or below it
    short-circuit the same way, which is what lets the compaction
    delete their markers instead of accreting one empty directory
    per trigger forever.  The crash window between
    the index append and the marker double-appends the batch's index
    rows on retry, and a duplicated SIGNATURE row would otherwise
    MULTIPLY estimator output (the MinHash estimator joins
    signatures per pair side), so the pairs write de-duplicates on
    `pair_cols` — index-row duplicates are deterministic (same doc,
    same signature), so the surviving row is value-identical and
    every batch's pairs stay exactly-once in content; the
    double-append itself costs index bytes until the periodic
    idempotent rebuild that recovers every index family (pinned for
    BM25 in tests/test_retrieval.py).

    Members whose VERDICTS read the index state they also append
    (the semantic member: survivors land in the kept table the next
    prune scans) carry one extra obligation the pairs-level
    dropDuplicates cannot supply: the replay of a crashed batch must
    recompute the SAME verdicts even though its own survivors are
    already in the index.  _incremental_prune meets it with a
    same-id exclusion on the kept side (a replayed survivor never
    self-matches at cosine 1.0), making replay verdicts
    bit-identical to the first attempt — pinned by the semantic
    crash sim in tests/test_streaming.py.  Likewise members whose
    index state feeds THRESHOLD decisions (the winnow
    max_docs_per_fp cap) must count DISTINCT docs, not raw index
    rows, so a double-appended batch cannot shift the cap
    (operators/winnow.py, pinned in tests/test_winnow.py).  Markers
    go through the Hadoop
    FileSystem API: on S3/HDFS an os.path check would silently never
    find them, so every replay would re-append the index — the exact
    failure the marker exists to prevent.  Keep ONE writer per
    index."""

    def _write(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{pairs_sink}/done_{batch_id}"
        )
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return
        # second replay guard: a committed BASELINE id is a durable
        # low-water mark — batch ids are monotone within the one
        # stream that owns this sink (batch k+1 never starts before
        # batch k's foreachBatch returned), so every batch at or
        # below the newest committed baseline has already committed,
        # even if compact_ingest_pairs deleted its done marker.
        # This is what lets compaction delete markers at all: without
        # it the sink accrues one empty done_N directory per trigger
        # FOREVER (~525k entries/year at one trigger a minute), and
        # listing — not bytes — becomes the real cost on S3-style
        # stores.  Baselines number at most two (transiently, inside
        # compaction's own crash window), so this check is one
        # bounded glob, paid only on the no-marker path.
        baselines = _committed_baseline_ids(fs, jvm, pairs_sink)
        if baselines and batch_id <= max(baselines):
            return
        # members whose own replay guard needs the batch identity
        # (the BM25 started marker) declare a batch_id parameter;
        # pairs-shaped members keep the plain 3-arg signature
        import inspect

        if "batch_id" in inspect.signature(incremental_fn).parameters:
            pairs = incremental_fn(
                spark, batch_df, index_path, batch_id=batch_id
            )
        else:
            pairs = incremental_fn(spark, batch_df, index_path)
        pairs.dropDuplicates(list(pair_cols)).write.mode(
            "overwrite"
        ).parquet(f"{pairs_sink}/pairs_{batch_id}")
        fs.mkdirs(marker)

    return _write


def foreach_batch_index_ingest(
    index_path: str,
    pairs_sink: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
):
    """The MinHash member of foreach_batch_incremental_ingest (see
    that docstring for the batching-invariance and replay
    contracts): each micro-batch runs operators/dedup.
    incremental_dedup_pairs with update_index=True against the
    persisted MinHash index."""

    def _fn(spark, batch_df, path):
        from ..operators.dedup import incremental_dedup_pairs

        return incremental_dedup_pairs(
            spark,
            batch_df,
            path,
            text_col,
            id_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            update_index=True,
        )

    return foreach_batch_incremental_ingest(
        index_path, pairs_sink, _fn
    )


def foreach_batch_simhash_ingest(
    index_path: str,
    pairs_sink: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
):
    """The SimHash member of foreach_batch_incremental_ingest (see
    that docstring for the batching-invariance and replay
    contracts): each micro-batch runs operators/dedup.
    incremental_simhash_pairs with update_index=True against the
    persisted SimHash band index."""

    def _fn(spark, batch_df, path):
        from ..operators.dedup import incremental_simhash_pairs

        return incremental_simhash_pairs(
            spark,
            batch_df,
            path,
            text_col,
            id_col,
            max_hamming=max_hamming,
            update_index=True,
        )

    return foreach_batch_incremental_ingest(
        index_path, pairs_sink, _fn
    )


def foreach_batch_winnow_ingest(
    index_path: str,
    pairs_sink: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_docs_per_fp: int | None = 64,
):
    """The winnow (copied-passage) member of
    foreach_batch_incremental_ingest (see that docstring for the
    batching-invariance and replay contracts): each micro-batch runs
    operators/winnow.incremental_winnow_overlap with
    update_index=True against the persisted fingerprint index —
    winnowing parameters come from the index's own params table, so
    a stream can never fingerprint on a different grid than the
    build."""

    def _fn(spark, batch_df, path):
        from ..operators.winnow import incremental_winnow_overlap

        return incremental_winnow_overlap(
            spark,
            batch_df,
            path,
            text_col,
            id_col,
            threshold=threshold,
            max_docs_per_fp=max_docs_per_fp,
            update_index=True,
        )

    return foreach_batch_incremental_ingest(
        index_path, pairs_sink, _fn
    )


def _index_member_guard(
    spark, pairs_sink: str, batch_id: int, batch_df, id_col: str,
    existing_ids,
):
    """The started-marker replay guard shared by the index-mutating
    members of foreach_batch_incremental_ingest (BM25, positional,
    IVF, PQ) — the families whose double-append corrupts QUERY
    RESULTS (doubled stats, duplicated postings/assignments/codes in
    ranked output) rather than costing bytes, so the pairs-level
    dropDuplicates cannot protect them.  A `started_{batch_id}`
    marker lands in the sink BEFORE the member's first index write:
    a fresh delivery (no marker) appends directly and pays one
    mkdirs; a replay-SUSPECT delivery (marker present but the done
    marker was lost — the previous attempt crashed somewhere between
    starting the append and committing the batch) anti-joins the
    batch against `existing_ids()` — a thunk returning a one-column
    (id_col) DataFrame of ids already in the index, only evaluated
    on this path, so the O(index) membership scan is
    crash-recovery-only and the steady-state per-trigger wall stays
    bounded by the batch.  Returns (rows_safe_to_append, suspect).
    started markers are swept by compact_ingest_pairs together with
    done markers below the baseline low-water mark."""
    jvm = spark._jvm
    started = jvm.org.apache.hadoop.fs.Path(
        f"{pairs_sink}/started_{batch_id}"
    )
    fs = started.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(started):
        return (
            batch_df.join(existing_ids(), id_col, "left_anti"),
            True,
        )
    fs.mkdirs(started)
    return batch_df, False


def foreach_batch_bm25_ingest(
    index_path: str,
    pairs_sink: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The BM25 member of foreach_batch_incremental_ingest — the
    RETRIEVAL-family member, and the one whose real output is the
    INDEX ITSELF: each micro-batch appends into the persisted BM25
    index exactly (operators/retrieval.append_bm25_index — postings
    in the index's own term-hash bucket layout, doc_len rows, global
    stats merged algebraically), and the committed per-batch
    artifact is the batch's per-doc length table (doc, dl) — the
    replay-marker skeleton needs SOMETHING durable per batch, and
    the doc lengths are the batch's contribution to the index stats,
    useful for audit.  After the stream drains, serving reads the
    index through read_bm25_index as if it had been built over the
    whole corpus — BM25's global statistics merge exactly, so there
    is no staleness window (the q_bm25_index_append contract, driven
    by Structured Streaming).

    Replay contract, member-specific: unlike the hash families,
    BM25's append mutates GLOBAL stats, so a double-append corrupts
    every score rather than costing bytes — the pairs-level
    dropDuplicates cannot help.  The member therefore guards itself,
    at FLAT per-trigger cost: a `started_{batch_id}` marker lands in
    the sink BEFORE the append, so a redelivery can tell a fresh
    batch (no marker — append directly, one mkdirs of overhead) from
    a replay-SUSPECT one (marker present, done marker absent: the
    previous attempt crashed somewhere between starting the append
    and committing the batch).  Only the suspect path pays the real
    guard — an anti-join of the batch against the persisted doc_len
    table (docs the crashed attempt already appended drop out; if
    the whole batch committed, append_bm25_index's empty-batch
    short-circuit appends nothing) — so the O(index) membership scan
    is crash-recovery-only, never steady-state, and the per-trigger
    wall stays bounded by the batch.  The returned artifact is
    computed from the BATCH, not the index, so the pairs rewrite is
    replay-stable.  The residual tear INSIDE append_bm25_index's
    three sequential writes (crash between its postings and doc_len
    writes) remains that operator's documented storage-layer caveat,
    recovered by the idempotent rebuild (tests/test_retrieval.py).
    started markers are cleaned by compact_ingest_pairs together
    with done markers.  Replay no-op and crash sim pinned in
    tests/test_streaming.py."""

    def _fn(spark, batch_df, path, batch_id):
        from ..operators.retrieval import (
            append_bm25_index,
            build_postings,
        )

        # membership source = the persisted doc_len (one row per
        # doc): docs the crashed attempt already appended drop out
        fresh, _suspect = _index_member_guard(
            spark, pairs_sink, batch_id, batch_df, id_col,
            lambda: read_parquet(spark, f"{path}/doc_len").select(
                F.col("doc").alias(id_col)
            ),
        )
        append_bm25_index(spark, fresh, path, text_col, id_col)
        return (
            build_postings(batch_df, text_col, id_col)
            .groupBy("doc")
            .agg(F.sum("tf").alias("dl"))
        )

    return foreach_batch_incremental_ingest(
        index_path, pairs_sink, _fn, pair_cols=("doc",)
    )


def foreach_batch_positional_ingest(
    index_path: str,
    pairs_sink: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The POSITIONAL (phrase) member of
    foreach_batch_incremental_ingest: each micro-batch appends its
    positional postings into the persisted phrase index in the
    index's own term-hash bucket layout
    (operators/retrieval.append_positional_index — bucket count from
    the persisted meta, so a stream can never scatter postings into
    the wrong directories), and commits the batch's per-doc token
    counts as the durable artifact.  The index carries no global
    statistics, so append ≡ rebuild content-identically — but a
    DOUBLE-append duplicates (doc, pos, term) rows and phrase_search
    counts matches, so every occurrence in a duplicated doc would
    count twice: the member uses the shared started-marker guard
    (_index_member_guard; membership source = distinct docs in the
    postings, read only on the crash-recovery path).  Replay no-op
    and crash sim pinned in tests/test_streaming.py."""

    def _fn(spark, batch_df, path, batch_id):
        from ..functions.text_funcs import tokens
        from ..operators.retrieval import append_positional_index

        fresh, _suspect = _index_member_guard(
            spark, pairs_sink, batch_id, batch_df, id_col,
            lambda: read_parquet(spark, f"{path}/postings")
            .select(F.col("doc").alias(id_col))
            .distinct(),
        )
        append_positional_index(spark, fresh, path, text_col, id_col)
        return batch_df.select(
            F.col(id_col).alias("doc"),
            F.size(tokens(F.lower(F.col(text_col)))).alias("n_tokens"),
        )

    return foreach_batch_incremental_ingest(
        index_path, pairs_sink, _fn, pair_cols=("doc",)
    )


def foreach_batch_ivf_ingest(
    index_path: str,
    pairs_sink: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """The IVF member of foreach_batch_incremental_ingest: each
    micro-batch of new vectors is assigned to the FROZEN persisted
    centroids and appended into the cid-partitioned inverted list —
    append_ivf_index's semantics (operators/similarity.py:217)
    inlined so the batch is assigned ONCE for both the index append
    and the committed artifact, which is the batch's (vec_id, cid)
    assignment table (deterministic given the frozen centroid grid,
    hence replay-stable).  A double-appended vector would occupy two
    ranks in every matching top-k, so the member uses the shared
    started-marker guard (membership source = the assignment table's
    vec_ids, read only on the crash-recovery path).  Replay no-op
    and crash sim pinned in tests/test_streaming.py."""

    def _fn(spark, batch_df, path, batch_id):
        from ..operators.similarity import _assign

        fresh, suspect = _index_member_guard(
            spark, pairs_sink, batch_id, batch_df, id_col,
            lambda: read_parquet(spark, f"{path}/assignment").select(
                F.col("vec_id").alias(id_col)
            ),
        )
        cents = read_parquet(spark, f"{path}/centroids")
        # one batch-sized assignment pass feeds both consumers (the
        # append and the artifact); eager so neither recomputes it
        assigned = _assign(
            batch_df, cents, vec_col, id_col, 1
        ).localCheckpoint(eager=True)
        to_append = (
            assigned.join(
                fresh.select(F.col(id_col).alias("vec_id")), "vec_id"
            )
            if suspect
            else assigned
        )
        (
            to_append.select("vec_id", F.col("__v").alias("v"), "cid")
            .write.mode("append")
            .partitionBy("cid")
            .parquet(f"{path}/assignment")
        )
        return assigned.select("vec_id", "cid")

    return foreach_batch_incremental_ingest(
        index_path, pairs_sink, _fn, pair_cols=("vec_id",)
    )


def foreach_batch_pq_ingest(
    index_path: str,
    pairs_sink: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """The PQ member of foreach_batch_incremental_ingest: each
    micro-batch is encoded against the FROZEN persisted codebooks on
    the index's own quantization grid and its codes appended in the
    same subspace partitioning (operators/pq.append_pq_index); the
    committed artifact is the batch's (vec_id, dim) table —
    batch-derived, hence replay-stable without re-encoding.  A
    double-appended vector's duplicate codes would occupy two ranks
    in every matching ADC top-k, so the member uses the shared
    started-marker guard; the membership source reads ONE subspace
    partition of the codes table (every vector has a row per
    subspace, and `sub = 0` compiles to a partition filter on the
    sub-partitioned layout), and only on the crash-recovery path.
    Replay no-op and crash sim pinned in tests/test_streaming.py."""

    def _fn(spark, batch_df, path, batch_id):
        from ..operators.pq import append_pq_index

        fresh, _suspect = _index_member_guard(
            spark, pairs_sink, batch_id, batch_df, id_col,
            lambda: read_parquet(spark, f"{path}/codes")
            .filter(F.col("sub") == 0)
            .select(F.col("vec_id").alias(id_col)),
        )
        append_pq_index(spark, fresh, path, vec_col, id_col)
        return batch_df.select(
            F.col(id_col).alias("vec_id"),
            F.size(F.col(vec_col)).alias("dim"),
        )

    return foreach_batch_incremental_ingest(
        index_path, pairs_sink, _fn, pair_cols=("vec_id",)
    )


def _committed_baseline_ids(fs, jvm, pairs_sink: str) -> list[int]:
    """Ids of COMMITTED baselines (baseline_N with _SUCCESS) under an
    ingest sink — the bounded glob the per-trigger replay guard pays
    on the no-marker path: at most two baselines ever exist (one,
    plus transiently a second inside compact_ingest_pairs's crash
    window), so the prefix glob never degrades with stream age the
    way a full root listing would."""
    stats = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{pairs_sink}/baseline_*")
    )
    out = []
    for st in stats or []:
        name = st.getPath().getName()
        try:
            m = int(name.rsplit("baseline_", 1)[1])
        except ValueError:
            continue
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{pairs_sink}/{name}/_SUCCESS"
            )
        ):
            out.append(m)
    return out


def _ingest_sink_listing(spark, pairs_sink: str):
    """(fs, jvm, committed_baseline_ids, committed_pair_ids,
    marker_entries, all_pair_ids) for an incremental-ingest sink
    directory — the one listing pass both the reader and the pairs
    compaction share, all through the Hadoop FileSystem API.
    `pair_ids` are the COMMITTED batches (done marker present) the
    reader may scan; `all_pair_ids` additionally includes
    torn/unmarked pairs dirs, which only the compaction's debris
    sweep cares about; `marker_entries` are (batch_id, dir_name)
    for every per-batch marker directory (done_N, plus the BM25
    member's started_N) so the compaction can sweep them all below
    the baseline low-water mark."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(pairs_sink)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    baselines, pair_ids, marker_entries, all_pair_ids = [], [], [], []
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("baseline_"):
                try:
                    m = int(name.rsplit("baseline_", 1)[1])
                except ValueError:
                    continue
                if fs.exists(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{pairs_sink}/{name}/_SUCCESS"
                    )
                ):
                    baselines.append(m)
            elif name.startswith("pairs_"):
                try:
                    bid = int(name.rsplit("pairs_", 1)[1])
                except ValueError:
                    continue
                all_pair_ids.append(bid)
                if fs.exists(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{pairs_sink}/done_{bid}"
                    )
                ):
                    pair_ids.append(bid)
            elif name.startswith(("done_", "started_")):
                try:
                    marker_entries.append(
                        (int(name.rsplit("_", 1)[1]), name)
                    )
                except ValueError:
                    continue
    return fs, jvm, baselines, pair_ids, marker_entries, all_pair_ids


def read_index_ingest_pairs(spark, pairs_sink: str) -> DataFrame:
    """Union of every committed batch's output from a
    foreach_batch_incremental_ingest sink: the newest committed
    baseline (a compact_ingest_pairs rewrite, covering batches
    ≤ its id) plus every committed pairs_N with N beyond it (only
    directories whose done_N marker / baseline _SUCCESS exists — a
    torn batch or a torn compaction is invisible until committed).
    The baseline cutoff makes the read correct in the compaction's
    crash window: a committed baseline with its source pairs_N dirs
    not yet deleted double-covers those batches, and the N ≤ M
    exclusion reads each batch exactly once either way.  Listing and
    marker checks go through the Hadoop FileSystem API so the sink
    works on any storage the session can reach, not just local
    paths."""
    _fs, _jvm, baselines, pair_ids, _done, _all = (
        _ingest_sink_listing(spark, pairs_sink)
    )
    cutoff = max(baselines) if baselines else None
    dirs = [
        f"{pairs_sink}/pairs_{bid}"
        for bid in sorted(pair_ids)
        if cutoff is None or bid > cutoff
    ]
    if cutoff is not None:
        dirs.insert(0, f"{pairs_sink}/baseline_{cutoff}")
    if not dirs:
        raise FileNotFoundError(
            f"no committed pairs_* batches under {pairs_sink}"
        )
    return read_parquet(spark, *dirs)


def compact_ingest_pairs(
    spark, pairs_sink: str, n_files: int = 1
) -> list[int]:
    """Fold an ingest sink's per-trigger pairs directories into ONE
    committed baseline — the small-files maintenance op for the
    streaming ingest family (a long-lived stream lands one directory
    per trigger forever; at production trigger rates that is the
    classic millions-of-tiny-files drift).  The newest prior
    baseline plus every committed pairs_N beyond it rewrite into
    `baseline_{maxN}` (content identical — read_index_ingest_pairs
    before and after return the same rows), then the covered
    directories are deleted.  Returns the batch ids folded in.

    COST SHAPE, and when full-rewrite stops being acceptable: each
    run rewrites prior-baseline ∪ new-pairs, so compaction cost
    grows with TOTAL pairs ever found, not with the batches folded —
    the same correct-but-naive class as the merge sink's
    full-snapshot rewrite, with the same refinement path.  It is the
    right trade while the baseline rewrites in less than the pairs
    accumulation interval (at the measured probe rate — 8 trigger
    dirs fold in 0.42 s at sf0.01 — that is years of stream time);
    past that, switch to a SIZE-TIERED layout: keep K baselines
    (`baseline_{id}` each covering a disjoint id range), fold new
    pairs into a small tier, and merge tiers only when a tier
    exceeds the next one's size — LSM semantics, expressible with
    this exact reader (union of committed baselines whose ranges
    don't overlap + tail) because the cutoff rule already reads each
    batch exactly once.  Alternatively partition the baseline by a
    batch-range column and append per fold — zero rewrite, more
    files.  Neither is built: a pairs sink is survivor-verdict-sized
    (duplicates found, not corpus), and the probe numbers say the
    naive form holds far past any gate horizon.

    Crash-safe by the reader's cutoff rule: the baseline only counts
    once its _SUCCESS lands, so a crash mid-write changes nothing; a
    crash AFTER the commit but before the deletions leaves batches
    double-covered on disk but read exactly once (the reader
    excludes pairs_N ≤ baseline id), and a re-run completes the
    cleanup.  `done_N` replay markers at or below the committed
    baseline id are deleted along with the data directories: the
    baseline id is a durable low-water mark the ingest loop's replay
    guard checks alongside the marker (batch ids are monotone within
    the sink's one stream, so id ≤ baseline ⇒ already committed),
    which keeps a late redelivery of a folded, marker-deleted batch
    a no-op while bounding the sink's LISTING cost — an empty marker
    directory costs no bytes, but one per trigger forever is ~525k
    directory entries/year at a trigger a minute, real pagination
    pain on S3-style stores.  After a compaction the sink holds
    O(batches since the fold) entries, not O(triggers ever).
    Single writer, like every maintenance op here: run it between
    triggers from the maintenance cycle, never concurrently with the
    stream."""
    fs, jvm, baselines, pair_ids, marker_entries, all_pair_ids = (
        _ingest_sink_listing(spark, pairs_sink)
    )
    prev = max(baselines) if baselines else None
    # idempotent cleanup of a prior run's crash debris FIRST:
    # anything the newest committed baseline already covers
    # (pairs_N ≤ prev — marked or torn, the reader ignores both
    # below the cutoff — done_N ≤ prev, baselines < prev) is dead
    # weight the reader ignores / the replay guard supersedes — a
    # re-run after any crash converges to a clean sink
    if prev is not None:
        for bid in [b for b in all_pair_ids if b <= prev]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{pairs_sink}/pairs_{bid}"
                ),
                True,
            )
        for _bid, mname in [
            e for e in marker_entries if e[0] <= prev
        ]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{pairs_sink}/{mname}"
                ),
                True,
            )
        for m in [b for b in baselines if b < prev]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{pairs_sink}/baseline_{m}"
                ),
                True,
            )
    fold = sorted(
        bid for bid in pair_ids if prev is None or bid > prev
    )
    if not fold:
        return []
    new_id = fold[-1]
    srcs = [f"{pairs_sink}/pairs_{bid}" for bid in fold]
    if prev is not None:
        srcs.insert(0, f"{pairs_sink}/baseline_{prev}")
    target = f"{pairs_sink}/baseline_{new_id}"
    read_parquet(spark, *srcs).coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(target)
    # commit point passed (the write left _SUCCESS): cleanup below
    # is idempotent and a re-run converges.  Markers for the folded
    # batches go too — from here the committed baseline id IS the
    # replay guard for every id ≤ new_id
    for bid in fold:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{pairs_sink}/pairs_{bid}"
            ),
            True,
        )
    for _bid, mname in [
        e for e in marker_entries if e[0] <= new_id
    ]:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{pairs_sink}/{mname}"
            ),
            True,
        )
    if prev is not None:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{pairs_sink}/baseline_{prev}"
            ),
            True,
        )
    return fold
