"""End-to-end tests of the domain query API on a small synthetic
change log (FIXTURES.md §A shapes), incl. the snapshot+delta ≡ full
replay property (SURVEY.md §5.3)."""

import json
import random

import pytest
from conftest import root_operator
from pyspark.sql import functions as F

from alstom_spark_cassandra_spark.functions.filter_compiler import FilterSyntaxError
from alstom_spark_cassandra_spark.plans import (
    backup,
    get_message,
    get_multiple_fields,
    get_update_history,
    retrieve_field,
    retrieve_message,
)
from alstom_spark_cassandra_spark.plans.queries import make_arguments

N_FIELDS = 6
N_MSGS = 300
SNAP_EVERY = 100


def _gen_domain(seed=7):
    """Random-walk change log + snapshots consistent with full replay."""
    rng = random.Random(seed)
    log_rows, msg_rows = [], []
    state = {}  # field -> value
    last_id = {}  # field -> last update's instance_message_id
    snap_index, snap_rows = [], []
    for mid in range(1, N_MSGS + 1):
        msg_rows.append((mid, 1, 0, 0, 0, 0, mid, 1000 + mid * 10, 1000 + mid * 10))
        if (mid - 1) % SNAP_EVERY == 0:
            name = f"snap_{mid}"
            snap_index.append((name, mid - 1))
            for f, v in state.items():
                # snapshot rows carry the field's LAST-UPDATE id (the
                # reference's same/diff groups on it)
                snap_rows.append((name, f, 0, 0, last_id[f], json.dumps({"000": v})))
        # 1-2 field updates per message; occasionally a same-id tie
        for it in range(rng.choice([1, 1, 2])):
            f = rng.randrange(1, N_FIELDS)  # field N_FIELDS never updates
            v = rng.randrange(0, 1000)
            log_rows.append((f, 1, mid, 0, 0, 0, "000", it, state.get(f, -1), v))
            state[f] = v
            last_id[f] = mid
    return log_rows, msg_rows, snap_index, snap_rows, state


@pytest.fixture(scope="module")
def domain(spark):
    log_rows, msg_rows, snap_index, snap_rows, final_state = _gen_domain()
    log = spark.createDataFrame(
        log_rows,
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long, new_value long",
    )
    msg = spark.createDataFrame(
        msg_rows,
        "id long, uevol_message_id int, src_ty int, src_id int, dst_ty int,"
        " dst_id int, seq_nb int, log_time long, sync_time long",
    )
    fields = spark.createDataFrame(
        [(i, 1, f"field_{i}") for i in range(1, N_FIELDS + 1)],
        "id int, uevol_message_id int, name string",
    )
    sidx = spark.createDataFrame(
        snap_index, "name string, start_instance_message_id long"
    )
    srows = spark.createDataFrame(
        snap_rows,
        "snapshot_name string, uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, json_value string",
    )
    return dict(
        log=log, msg=msg, fields=fields, sidx=sidx, srows=srows,
        final_state=final_state,
    )


def _replay_state(log_rows_df, at_id):
    """Oracle: full replay of the log up to at_id, python-side."""
    rows = (
        log_rows_df.filter(F.col("instance_message_id") <= at_id)
        .orderBy("instance_message_id", "iteration")
        .collect()
    )
    st = {}
    for r in rows:
        st[r.uevol_field_id] = r.new_value
    return st


def test_arguments_df_literal_plan_matches_legacy_schema(spark):
    """Arguments.df is a pure-JVM literal plan (r15 optimization): it
    must reproduce the legacy createDataFrame relation exactly (schema
    INCLUDING nullability, rows, both declared schemas, empty set) and
    never plan as a Python ExistingRDD scan."""
    from alstom_spark_cassandra_spark.plans.queries import Arguments

    for rows, schema in [
        (
            ((1, 0, 0, None), (2, 5, 0, "value >= 20")),
            "uevol_field_id int, src_id int, dst_id int, filter string",
        ),
        (
            (("click", 7, 0, None), ("error", 999999, 0, None)),
            "uevol_field_id string, src_id long, dst_id int, filter string",
        ),
        ((), "uevol_field_id int, src_id int, dst_id int, filter string"),
    ]:
        a = Arguments(rows, schema)
        got = a.df(spark)
        legacy = spark.createDataFrame(list(rows), schema)
        assert got.schema == legacy.schema
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, legacy.collect())
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan


def test_retrieve_field_seq_nb_and_window(domain):
    # seq_nb resolves to exactly ONE message (RetrieveField.java:67-68)
    out = retrieve_field(domain["log"], domain["msg"], seq_nb=250)
    ids = {r.instance_message_id for r in out.collect()}
    assert ids == {250}
    out2 = retrieve_field(
        domain["log"], domain["msg"], start_log_time=1500, duration=1000
    )
    ids = [r.instance_message_id for r in out2.collect()]
    assert ids and min(ids) >= 50 and max(ids) <= 150


def test_retrieve_field_message_type_narrows_bounds(spark):
    """uevol_message_id/src_ty/dst_ty narrow the message set the time
    bounds resolve from (RetrieveField.java:60-62): the id window is
    the FILTERED messages' min/max id, applied as a range."""
    log = spark.createDataFrame(
        [(1, 1, i, 0, 0, 0, "000", 0, 0, i * 10) for i in range(1, 11)],
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long,"
        " new_value long",
    )
    msg = spark.createDataFrame(
        [
            (i, 1 if i <= 5 else 2, 3 if i <= 5 else 4, 0, 0, 0, i,
             100 * i, 100 * i)
            for i in range(1, 11)
        ],
        "id long, uevol_message_id int, src_ty int, src_id int, dst_ty int,"
        " dst_id int, seq_nb int, log_time long, sync_time long",
    )
    all_ids = {
        r.instance_message_id
        for r in retrieve_field(
            log, msg, start_log_time=0, end_log_time=5000
        ).collect()
    }
    assert all_ids == set(range(1, 11))
    typed = {
        r.instance_message_id
        for r in retrieve_field(
            log, msg, start_log_time=0, end_log_time=5000, uevol_message_id=2
        ).collect()
    }
    assert typed == set(range(6, 11))  # bounds from type-2 messages only
    by_ty = {
        r.instance_message_id
        for r in retrieve_field(
            log, msg, start_log_time=0, end_log_time=5000, src_ty=3
        ).collect()
    }
    assert by_ty == set(range(1, 6))


def test_retrieve_message_matches_replay(domain):
    at = 200
    expect = _replay_state(domain["log"], at)
    out = retrieve_message(domain["log"], domain["fields"], 1, at)
    got = {r.uevol_field_id: r.value for r in out.collect()}
    assert got.pop(N_FIELDS) == -1  # never-updated field -> default
    assert got == expect
    assert out.count() == N_FIELDS


def test_get_message_snapshot_delta_equals_replay(domain):
    """Property: snapshot + deltas ≡ full replay (SURVEY.md §5.3)."""
    for at in [55, 100, 101, 199, 250, 300]:  # incl. exact boundaries
        expect = _replay_state(domain["log"], at)
        out = get_message(
            domain["log"], domain["fields"], domain["sidx"], domain["srows"],
            domain["msg"], at,
        )
        got = {r.uevol_field_id: r.value for r in out.collect()}
        assert got.pop(N_FIELDS) == -1.0
        assert got == {k: float(v) for k, v in expect.items()}, f"at={at}"


def test_get_multiple_fields_snapshot_seeded_equals_replay(spark, domain):
    """Property: snapshot-seeded Q2 ≡ log-only full replay, at targets
    on and between snapshot boundaries (every field's first update
    precedes the nearest snapshot here; the snap_max fallback edge is
    pinned separately below)."""
    args = make_arguments(
        spark,
        list(range(1, N_FIELDS + 1)),
        src_ids=[0] * N_FIELDS,
        dst_ids=[0] * N_FIELDS,
    )
    for at in [100, 101, 199, 250, 300]:
        log_only = get_multiple_fields(domain["log"], args, at)
        seeded = get_multiple_fields(
            domain["log"], args, at,
            snapshot_index=domain["sidx"], snapshot_rows=domain["srows"],
        )
        lo = {tuple(r[:4]): (r.value, r.instance_message_id)
              for r in log_only.collect()}
        se = {tuple(r[:4]): (r.value, r.instance_message_id)
              for r in seeded.collect()}
        assert se == lo, f"at={at}"


def test_get_multiple_fields_snapshot_seeds_cold_series(spark):
    """The headline case the log-only path got wrong on snapshotted
    deployments: a series with NO update in the delta window must take
    its SNAPSHOT value (SQL/GetMultipleFields.sql:343-356), not the
    default sentinel. A series absent from snap_min falls back to
    snap_max (the reference's concatenated-pair join), and a series in
    neither stays default."""
    log = spark.createDataFrame(
        [
            # field 1: updated at 10, never again -> snapshot carries it
            (1, 1, 10, 0, 0, 0, "000", 0, 0, 111),
            # field 2: updated at 10 AND inside the window at 60
            (2, 1, 10, 0, 0, 0, "000", 0, 0, 20),
            (2, 1, 60, 0, 0, 0, "000", 0, 0, 22),
            # field 3: first update AFTER the target (70) -> only in
            # snap_max; reference parity: seeded from snap_max
            (3, 1, 70, 0, 0, 0, "000", 0, 0, 33),
        ],
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long,"
        " new_value long",
    )
    sidx = spark.createDataFrame(
        [("lo", 50), ("hi", 80)], "name string, start_instance_message_id long"
    )
    srows = spark.createDataFrame(
        [
            ("lo", 1, 0, 0, 10, '{"000": 111}'),
            ("lo", 2, 0, 0, 10, '{"000": 20}'),
            ("hi", 1, 0, 0, 10, '{"000": 111}'),
            ("hi", 2, 0, 0, 60, '{"000": 22}'),
            ("hi", 3, 0, 0, 70, '{"000": 33}'),
        ],
        "snapshot_name string, uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, json_value string",
    )
    args = make_arguments(spark, [1, 2, 3, 4], src_ids=[0] * 4, dst_ids=[0] * 4)
    out = get_multiple_fields(
        log, args, 65, snapshot_index=sidx, snapshot_rows=srows
    )
    got = {r.uevol_field_id: (r.value, r.instance_message_id)
           for r in out.collect()}
    assert got[1] == (111.0, 10)   # cold series: snapshot seed, not -1
    assert got[2] == (22.0, 60)    # window delta wins over snapshot
    assert got[3] == (33.0, 70)    # snap_max fallback (reference parity)
    assert got[4] == (-1.0, -1)    # nowhere: default sentinel


def test_retrieve_message_scoped_to_conversation_pair(spark):
    """Another (src,dst) pair's later update must not win the argmax
    (reference scopes the field log to the target pair,
    RetrieveMessage.java:85-86)."""
    log = spark.createDataFrame(
        [
            (5, 1, 90, 0, 1, 2, "000", 0, 0, 10),   # target pair
            (5, 1, 95, 0, 3, 4, "000", 0, 0, 99),   # other pair, later
        ],
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long, new_value long",
    )
    fields = spark.createDataFrame(
        [(5, 1, "f5")], "id int, uevol_message_id int, name string"
    )
    out = retrieve_message(log, fields, 1, 100, src_id=1, dst_id=2)
    assert out.collect()[0].value == 10


def test_get_multiple_fields_wildcard_expansion(spark, domain):
    """-1 src/dst wildcards expand against the log's concrete series
    (reference CreateArgumentsTable.sql:74-92)."""
    args = make_arguments(spark, [1])  # src/dst default to -1
    out = get_multiple_fields(domain["log"], args, 150).collect()
    assert len(out) == 1  # fixture has a single (0,0) pair per field
    assert out[0].src_id == 0 and out[0].value != -1.0


def test_make_arguments_rejects_length_mismatch(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        make_arguments(spark, [1, 2, 3], src_ids=[0, 0])


def test_get_message_roundtrip_value_is_rescanned(spark):
    """A field that changes and changes BACK between two snapshots has
    identical json in both but different last-update ids — the
    reference's id-based same/diff (GetMessage.sql:150) treats it as
    changed; value-based comparison would skip its deltas."""
    log = spark.createDataFrame(
        [
            (1, 1, 50, 0, 0, 0, "000", 0, 0, 5),
            (1, 1, 120, 0, 0, 0, "000", 0, 0, 7),    # change...
            (1, 1, 180, 0, 0, 0, "000", 0, 0, 5),    # ...and back
        ],
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long, new_value long",
    )
    msg = spark.createDataFrame(
        [(150, 1, 0, 0, 0, 0, 1, 2500, 2500)],
        "id long, uevol_message_id int, src_ty int, src_id int, dst_ty int,"
        " dst_id int, seq_nb int, log_time long, sync_time long",
    )
    fields = spark.createDataFrame(
        [(1, 1, "f1")], "id int, uevol_message_id int, name string"
    )
    sidx = spark.createDataFrame(
        [("s0", 100), ("s1", 200)], "name string, start_instance_message_id long"
    )
    srows = spark.createDataFrame(
        [
            ("s0", 1, 0, 0, 50, '{"000": 5}'),
            ("s1", 1, 0, 0, 180, '{"000": 5}'),  # same value, newer id
        ],
        "snapshot_name string, uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, json_value string",
    )
    out = get_message(log, fields, sidx, srows, msg, 150)
    # at id 150 the field is mid-round-trip: the delta at 120 must win
    assert out.collect()[0].value == 7.0


def test_get_message_empty_snapshot_index_raises(spark, domain):
    import pytest as _pytest

    empty_idx = domain["sidx"].limit(0)
    with _pytest.raises(ValueError, match="no snapshot"):
        get_message(
            domain["log"], domain["fields"], empty_idx, domain["srows"],
            domain["msg"], 150,
        )


def test_get_message_nested_snapshot_fields(spark):
    """Fields whose snapshot state is a nested JSON tree must flatten
    to (relative_path, value) rows; delta updates override only the
    paths they touch (reference GetMessage diff branch,
    SQL/GetMessage.sql:271-355)."""
    log = spark.createDataFrame(
        [
            # field 1 has one delta after the snapshot on path 000.002
            (1, 1, 150, 0, 0, 0, "000.002", 0, 0, 777),
        ],
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long, new_value long",
    )
    msg = spark.createDataFrame(
        [(200, 1, 0, 0, 0, 0, 1, 3000, 3000)],
        "id long, uevol_message_id int, src_ty int, src_id int, dst_ty int,"
        " dst_id int, seq_nb int, log_time long, sync_time long",
    )
    fields = spark.createDataFrame(
        [(1, 1, "nested_field"), (2, 1, "flat_field")],
        "id int, uevol_message_id int, name string",
    )
    sidx = spark.createDataFrame(
        [("s0", 100)], "name string, start_instance_message_id long"
    )
    srows = spark.createDataFrame(
        [
            ("s0", 1, 0, 0, 100, '{"000": {"001": 5, "002": 6}}'),
            ("s0", 2, 0, 0, 100, '{"000": 9}'),
        ],
        "snapshot_name string, uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, json_value string",
    )
    out = get_message(log, fields, sidx, srows, msg, 200)
    got = {(r.uevol_field_id, r.relative_path): r.value for r in out.collect()}
    assert got == {
        (1, "000.001"): 5.0,   # untouched nested path from snapshot
        (1, "000.002"): 777.0,  # delta overrides the snapshot value
        (2, "000"): 9.0,        # flat field straight from snapshot
    }


def test_get_message_field_first_updated_after_last_snapshot(spark):
    """A field whose FIRST update falls after the last snapshot has no
    snapshot row; the single-snapshot branch must still surface its
    deltas (reference ELSE branch scans deltas unrestricted,
    SQL/GetMessage.sql:611-990)."""
    log = spark.createDataFrame(
        [(1, 1, 150, 0, 0, 0, "000", 0, 0, 42)],
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long, new_value long",
    )
    msg = spark.createDataFrame(
        [(200, 1, 0, 0, 0, 0, 1, 3000, 3000)],
        "id long, uevol_message_id int, src_ty int, src_id int, dst_ty int,"
        " dst_id int, seq_nb int, log_time long, sync_time long",
    )
    fields = spark.createDataFrame(
        [(1, 1, "late_field")], "id int, uevol_message_id int, name string"
    )
    sidx = spark.createDataFrame(
        [("s0", 100)], "name string, start_instance_message_id long"
    )
    srows = spark.createDataFrame(
        [],
        "snapshot_name string, uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, json_value string",
    )
    out = get_message(log, fields, sidx, srows, msg, 200)
    got = {(r.uevol_field_id, r.relative_path): r.value for r in out.collect()}
    assert got == {(1, "000"): 42.0}


def test_get_multiple_fields_before_any_event(spark, domain):
    args = make_arguments(spark, [1, 2], [0, 0], [0, 0])
    out = get_multiple_fields(domain["log"], args, 0)
    for r in out.collect():
        assert (r.value, r.instance_message_id) == (-1.0, -1)


def test_retrieve_field_no_filters_returns_all(domain):
    out = retrieve_field(domain["log"], domain["msg"])
    assert out.count() == domain["log"].count()


@pytest.mark.parametrize(
    "window",
    [{}, {"seq_nb": 250}, {"start_log_time": 1500, "duration": 1000}],
)
def test_retrieve_field_sort_output_false_is_unordered(domain, window):
    """sort_output=False means unordered, as in get_update_history:
    no Sort at the root; the default orders by the update clock. Both
    return the same rows."""
    ordered = retrieve_field(domain["log"], domain["msg"], **window)
    unordered = retrieve_field(
        domain["log"], domain["msg"], sort_output=False, **window
    )
    assert root_operator(ordered) == "Sort"
    assert root_operator(unordered) != "Sort"
    ids = [r.instance_message_id for r in ordered.collect()]
    assert ids == sorted(ids)
    assert sorted(map(tuple, unordered.collect())) == sorted(
        map(tuple, ordered.collect())
    )


def test_get_multiple_fields_defaults(spark, domain):
    args = make_arguments(spark, [1, N_FIELDS], [0, 0], [0, 0])
    out = get_multiple_fields(domain["log"], args, 150)
    got = {r.uevol_field_id: (r.value, r.instance_message_id) for r in out.collect()}
    assert got[N_FIELDS] == (-1.0, -1)  # no update yet
    assert got[1][0] == float(_replay_state(domain["log"], 150)[1])


def test_get_update_history_locf_dense(spark, domain):
    args = make_arguments(spark, [1, 2], [0, 0], [0, 0])
    out = get_update_history(domain["log"], args, 50, 120).collect()
    ids = sorted({r.instance_message_id for r in out})
    by_series = {}
    for r in out:
        by_series.setdefault(r.uevol_field_id, []).append(r)
    # dense: every series has a row at every time point
    for f, rows in by_series.items():
        assert len(rows) == len(ids)
    # LOCF: value at each time equals replay state at that time
    for r in out:
        st = _replay_state(domain["log"], r.instance_message_id)
        expect = st.get(r.uevol_field_id)
        if r.instance_message_id == 50 and expect is None:
            expect = -1  # start-state default
        if expect is not None:
            assert r.value == float(expect)


def test_get_update_history_dense_cell_guard(spark, domain):
    """The max_dense_cells guard (SCALE.md: grid x series dominates
    cost): a window whose exact grid x series product exceeds the cap
    raises with chunking guidance; the driver-known upper bound means
    a small request never even measures; None disables."""
    import pytest

    args = make_arguments(spark, [1, 2], [0, 0], [0, 0])
    # exact grid for [50, 120] over 2 series is small but nonzero:
    # force the measurement path (upper bound 2*71 > 4) AND the
    # failure (2 * n_ids > 4)
    with pytest.raises(ValueError, match="max_dense_cells"):
        get_update_history(domain["log"], args, 50, 120, max_dense_cells=4)
    # cap disabled -> identical result to the default path
    a = get_update_history(
        domain["log"], args, 50, 120, max_dense_cells=None
    ).collect()
    b = get_update_history(domain["log"], args, 50, 120).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # a cap the driver-known bound already satisfies pays no job and
    # passes: width 71 * 2 series = 142 cells <= 1000
    assert (
        len(
            get_update_history(
                domain["log"], args, 50, 120, max_dense_cells=1000
            ).collect()
        )
        > 0
    )
    # DataFrame-args path (arg_rows unknown to the driver): the guard
    # probes series count with a bounded limit, raises above the cap,
    # and matches the Arguments-path result below it
    args_df = args.df(spark)
    with pytest.raises(ValueError, match="max_dense_cells"):
        get_update_history(domain["log"], args_df, 50, 120, max_dense_cells=4)
    c = get_update_history(
        domain["log"], args_df, 50, 120, max_dense_cells=1000
    ).collect()
    assert sorted(map(tuple, c)) == sorted(map(tuple, b))


def test_get_update_history_pivot_and_filter(spark, domain):
    args = make_arguments(spark, [1, 2], [0, 0], [0, 0], ["value >= 0", None])
    wide = get_update_history(domain["log"], args, 50, 120, pivot=True)
    assert wide.columns[0] == "instance_message_id"
    assert len(wide.columns) == 3
    long = get_update_history(domain["log"], args, 50, 120)
    # filter 'value >= 0' prunes time points where series 1 is -1/unset
    for r in long.filter(F.col("uevol_field_id") == 1).collect():
        assert r.value is None or r.value >= 0


def test_get_multiple_fields_history_scalar_state(spark):
    """The start_table shape (SQL/GetMultipleFieldsHistory.sql:358-369):
    one scalar per series — the MIN relative_path's latest value ≤ the
    target; default for untouched series."""
    from alstom_spark_cassandra_spark.plans.queries import (
        get_multiple_fields_history,
    )

    log = spark.createDataFrame(
        [
            # series 1: nested paths — "000" is the scalar row
            (1, 0, 0, 10, "000", 0, 100),
            (1, 0, 0, 20, "000.001", 0, 777),  # later but deeper path
            (1, 0, 0, 15, "000", 0, 150),
            (1, 0, 0, 99, "000", 0, 999),  # after the cut
            # series 2: only a deep path
            (2, 0, 0, 12, "001", 0, 55),
        ],
        "uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, relative_path string, iteration int,"
        " new_value long",
    )
    args = make_arguments(spark, [1, 2, 3], [0, 0, 0], [0, 0, 0])
    got = {
        r.uevol_field_id: r.value
        for r in get_multiple_fields_history(log, args, 30).collect()
    }
    assert got[1] == 150.0  # latest "000" row ≤ 30, not the deeper path
    assert got[2] == 55.0   # min path present is "001"
    assert got[3] == -1.0   # no update yet -> default


def test_get_update_history_pivot_with_wildcard_args(spark, domain):
    """Wildcard arguments reach the pivot path with arg_rows unknown
    (regression: the series-name fallback referenced a variable the
    dense-grid rewrite had deleted -> NameError)."""
    args = make_arguments(spark, [1, 2], [-1, -1], [0, 0])
    wide = get_update_history(domain["log"], args, 50, 120, pivot=True)
    assert wide.columns[0] == "instance_message_id"
    assert len(wide.columns) >= 3
    assert wide.count() > 0


def test_update_history_filter_independent_of_cache(spark, domain):
    """use_cache is a performance knob only — the veto filter must
    apply either way (regression: the whole filter block was gated on
    use_cache, so uncached histories silently skipped user filters)."""
    args = make_arguments(spark, [1, 2], [0, 0], [0, 0], ["value >= 0", None])
    key = ["uevol_field_id", "src_id", "dst_id", "instance_message_id"]
    cached = get_update_history(domain["log"], args, 50, 120, use_cache=True)
    uncached = get_update_history(domain["log"], args, 50, 120, use_cache=False)
    assert sorted(map(tuple, cached.select(*key, "value").collect())) == sorted(
        map(tuple, uncached.select(*key, "value").collect())
    )


def test_update_history_rejects_bad_filter(spark, domain):
    args = make_arguments(spark, [1], [0], [0], ["value > 0; DROP TABLE x"])
    with pytest.raises(FilterSyntaxError):
        get_update_history(domain["log"], args, 50, 120).count()


def test_backup_preserves_reconstruction(domain):
    cut_time = 1000 + 200 * 10  # keep last third raw
    compacted = backup(domain["log"], domain["msg"], cut_time)
    # reconstruction at the end from compacted == from full log
    full = _replay_state(domain["log"], N_MSGS)
    got = _replay_state(compacted, N_MSGS)
    assert got == full
    assert compacted.count() < domain["log"].count()


def test_update_history_many_filters_join_path_equivalent(spark):
    """Above _MAX_FILTER_CHAIN filtered series the veto filter switches
    from the AND-chain encoding to a broadcast join on the filter
    table + CASE over distinct filter strings (O(rows) instead of
    O(rows x filtered series)). Both encodings must produce the same
    matrix, and the filter must actually prune something."""
    from alstom_spark_cassandra_spark.plans import queries as Q

    rng = random.Random(3)
    rows = []
    for mid in range(1, 61):
        f = rng.randrange(1, 13)
        rows.append((f, 1, mid, 0, 0, 0, "000", 0, 0, rng.randrange(0, 100)))
    log = spark.createDataFrame(
        rows,
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long, new_value long",
    )
    filters = ["value >= 10" if i % 2 else "value < 95" for i in range(12)]
    assert len(filters) > Q._MAX_FILTER_CHAIN
    args = make_arguments(
        spark, list(range(1, 13)), [0] * 12, [0] * 12, filters
    )
    key = ["uevol_field_id", "src_id", "dst_id", "instance_message_id"]
    out_join = sorted(
        map(
            tuple,
            get_update_history(log, args, 5, 55, use_cache=False)
            .select(*key, "value")
            .collect(),
        )
    )
    old = Q._MAX_FILTER_CHAIN
    try:
        Q._MAX_FILTER_CHAIN = 10_000  # force the chain encoding
        out_chain = sorted(
            map(
                tuple,
                get_update_history(log, args, 5, 55, use_cache=False)
                .select(*key, "value")
                .collect(),
            )
        )
    finally:
        Q._MAX_FILTER_CHAIN = old
    assert out_join == out_chain
    # the veto is live: some time points pruned, some survive
    n_points = len({r[3] for r in out_join})
    all_points = (
        log.filter(
            (F.col("instance_message_id") > 5)
            & (F.col("instance_message_id") <= 55)
        )
        .select("instance_message_id")
        .distinct()
        .count()
        + 1  # start-state row
    )
    assert 0 < n_points < all_points


def test_update_history_leading_default_carries_until_first_update(spark):
    """A series whose FIRST update lands after `start` must show the
    -1 default at the start row and at every grid point before its
    first update, then LOCF its real values (reference row-0 seeding:
    SQL/GetUpdateHistory.sql:80-97 — the matrix row at `start` is the
    GetMultipleFieldsHistory state, default for untouched series)."""
    log = spark.createDataFrame(
        [
            # series 1 updates early (before start) and mid-window
            (1, 1, 3, 0, 0, 0, "000", 0, 0, 11),
            (1, 1, 30, 0, 0, 0, "000", 0, 11, 12),
            # series 2's FIRST update is at id 40, after start=10
            (2, 1, 40, 0, 0, 0, "000", 0, 0, 77),
            # series 3 never updates in range
            (3, 1, 90, 0, 0, 0, "000", 0, 0, 99),
        ],
        "uevol_field_id int, uevol_message_id int, instance_message_id long,"
        " instance_message_id_previous long, src_id int, dst_id int,"
        " relative_path string, iteration int, previous_value long, new_value long",
    )
    args = make_arguments(spark, [1, 2, 3], [0, 0, 0], [0, 0, 0])
    out = get_update_history(log, args, 10, 50, use_cache=False)
    got = {
        (r.uevol_field_id, r.instance_message_id): r.value
        for r in out.collect()
    }
    # grid points: start=10 plus in-window update ids {30, 40}
    assert set(got) == {(f, t) for f in (1, 2, 3) for t in (10, 30, 40)}
    assert got[(1, 10)] == 11.0 and got[(1, 30)] == 12.0 and got[(1, 40)] == 12.0
    # leading default: -1 carried from the start row to every point
    # before series 2's first update, then the real value
    assert got[(2, 10)] == -1.0 and got[(2, 30)] == -1.0
    assert got[(2, 40)] == 77.0
    # never-updated-in-window series: -1 across the whole grid
    assert got[(3, 10)] == -1.0 and got[(3, 30)] == -1.0 and got[(3, 40)] == -1.0


def test_update_history_chunked_exact(spark, domain):
    """get_update_history_chunked is the dense-grid guard's escape
    hatch made real: for several chunk counts — including one whose
    boundary lands EXACTLY on an update id, the duplicate-boundary
    case the concatenation rule has to handle — the concatenated
    result is row-for-row identical to the unchunked matrix, with
    per-series filters applied chunk-locally."""
    from alstom_spark_cassandra_spark.plans import (
        get_update_history_chunked,
    )

    args = make_arguments(spark, [1, 2], [0, 0], [0, 0])
    full = sorted(
        map(tuple, get_update_history(domain["log"], args, 50, 120).collect())
    )
    # an actual update id inside the window, to pin a boundary on it
    some_id = int(
        domain["log"]
        .filter(
            (F.col("instance_message_id") > 50)
            & (F.col("instance_message_id") < 120)
        )
        .agg(F.max("instance_message_id"))
        .collect()[0][0]
    )
    for n in (1, 3):
        got = sorted(
            map(
                tuple,
                get_update_history_chunked(
                    domain["log"], args, 50, 120, n_chunks=n
                ).collect(),
            )
        )
        assert got == full, f"n_chunks={n}"
    # n_chunks > span clamps to 1-id chunks (every boundary an id)
    tiny_full = sorted(
        map(tuple, get_update_history(domain["log"], args, 50, 55).collect())
    )
    tiny_got = sorted(
        map(
            tuple,
            get_update_history_chunked(
                domain["log"], args, 50, 55, n_chunks=70
            ).collect(),
        )
    )
    assert tiny_got == tiny_full
    # boundary exactly on an update id: 2 chunks split at some_id via
    # chunk span arithmetic -> emulate by splitting [50, some_id] +
    # [some_id, 120] through n_chunks on the exact sub-span
    width = some_id - 50
    got = sorted(
        map(
            tuple,
            get_update_history_chunked(
                domain["log"], args, 50, 50 + 2 * width, n_chunks=2
            ).collect(),
        )
    )
    full2 = sorted(
        map(
            tuple,
            get_update_history(
                domain["log"], args, 50, 50 + 2 * width
            ).collect(),
        )
    )
    assert got == full2
    # filtered variant: filters gate each time point chunk-locally
    fargs = make_arguments(
        spark, [1, 2], [0, 0], [0, 0], filters=["value > 0", None]
    )
    full_f = sorted(
        map(
            tuple,
            get_update_history(domain["log"], fargs, 50, 120).collect(),
        )
    )
    got_f = sorted(
        map(
            tuple,
            get_update_history_chunked(
                domain["log"], fargs, 50, 120, n_chunks=4
            ).collect(),
        )
    )
    assert got_f == full_f


def test_update_history_chunked_multi_path_series(spark):
    """The case that makes interior re-seeding through _scalar_state
    WRONG: a series with several relative_paths. The dense grid's
    interior LOCF carries the last update of ANY path (the
    reference's unfiltered update stream), while the min-path scalar
    would resurrect the stale "000" value at a chunk boundary. Built
    so a boundary lands exactly on the path-"001" update: chunked
    must still equal unchunked row-for-row."""
    from alstom_spark_cassandra_spark.plans import (
        get_update_history,
        get_update_history_chunked,
    )

    log = spark.createDataFrame(
        [
            (1, 0, 0, 50, "000", 0, 5),
            (1, 0, 0, 100, "001", 0, 9),   # boundary lands here
            (1, 0, 0, 150, "000", 0, 7),
            (2, 0, 0, 60, "000", 0, 1),
        ],
        "uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, relative_path string, iteration int,"
        " new_value long",
    )
    args = make_arguments(spark, [1, 2], [0, 0], [0, 0])
    full = sorted(
        map(tuple, get_update_history(log, args, 0, 200).collect())
    )
    got = sorted(
        map(
            tuple,
            get_update_history_chunked(
                log, args, 0, 200, n_chunks=2
            ).collect(),
        )
    )
    assert got == full
    # and the carry really is the path-"001" value, not min-path "000"
    by_id = {
        (r[0], r[3]): r[4]
        for r in full
        if r[0] == 1
    }
    assert by_id[(1, 100)] == 9.0 and by_id[(1, 150)] == 7.0


def test_update_history_chunked_null_value_not_carried(spark):
    """A NULL new_value row with a HIGHER iteration at the boundary id
    must not shadow the real value in the interior seed: the full
    matrix's dense agg prefers real rows and LOCF fills nulls from the
    previous real value, so the carry is the last NON-NULL update —
    chunked must agree."""
    from alstom_spark_cassandra_spark.plans import (
        get_update_history,
        get_update_history_chunked,
    )

    log = spark.createDataFrame(
        [
            (1, 0, 0, 100, "000", 0, 5),
            (1, 0, 0, 100, "000", 1, None),  # null tie-winner by it
            (1, 0, 0, 150, "000", 0, 7),
        ],
        "uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, relative_path string, iteration int,"
        " new_value long",
    )
    args = make_arguments(spark, [1], [0], [0])
    full = sorted(
        map(tuple, get_update_history(log, args, 0, 200).collect())
    )
    got = sorted(
        map(
            tuple,
            get_update_history_chunked(log, args, 0, 200, n_chunks=2).collect(),
        )
    )
    assert got == full
    vals = {r[3]: r[4] for r in full}
    assert vals[100] == 5.0  # real row beats the null iteration-winner
    assert vals[150] == 7.0


def test_update_history_chunked_auto_sizes_from_cap(spark, domain):
    """n_chunks=None derives the chunk count from the driver-known
    cell bound / max_dense_cells: the exact call that raises the
    unchunked guard succeeds chunked with NO manual chunk count, and
    still matches the unguarded result."""
    import pytest

    from alstom_spark_cassandra_spark.plans import (
        get_update_history,
        get_update_history_chunked,
    )

    args = make_arguments(spark, [1, 2], [0, 0], [0, 0])
    # 2 series x 71-id window = 142-cell bound; cap 40 -> auto ~4 chunks
    with pytest.raises(ValueError, match="max_dense_cells"):
        get_update_history(domain["log"], args, 50, 120, max_dense_cells=40)
    full = sorted(
        map(
            tuple,
            get_update_history(
                domain["log"], args, 50, 120, max_dense_cells=None
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            get_update_history_chunked(
                domain["log"], args, 50, 120, max_dense_cells=40
            ).collect(),
        )
    )
    assert got == full


def test_update_history_chunked_auto_sizes_dense_log(spark):
    """Auto-sizing must account for each chunk's injected boundary-
    seed id: on a log with an update at EVERY id, sizing from the
    whole-window bound alone under-chunks and re-raises the guard —
    the per-chunk (span+1)x series solve must make the same call
    succeed. Also: max_dense_cells=0 rejects cleanly."""
    import pytest

    from alstom_spark_cassandra_spark.plans import (
        get_update_history,
        get_update_history_chunked,
    )

    rows = [
        (f, 0, 0, i, "000", 0, f * 100 + i)
        for i in range(1, 11)
        for f in (1, 2)
    ]
    log = spark.createDataFrame(
        rows,
        "uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, relative_path string, iteration int,"
        " new_value long",
    )
    args = make_arguments(spark, [1, 2], [0, 0], [0, 0])
    # whole-window bound = 11 ids x 2 = 22 > 11; naive n=ceil(22/11)=2
    # gives 5-id-wide chunks -> 6 time points x 2 = 12 > 11 and the
    # guard re-raises; the per-chunk solve picks n so each chunk fits
    with pytest.raises(ValueError, match="max_dense_cells"):
        get_update_history(log, args, 0, 10, max_dense_cells=11)
    full = sorted(
        map(
            tuple,
            get_update_history(
                log, args, 0, 10, max_dense_cells=None
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            get_update_history_chunked(
                log, args, 0, 10, max_dense_cells=11
            ).collect(),
        )
    )
    assert got == full
    with pytest.raises(ValueError, match="max_dense_cells"):
        get_update_history_chunked(log, args, 0, 10, max_dense_cells=0)


def test_chunk_seeds_single_pass(spark):
    """Interior chunk seeds are computed in ONE pass: values equal the
    brute-force per-boundary prefix argmax (incl. empty-chunk LOCF
    carry and never-updated fallback to the start scalar), the seed
    table is cached, and materializing it costs the same constant
    job count whether there are 2 chunks or 9 (the round-7 design ran
    one growing-prefix aggregation job per chunk)."""
    from alstom_spark_cassandra_spark.plans.queries import (
        SERIES_KEY,
        _chunk_seeds,
    )

    in_window = spark.createDataFrame(
        [
            # series A: updates in chunks 0 and 3 of a 4-chunk split
            (1, 0, 0, 105, "000", 0, 10),
            (1, 0, 0, 110, "001", 2, 11),  # same chunk, higher id wins
            (1, 0, 0, 195, "000", 0, 40),
            # series B: single early update -> carried across all
            (2, 0, 0, 101, "000", 0, 7),
            # series C: no updates at all -> start scalar everywhere
        ],
        "uevol_field_id int, src_id int, dst_id int,"
        " instance_message_id long, relative_path string, iteration int,"
        " new_value long",
    )
    scalar_start = spark.createDataFrame(
        [(1, 0, 0, -1.0), (2, 0, 0, -1.0), (3, 0, 0, 99.0)],
        "uevol_field_id int, src_id int, dst_id int, value double",
    )

    def run(bounds):
        sc = spark.sparkContext
        group = f"seeds_{len(bounds)}"
        seeds = _chunk_seeds(in_window, scalar_start, bounds)
        assert seeds.is_cached
        sc.setJobGroup(group, "seed materialization")
        try:
            seeds.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        rows = {
            (r["uevol_field_id"], r["__chunk"]): r["value"]
            for r in seeds.collect()
        }
        seeds.unpersist()
        return n_jobs, rows

    jobs4, rows4 = run([100, 125, 150, 175, 200])
    # carry at 125 = id-110 update (argmax by id within chunk 0);
    # empty chunks 1-2 carry it forward; chunk 3 overwrites with 40
    assert rows4[(1, 0)] == 11.0
    assert rows4[(1, 1)] == 11.0
    assert rows4[(1, 2)] == 11.0
    assert rows4[(1, 3)] == 40.0
    assert all(rows4[(2, j)] == 7.0 for j in range(4))
    assert all(rows4[(3, j)] == 99.0 for j in range(4))

    bounds16 = [100 + 100 * i // 16 for i in range(17)]
    jobs16, rows16 = run(bounds16)
    # AQE materializes query stages as jobs, so the count wobbles by
    # ~1 with plan shape — but it must NOT grow with n_chunks (the
    # per-chunk prefix-rescan design would add one aggregation job
    # per extra chunk: +12 here)
    assert jobs16 <= jobs4 + 2, (jobs4, jobs16)
    assert rows16[(1, 15)] == 40.0  # id-195 lands in the last chunk
    # 6-id-wide chunks split ids 105 and 110 across chunks 0 and 1
    assert rows16[(1, 0)] == 10.0
    assert rows16[(1, 1)] == 11.0


def _replay_multiple_fields(log_rows, arg_rows, at, default=-1.0):
    """Plain-Python get_multiple_fields. log_rows: (field, src, dst, id,
    path, iteration, value). Without a wildcard every argument row
    answers (duplicates and absent series included); with one, the
    answer is the distinct log series matching any row, seen at any
    id. Each series yields its paths' latest update ≤ at by
    (id, iteration), or one default row."""
    wild = (-1, "-1")
    if any(v in wild for r in arg_rows for v in r[:3]):
        series = sorted(
            {
                tuple(u[:3])
                for u in log_rows
                if any(
                    all(a in wild or a == v for a, v in zip(r[:3], u[:3]))
                    for r in arg_rows
                )
            }
        )
    else:
        series = [tuple(r[:3]) for r in arg_rows]
    out = []
    for s in series:
        latest = {}
        for u in log_rows:
            if tuple(u[:3]) == s and u[3] <= at:
                old = latest.get(u[4])
                if old is None or (u[3], u[5]) > (old[3], old[5]):
                    latest[u[4]] = u
        if not latest:
            out.append((*s, "000", default, -1))
        for p, u in latest.items():
            v = default if u[6] is None else float(u[6])
            out.append((*s, p, v, u[3]))
    return sorted(out)


@pytest.mark.parametrize("keyed", ["int", "string"])
def test_get_multiple_fields_matches_python_replay(spark, keyed):
    """Differential pin of the log-only Q2 semantics against a plain
    replay: mixed wildcard/concrete lists, duplicated rows, an absent
    series, a target before any event, nested relative_paths, NULL
    values, same-id iteration ties, both argument schemas, a string
    field id carrying a quote and a backslash (it travels through
    generated SQL text), and the same sets passed as DataFrames."""
    from alstom_spark_cassandra_spark.plans.queries import Arguments

    if keyed == "int":
        f1, f2, f3, absent = 1, 2, 3, 99
        schema = "uevol_field_id int, src_id int, dst_id int, filter string"
        log_schema = "uevol_field_id int"
    else:
        f1, f2, f3, absent = "click", "it's\\x", "view", "nope"
        schema = "uevol_field_id string, src_id long, dst_id int, filter string"
        log_schema = "uevol_field_id string"
    log_rows = [
        (f1, 1, 0, 10, "000", 0, 5),
        (f1, 1, 0, 20, "000", 0, 6),
        (f1, 1, 0, 20, "000", 1, 7),      # same id, later iteration wins
        (f1, 2, 0, 15, "000", 0, 8),
        (f2, 1, 0, 12, "a/b", 0, 1),      # nested paths
        (f2, 1, 0, 18, "a/c", 0, 2),
        (f2, 1, 0, 30, "a/b", 0, 3),
        (f2, 2, 0, 20, "000", 0, None),   # NULL value -> default value
        (f3, 1, 0, 40, "000", 0, 9),      # seen only after most targets
        (f3, 3, 1, 11, "000", 0, 4),
    ]
    log = spark.createDataFrame(
        log_rows,
        f"{log_schema}, src_id int, dst_id int, instance_message_id long,"
        " relative_path string, iteration int, new_value long",
    )
    arg_sets = [
        ((f1, 1, 0, None), (f2, 1, 0, None)),
        ((f1, 1, 0, None), (f1, 1, 0, None), (absent, 1, 0, None)),  # dup + absent
        ((-1 if keyed == "int" else "-1", 1, 0, None),),              # Q1 shape
        ((f2, -1, 0, None), (f1, 2, 0, None), (absent, 7, 7, None)),  # mixed
        ((f2, -1, -1, None), (f2, 1, 0, None)),                       # overlap
        ((f3, -1, -1, None),),
        (),                                                           # empty set
    ]
    for rows in arg_sets:
        for at in (0, 20, 100):
            got = get_multiple_fields(log, Arguments(rows, schema), at).collect()
            got_t = [tuple(r) for r in got]
            expect = _replay_multiple_fields(log_rows, rows, at)
            assert sorted(got_t) == expect, (rows, at)
            # the output order is the presentation sort
            key = [tuple(r[:4]) for r in got_t]
            assert key == sorted(key), (rows, at)
        # DataFrame arguments (the probe + expansion path) agree
        got = get_multiple_fields(log, Arguments(rows, schema).df(spark), 20)
        assert sorted(tuple(r) for r in got.collect()) == (
            _replay_multiple_fields(log_rows, rows, 20)
        ), rows


def test_expand_arguments_filter_rule(spark, domain):
    """Several argument rows matching one series give it ONE filter,
    chosen deterministically: a concrete row beats a wildcard row, and
    among equal ranks the first in argument order wins."""
    from alstom_spark_cassandra_spark.plans.queries import (
        Arguments,
        expand_arguments,
    )

    def filters(rows):
        a = Arguments(rows)
        out = expand_arguments(a.df(spark), domain["log"], a.pattern_sql())
        return {r.uevol_field_id: r.filter for r in out.collect()}

    got = filters(((-1, 0, 0, "value >= 1"), (1, 0, 0, "value < 300")))
    assert got[1] == "value < 300"
    assert all(got[f] == "value >= 1" for f in range(2, N_FIELDS))
    # the concrete row wins wherever it stands in the list
    got = filters(((1, 0, 0, "value < 300"), (-1, 0, 0, "value >= 1")))
    assert got[1] == "value < 300"
    # equal rank: argument order decides
    assert filters(((1, -1, -1, "A"), (-1, 0, 0, "B")))[1] == "A"
    assert filters(((-1, 0, 0, "B"), (1, -1, -1, "A")))[1] == "B"

    # and get_update_history applies the winner: every kept time point
    # satisfies field 1's concrete filter
    args = Arguments(((-1, 0, 0, "value >= 1"), (1, 0, 0, "value < 300")))
    hist = get_update_history(domain["log"], args, 50, 120).collect()
    assert hist and all(
        r.value < 300 for r in hist if r.uevol_field_id == 1
    )


def test_wildcard_q1_one_pushed_scan(spark, domain, tmp_path):
    """A wildcard Q1 (every field of one src) on a parquet log plans
    with no nested-loop expansion join, restricts every log scan by
    the src equality inside the scan, and runs in at most 6 jobs."""
    path = str(tmp_path / "log.parquet")
    domain["log"].write.parquet(path)
    log = spark.read.parquet(path)
    sc = spark.sparkContext
    args = make_arguments(spark, [-1], [0], [0])
    df = get_multiple_fields(log, args, 150)
    old_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        sc.setJobGroup("wildcard_q1", "wildcard Q1")
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old_len)
    expect = _replay_state(domain["log"], 150)
    assert {r.uevol_field_id: r.value for r in rows} == {
        f: float(v) for f, v in expect.items()
    }
    assert "BroadcastNestedLoopJoin" not in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans
    for ln in scans:
        pushed = ln.split("PushedFilters: ", 1)[1]
        assert "EqualTo(src_id,0)" in pushed, ln
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("wildcard_q1"))
    assert 0 < n_jobs <= 6, n_jobs
