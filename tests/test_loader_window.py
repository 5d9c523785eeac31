"""load_table_window bound mapping: the inclusive epoch-ms window must
select exactly the rows whose FLOOR(ms) falls inside, for every
physical ts encoding — the (hi+1)*unit exclusive-upper trick is easy
to get off-by-one at sub-ms offsets."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from alstom_spark_cassandra_spark.sources.loader import (
    load_table,
    load_table_window,
)

BASE_MS = 1_704_844_800_000  # T_JAN10

# event rows at sub-ms offsets around a [BASE_MS+1, BASE_MS+2] window:
# (event_id, offset in microseconds from BASE_MS, expected ms)
ROWS = [
    (0, 0, BASE_MS),          # ms = BASE     -> below window
    (1, 999, BASE_MS),        # .999 ms floors to BASE -> below
    (2, 1000, BASE_MS + 1),   # exactly lo    -> in
    (3, 1500, BASE_MS + 1),   # 1.5 ms        -> in
    (4, 2000, BASE_MS + 2),   # exactly hi    -> in
    (5, 2999, BASE_MS + 2),   # 2.999 floors to hi -> in (the trap)
    (6, 3000, BASE_MS + 3),   # just past     -> out
]
LO, HI = BASE_MS + 1, BASE_MS + 2
EXPECT_IDS = {2, 3, 4, 5}


def _write(tmp_path, kind: str) -> str:
    ids = [r[0] for r in ROWS]
    if kind == "us":
        ts = pa.array(
            [BASE_MS * 1000 + r[1] for r in ROWS], pa.timestamp("us")
        )
    else:  # long nanoseconds (the pre-round-3 encoding via nanosAsLong)
        ts = pa.array(
            [BASE_MS * 1_000_000 + r[1] * 1000 for r in ROWS], pa.int64()
        )
    t = pa.table({"event_id": pa.array(ids, pa.int64()), "ts": ts})
    d = tmp_path / f"enc_{kind}"
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("kind", ["us", "ns_long"])
def test_window_bounds_exact_at_sub_ms(spark, tmp_path, kind):
    base = _write(tmp_path, kind)
    got = {
        r.event_id
        for r in load_table_window(spark, base, "events", LO, HI).collect()
    }
    assert got == EXPECT_IDS

    # canonicalized ms values agree with the expected floor
    full = {r.event_id: r.ts for r in load_table(spark, base, "events").collect()}
    assert full == {r[0]: r[2] for r in ROWS}


@pytest.mark.parametrize("kind", ["us", "ns_long"])
def test_half_open_bounds(spark, tmp_path, kind):
    base = _write(tmp_path, kind)
    lo_only = {
        r.event_id
        for r in load_table_window(spark, base, "events", LO, None).collect()
    }
    assert lo_only == {2, 3, 4, 5, 6}
    hi_only = {
        r.event_id
        for r in load_table_window(spark, base, "events", None, HI).collect()
    }
    assert hi_only == {0, 1, 2, 3, 4, 5}


class TestLoadTableMemo:
    """load_table memoizes the LAZY scan DataFrame per (session, base,
    resolved-name) — plan metadata only, recomputed per action — with
    refresh_tables() as the invalidation hatch (Spark's own
    refreshTable contract)."""

    def test_memo_hit_and_replay_keyed_separately(
        self, spark, tmp_path, monkeypatch
    ):
        # tmp_path lives under the system temp root, which the
        # staleness guard treats as write-side (no memo) — pin the
        # guard elsewhere so this test exercises the memo path the
        # sf dirs take
        from alstom_spark_cassandra_spark.sources import loader

        monkeypatch.setattr(loader, "_TMP_ROOT", "/nonexistent-tmp-root")
        base = _write(tmp_path, "us")
        d1 = load_table(spark, base, "events")
        d2 = load_table(spark, base, "events")
        assert d1 is d2  # same plan object: no re-list / re-infer

        # replay resolves BEFORE the memo key: a replay load of a
        # replay-switched table must never alias the non-replay entry
        import shutil

        rep = tmp_path / "enc_us" / "instance_field.parquet"
        shutil.copy(
            tmp_path / "enc_us" / "events.parquet",
            tmp_path / "enc_us" / "instance_field_replay.parquet",
        )
        shutil.copy(tmp_path / "enc_us" / "events.parquet", rep)
        plain = load_table(spark, base, "instance_field", replay=False)
        replay = load_table(spark, base, "instance_field", replay=True)
        assert plain is not replay

    def test_query_df_memo_lazy_and_refresh_hatched(self, spark):
        """workloads._memo_query_df (update_history_dense wrapper,
        r16): the CONSTRUCTED lazy DataFrame is memoized per
        (session, sf_dir) — same plan object on repeat call, nothing
        persisted/cached — and refresh_tables() invalidates it
        together with the scan memo."""
        from alstom_spark_cassandra_spark.sources.loader import (
            refresh_tables,
        )
        from alstom_spark_cassandra_spark.workloads import SPARK_QUERIES

        sf = "/root/testdata/sf0.001"
        fn = SPARK_QUERIES["update_history_dense"]
        # lazy claim measured as a DELTA (the shared test session may
        # carry earlier tests' checkpoints): memoizing must persist
        # nothing new
        n_persisted_before = (
            spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        )
        d1 = fn(spark, sf)
        d2 = fn(spark, sf)
        assert d1 is d2  # memo hit: no plan rebuild, no scalar job
        assert (
            spark.sparkContext._jsc.sc().getPersistentRDDs().size()
            == n_persisted_before
        )
        assert "InMemoryTableScan" not in (
            d1._jdf.queryExecution().executedPlan().toString()
        )
        refresh_tables(spark)
        d3 = fn(spark, sf)
        assert d3 is not d1  # hatch drops the derived plan too

    def test_tmp_bases_never_memoized(self, spark, tmp_path):
        """Staleness guard (r15 VERDICT item 4): a base under the
        system temp root is write-side (streaming sinks, index
        scratch) — load_table must re-list it on every call, so a
        query that appends to such a directory mid-session can never
        read a frozen listing."""
        # pytest tmp lives under the system temp root; a DIRECTORY
        # parquet layout so a mid-session append is possible
        base = str(tmp_path / "writeside")
        rows = spark.range(5).selectExpr("id AS event_id")
        rows.write.parquet(f"{base}/events.parquet")
        d1 = load_table(spark, base, "events")
        d2 = load_table(spark, base, "events")
        assert d1 is not d2  # fresh listing per call
        # and the fresh listing SEES a mid-session append
        n0 = d1.count()
        spark.range(1).selectExpr("(100 + id) AS event_id").write.mode(
            "append"
        ).parquet(f"{base}/events.parquet")
        assert load_table(spark, base, "events").count() == n0 + 1

    def test_query_df_memo_skips_tmp_bases(self, spark, tmp_path):
        """The plan memo follows load_table's temp-root rule: after a
        part file lands in a write-side events directory, the
        memoized update_history_dense row must answer over the
        appended log (the DuckDB oracle), not from the plan and bound
        literals it built before the append."""
        import sys

        import duckdb
        import pyarrow.compute as pc

        sys.path.insert(0, ".")
        from scripts.check_oracle import duck_kinds, multiset

        from alstom_spark_cassandra_spark.workloads import (
            ORACLE_SQL,
            SPARK_QUERIES,
        )

        name = "update_history_dense"
        table = tmp_path / "writeside" / "events.parquet"
        table.mkdir(parents=True)
        events = pq.read_table("/root/testdata/sf0.001/events.parquet")
        pq.write_table(events, str(table / "part-0.parquet"))
        SPARK_QUERIES[name](spark, str(table.parent)).collect()
        shift = pc.max(events["event_id"])
        shifted = events.set_column(
            events.schema.get_field_index("event_id"),
            "event_id",
            pc.add(events["event_id"], shift),
        )
        pq.write_table(shifted, str(table / "part-1.parquet"))

        df = SPARK_QUERIES[name](spark, str(table.parent))
        cols = sorted(df.columns)
        got = [tuple(r[c] for c in cols) for r in df.collect()]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{table}/*.parquet'")
        res = con.execute(ORACLE_SQL[name])
        duck_cols = [d[0] for d in res.description]
        order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
        want = [tuple(r[i] for i in order) for r in res.fetchall()]
        kinds = [duck_kinds(con, ORACLE_SQL[name]).get(c) for c in cols]
        assert multiset(got, kinds) == multiset(want, kinds)

    def test_refresh_tables_invalidates(self, spark, tmp_path, monkeypatch):
        from alstom_spark_cassandra_spark.sources import loader

        monkeypatch.setattr(loader, "_TMP_ROOT", "/nonexistent-tmp-root")
        base = _write(tmp_path, "us")
        before = load_table(spark, base, "events")
        n0 = before.count()

        # refresh_tables() drops the memo — the next load re-lists
        # files and re-infers schema (Spark's refreshTable contract
        # for callers that mutate a table directory)
        from alstom_spark_cassandra_spark.sources.loader import (
            refresh_tables,
        )

        refresh_tables(spark)
        after = load_table(spark, base, "events")
        assert after is not before
        assert after.count() == n0
