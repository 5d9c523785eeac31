"""The Q-family registry rows on an empty `events` table: each must
answer what the DuckDB oracle answers (defaults for the as-of rows, an
empty history), never a TypeError from a NULL max(event_id)."""

import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, ".")

from scripts.check_oracle import duck_kinds, multiset  # noqa: E402

from alstom_spark_cassandra_spark.workloads import (  # noqa: E402
    ORACLE_SQL,
    SPARK_QUERIES,
)

SF = "/root/testdata/sf0.001"
ROWS = [
    "multiple_fields_asof",
    "multiple_fields_state",
    "multiple_fields_snapshot",
    "update_history_dense",
    "update_history_chunked",
]


@pytest.fixture(scope="module")
def empty_events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_events")
    schema = pq.read_schema(f"{SF}/events.parquet")
    pq.write_table(pa.Table.from_batches([], schema), str(d / "events.parquet"))
    return str(d)


def test_q_rows_on_empty_events_match_oracle(spark, empty_events_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{empty_events_dir}/events.parquet'"
    )
    for name in ROWS:
        df = SPARK_QUERIES[name](spark, empty_events_dir)
        cols = sorted(df.columns)
        got = [tuple(r[c] for c in cols) for r in df.collect()]
        res = con.execute(ORACLE_SQL[name])
        duck_cols = [d[0] for d in res.description]
        order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
        want = [tuple(r[i] for i in order) for r in res.fetchall()]
        kinds = duck_kinds(con, ORACLE_SQL[name])
        assert cols == sorted(duck_cols), name
        assert multiset(got, [kinds.get(c) for c in cols]) == multiset(
            want, [kinds.get(c) for c in cols]
        ), (name, got, want)
