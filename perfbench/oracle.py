"""DuckDB twins of the benchmark's requests, and result comparison.

Every check runs after the timed section. Q1/Q2 (get_multiple_fields)
and Q3 (get_update_history) twins are written here for the generated
parameters over the FIXTURES.md §B mapping of `events` (event_type ≙
field, user_id ≙ src, dst ≙ 0, event_id ≙ message clock). Registry
rows use the registry's own ORACLE_SQL. Comparison is the
type-sensitive multiset of scripts/check_oracle.py: schema (sorted
column names), row count, then every row as a bag of canonical cells.
"""

from __future__ import annotations

from collections import Counter
from datetime import date, datetime
from decimal import Decimal


def canon(v, kind=None):
    """(kind, value) cell: an int on one side and a float on the other
    mismatch even when numerically equal."""
    if v is None:
        return ("n", None)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        return ("f", float(v))
    if isinstance(v, float) or kind == "f":
        f = float(v)
        return ("f", "NaN") if f != f else ("f", f + 0.0)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (datetime, date)):
        return ("d", str(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    return ("s", v) if isinstance(v, str) else ("o", v)


def _duck_float_cols(con, sql: str) -> set[str]:
    """HUGEINT/DECIMAL oracle columns compare as floats (how the
    pandas-based canonicalizer sees them)."""
    desc = con.execute(f"DESCRIBE ({sql.rstrip().rstrip(';')})").fetchall()
    return {
        name for name, ctype, *_ in desc
        if ctype.upper() in ("HUGEINT", "UHUGEINT") or ctype.upper().startswith("DECIMAL")
    }


def compare(con, sql: str, spark_rows) -> str | None:
    """None when the Spark rows equal the DuckDB result of `sql` as a
    multiset; otherwise a short description of the difference."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    floats = _duck_float_cols(con, sql)
    s_cols = sorted(spark_rows[0].asDict()) if spark_rows else sorted(d_cols)
    if sorted(d_cols) != s_cols:
        return f"schema: spark={s_cols} duck={sorted(d_cols)}"
    if len(spark_rows) != len(d_rows):
        return f"rows: spark={len(spark_rows)} duck={len(d_rows)}"
    order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
    got = Counter(tuple(canon(r[c]) for c in s_cols) for r in spark_rows)
    want = Counter(
        tuple(canon(r[i], "f" if d_cols[i] in floats else None) for i in order)
        for r in d_rows
    )
    if got == want:
        return None
    return (f"values: only-spark={list((got - want).items())[:2]} "
            f"only-duck={list((want - got).items())[:2]}")


def _lit(v) -> str:
    return "'" + v.replace("'", "''") + "'" if isinstance(v, str) else str(int(v))


def _args_sql(series) -> str:
    rows = ", ".join(f"({_lit(f)}, CAST({int(s)} AS BIGINT), 0)" for f, s in series)
    return f"SELECT * FROM (VALUES {rows}) a(uevol_field_id, src_id, dst_id)"


def multiple_fields_sql(log: str, series, at_id: int, wildcard_src: int | None = None) -> str:
    """Q2 twin: latest value per requested series at `at_id`, -1
    defaults for a series with no update yet. With `wildcard_src`
    the series are every field the log holds for that src (Q1)."""
    if wildcard_src is not None:
        args = (f"SELECT DISTINCT event_type AS uevol_field_id, user_id AS src_id, "
                f"0 AS dst_id FROM {log} WHERE user_id = {int(wildcard_src)}")
    else:
        args = _args_sql(series)
    return f"""
WITH args AS ({args}),
latest AS (
  SELECT a.uevol_field_id, a.src_id, a.dst_id,
         arg_max(ev.value, ev.event_id) AS value, max(ev.event_id) AS id
  FROM args a JOIN {log} ev
    ON ev.event_type = a.uevol_field_id AND ev.user_id = a.src_id
   AND ev.event_id <= {int(at_id)}
  GROUP BY ALL
)
SELECT a.uevol_field_id, a.src_id, a.dst_id, '000' AS relative_path,
       coalesce(l.value, -1.0) AS value,
       coalesce(l.id, -1) AS instance_message_id
FROM args a LEFT JOIN latest l USING (uevol_field_id, src_id, dst_id)
"""


def update_history_sql(log: str, series, filters: dict, start: int, end: int) -> str:
    """Q3 twin: dense LOCF matrix of the series over (start, end], the
    start state at `start` (default -1), keeping only time points at
    which every filtered series passes its filter."""
    checks = " ".join(
        f"WHEN uevol_field_id = {_lit(f)} AND src_id = {int(s)} "
        f"THEN CASE WHEN {flt} THEN 1 ELSE 0 END"
        for (f, s), flt in sorted(filters.items())
    )
    keep = f"CASE {checks} ELSE 1 END" if checks else "1"
    return f"""
WITH args AS ({_args_sql(series)}),
start_state AS (
  SELECT a.uevol_field_id, a.src_id, a.dst_id,
         CAST({int(start)} AS BIGINT) AS instance_message_id,
         coalesce(arg_max(ev.value, ev.event_id), -1.0) AS value
  FROM args a LEFT JOIN {log} ev
    ON ev.event_type = a.uevol_field_id AND ev.user_id = a.src_id
   AND ev.event_id <= {int(start)}
  GROUP BY ALL
),
updates AS (
  SELECT a.uevol_field_id, a.src_id, a.dst_id,
         ev.event_id AS instance_message_id, ev.value
  FROM {log} ev JOIN args a
    ON ev.event_type = a.uevol_field_id AND ev.user_id = a.src_id
  WHERE ev.event_id > {int(start)} AND ev.event_id <= {int(end)}
),
hist AS (SELECT * FROM start_state UNION ALL SELECT * FROM updates),
grid AS (
  SELECT a.uevol_field_id, a.src_id, a.dst_id, i.instance_message_id
  FROM args a CROSS JOIN (SELECT DISTINCT instance_message_id FROM hist) i
),
filled AS (
  SELECT g.uevol_field_id, g.src_id, g.dst_id, g.instance_message_id,
         last_value(h.value IGNORE NULLS) OVER (
           PARTITION BY g.uevol_field_id, g.src_id, g.dst_id
           ORDER BY g.instance_message_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
  FROM grid g LEFT JOIN hist h
    USING (uevol_field_id, src_id, dst_id, instance_message_id)
),
good AS (
  SELECT instance_message_id FROM filled
  GROUP BY instance_message_id HAVING min({keep}) = 1
)
SELECT * FROM filled WHERE instance_message_id IN (SELECT * FROM good)
"""


def parquet_matches(con, got_dir: str, sql: str) -> tuple[int, str | None]:
    """(rows written, difference or None) between the parquet output
    in `got_dir` and the twin `sql`, as a multiset of rows in DuckDB."""
    cols = "uevol_field_id, src_id, dst_id, instance_message_id, value"
    got = f"(SELECT {cols} FROM read_parquet('{got_dir}/*.parquet'))"
    want = f"(SELECT {cols} FROM ({sql}))"
    n_got, n_want, extra, missing = con.execute(
        f"SELECT (SELECT count(*) FROM {got}), (SELECT count(*) FROM {want}), "
        f"(SELECT count(*) FROM ({got} EXCEPT ALL {want})), "
        f"(SELECT count(*) FROM ({want} EXCEPT ALL {got}))"
    ).fetchone()
    if n_got == n_want and extra == 0 and missing == 0:
        return n_got, None
    return n_got, f"rows: spark={n_got} duck={n_want}, only-spark={extra} only-duck={missing}"


def latest_state_sql(log: str) -> str:
    """Twin of the streaming upsert sink's final state."""
    return f"""
SELECT event_type AS uevol_field_id, user_id AS src_id, 0 AS dst_id,
       max(event_id) AS last_update_id,
       arg_max(value, event_id) AS current_value
FROM {log} GROUP BY ALL
"""
