"""Shared persistence contract for the persisted index families.

Every index family (MinHash, SimHash, BM25, IVF, PQ, positional,
winnow, semantic) pins its build parameters in a one-row parquet
inside the index directory, and every probe/append validates against
it — a mismatched parameter never errors on its own, it just
silently misses every old duplicate / mis-assigns every code /
hashes on a different grid.  Until round 14 each family implemented
this write/read/validate shape independently, with slightly
different missing-table handling (the round-12 SimHash-meta gap was
exactly this drift class); this module is the single implementation
they all share.

Contract:

- `write_index_params` — one-row, one-file parquet at
  `{index_path}/{table}` (families keep their historical table name:
  `params` or `meta`) with an EXPLICIT schema, so the on-disk layout
  of every family is byte-compatible with indexes written before the
  consolidation.
- `read_index_params` — the persisted Row, or None ONLY when the
  table does not exist (a pre-params index written before the
  family pinned its parameters); transient IO/permission failures
  re-raise — a flaky filesystem must never silently disable the
  mismatch guard.
- `validate_index_params` — the loud guard: compares the caller's
  expected parameters against the persisted row and raises a
  ValueError naming built vs asked values (`key=value` on both
  sides) plus the family's consequence clause; a missing table or a
  missing key (older layout) downgrades to a warning unless
  `required=True`.
"""

from __future__ import annotations

import warnings

from ..sources.loader import read_parquet


def write_index_params(
    spark, index_path: str, values: tuple, schema: str, table: str = "params"
) -> None:
    """Pin build parameters: one row, one file, explicit schema (the
    schema string is the family's historical column layout — keep it
    stable so old and new indexes stay mutually readable)."""
    spark.createDataFrame([tuple(values)], schema).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_path}/{table}")


def read_index_params(spark, index_path: str, table: str = "params"):
    """The persisted one-row params, or None when the table does not
    exist.  ONLY the missing-path case returns None — any other
    AnalysisException (permissions, corrupt footer surfaced as
    analysis error) re-raises, so a transient failure can never
    silently disable a mismatch guard."""
    from pyspark.errors import AnalysisException

    try:
        return read_parquet(spark, f"{index_path}/{table}").first()
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc) and (
            "Path does not exist" not in str(exc)
        ):
            raise
        return None


def validate_index_params(
    spark,
    index_path: str,
    expected: dict,
    why: str,
    *,
    table: str = "params",
    what: str = "index",
    required: bool = False,
):
    """Fail loudly when a probe/append call disagrees with the
    parameters the index was built with.

    Returns the persisted Row so callers can also ADOPT built values
    (the winnow pattern: parameters come FROM the index).  A missing
    table (pre-params index) warns and returns None — or raises when
    `required=True` (families whose operators cannot run at all
    without the pinned grid).  A missing KEY (row written by an older
    layout) warns and skips that key's comparison.  Comparison casts
    the persisted value to the expected value's type, so int/long and
    bool/int physical differences never false-positive."""
    row = read_index_params(spark, index_path, table)
    if row is None:
        if required:
            raise ValueError(
                f"{what} at {index_path} has no {table} table — it "
                "was not written by this family's build function, or "
                "the path is wrong"
            )
        warnings.warn(
            f"{what} at {index_path} has no {table} table; skipping "
            f"parameter-mismatch validation (pre-{table} index)",
            stacklevel=3,
        )
        return None
    fields = set(row.__fields__)
    bad = []
    for key, exp in expected.items():
        if key not in fields:
            warnings.warn(
                f"{what} at {index_path} has no {key} in {table}; "
                f"skipping {key} validation (older index layout)",
                stacklevel=3,
            )
            continue
        got = row[key]
        if got is None or type(exp)(got) != exp:
            bad.append((key, got, exp))
    if bad:
        built = ", ".join(f"{k}={g}" for k, g, _ in bad)
        asked = ", ".join(f"{k}={e}" for k, _, e in bad)
        raise ValueError(
            f"{what} at {index_path} was built with ({built}) but "
            f"this call asked for ({asked}) — {why}"
        )
    return row
