"""Deterministic synthetic tables for the benchmark.

The benchmark must run from a bare source checkout, so it cannot rely
on any dataset outside it. This module writes the ten tables the
query registry reads (TPC-H-style star schema, the `events` change
log, `documents`, `embeddings`) with the same column names, types and
value domains as the testdata described in TESTDATA.md and
FIXTURES.md §B, at a given scale factor, from a fixed data seed.

The same (sf, DATA_SEED, GEN_VERSION) always gives byte-identical
values, so a generated directory is cached and reused by later runs
(`ensure_dataset`). Request parameters come from the run's --seed,
never from here.

`derive_log` builds the ×N events log of the `history` workload with
DuckDB: copy k of N offsets `event_id` by k·(max+1) and `ts` by
k·30 days, so the log grows while its series stay the same.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated values change, so cached datasets rebuild.
GEN_VERSION = 1

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw"]
_DAY_US = 86_400 * 1_000_000


def _days(rng, n, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf` (row counts follow the
    testdata: 6M·sf lineitems, 1M·sf events over 15000·sf users)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    p_types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": p_types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t["events"] = event_rows(
        rng,
        event_ids=np.arange(n_ev, dtype=np.int64),
        ts_us=np.sort(rng.choice(EVENT_SPAN_US, n_ev, replace=False)) + EVENT_T0_US,
        n_users=n_users,
    )

    vocab = np.array(_VOCAB)
    n_words = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    # ~5% near-duplicates: an earlier document's text plus a marker word
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def event_rows(rng, event_ids, ts_us, n_users: int) -> pa.Table:
    """`events` rows for the given ids and epoch-µs times: random
    user and type, exponential value (mean 50, cents), small JSON props."""
    n = len(event_ids)
    return pa.table({
        "event_id": pa.array(event_ids, pa.int64()),
        "ts": pa.array(np.asarray(ts_us, dtype=np.int64).astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def ensure_dataset(root: str, sf: float) -> str:
    """Directory of the ten tables at `sf`, generated on first use."""
    final = os.path.join(root, f"sf{sf}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".gen-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run published the same tables first
        shutil.rmtree(tmp)
    return final


def derive_log(con, src_dir: str, dst_dir: str, copies: int) -> tuple[int, int]:
    """Write `copies` shifted copies of src events as dst events.

    Returns the verified (row count, max event_id); raises if the
    written log does not have exactly copies × the source rows."""
    src = f"{src_dir}/events.parquet"
    n, mx = con.execute(f"SELECT count(*), max(event_id) FROM '{src}'").fetchone()
    stride = mx + 1
    tmp = f"{dst_dir}.tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp)
    con.execute(
        f"""COPY (
          SELECT event_id + k * {stride} AS event_id,
                 ts + to_days(CAST(k * 30 AS INTEGER)) AS ts,
                 user_id, event_type, value, props
          FROM '{src}', range({copies}) r(k)
          ORDER BY event_id
        ) TO '{tmp}/events.parquet' (FORMAT parquet)"""
    )
    got_n, got_mx = con.execute(
        f"SELECT count(*), max(event_id) FROM '{tmp}/events.parquet'"
    ).fetchone()
    want = (n * copies, mx + (copies - 1) * stride)
    if (got_n, got_mx) != want:
        raise RuntimeError(f"derived log has (rows, max id) {(got_n, got_mx)}, want {want}")
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.rename(tmp, dst_dir)
    return got_n, got_mx
