"""Benchmark runner (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query materializes through the noop sink so the full plan
executes (count() alone lets Catalyst prune work).

MEASUREMENT PROTOCOL (read before comparing rounds): the contract
number is wall-clock on an OTHERWISE-QUIET box, and since round 13
the protocol is noise-robust by construction: THREE full
INTERLEAVED passes over the headline list (pass 1 all queries, then
pass 2, then pass 3 — not three back-to-back runs of one query), a
query's recorded number is the MINIMUM of its three samples, and
the raw per-pass samples ship in the JSON ("samples") so drift is
auditable after the fact.  Interleaving is the point: host-level
interference (the r12 artifact read 32.1 s on a day six same-code
runs spread 19.4–40.7 s) arrives in bursts, so consecutive samples
of one query share the burst, while samples minutes apart do not —
the min-of-3 then recovers the quiet-box number unless the
interference lasts the whole bench.  The minimum is the right
statistic here because the code's cost is the FLOOR of the
distribution (noise only ever adds), and it is what BASELINE.md's
r1 contract numbers measured in practice on a quiet box.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from alstom_spark_cassandra_spark.operators import free_local_checkpoints
from alstom_spark_cassandra_spark.session import get_spark
from alstom_spark_cassandra_spark.workloads import SPARK_QUERIES

HEADLINE = [
    "latest_per_key",
    "reconstruct_message",
    "snapshot_diff",
    "json_flatten",
    "locf",
    "pivot_matrix",
    "compaction",
    "sessionization",
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q12",
    "tpch_q14",
    "tpch_q18",
    "tpch_q19",
    "topk_per_group",
    "event_deltas",
    "update_history_dense",
    "dedup_exact",
    "text_stats",
    "term_frequency",
    "distinctive_terms",
    "train_split",
    "minhash_signatures",
    "ann_cosine_topk",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # warm up the JVM / codegen / parquet footer cache so the first
    # timed query isn't charged for session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1).collect()

    # min-of-3 INTERLEAVED (see module docstring): pass k times the
    # whole list before any query's sample k+1, so a host-interference
    # burst cannot contaminate all of one query's samples.  Each query
    # is error-isolated: one broken query must never zero out the
    # whole bench artifact (round 3 lost its bench to a single
    # analysis error) — it lands in "errors" and the rest still time.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    errors: dict[str, str] = {}
    for _pass in range(3):
        for name in HEADLINE:
            if name in errors:
                continue
            fn = SPARK_QUERIES[name]
            try:
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples[name].append(round(time.time() - t0, 3))
            except Exception as exc:  # noqa: BLE001 — isolate per query
                # record the error but KEEP any samples already
                # collected in earlier passes: a transient pass-3
                # failure must not discard a valid min-of-2 timing
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            # outside the timed section: drop any caches/checkpoints a
            # query left behind so later timings aren't cross-polluted
            spark.catalog.clearCache()
            free_local_checkpoints(spark)

    timings = {
        name: min(vals) for name, vals in samples.items() if vals
    }
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": {n: v for n, v in samples.items() if v},
        "sf": float(sf),
        "master": spark.sparkContext.master,
        "cpus": spark.sparkContext.defaultParallelism,
    }
    if errors:
        out["errors"] = errors
        # a query can carry BOTH samples and an error (earlier passes
        # succeeded, a later one failed); tag those explicitly so a
        # consumer never mistakes an error-truncated min-of-N for a
        # clean one — "partial" maps each such query to its clean
        # pass count
        partial = {
            n: len(samples[n]) for n in errors if samples.get(n)
        }
        if partial:
            out["partial"] = partial
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
