"""The benchmark's four workloads and the closed loop that drives them.

One client sends a request, waits for the answer, and only then sends
the next (an engineer at a console). Each workload object does its
own set-up, draws request parameters from the run's seed, executes one
request inside the timed section, and checks every result against
DuckDB after it. README.md in this directory says why each workload
exists and which layer metrics it moves.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from alstom_spark_cassandra_spark.operators import free_local_checkpoints
from alstom_spark_cassandra_spark.plans import (
    Arguments,
    get_multiple_fields,
    get_update_history,
)
from alstom_spark_cassandra_spark.sources import load_table, stream_source
from alstom_spark_cassandra_spark.streaming import (
    foreach_batch_upsert_sink,
    latest_value_stream,
    read_upsert_sink,
)
from alstom_spark_cassandra_spark.workloads import ORACLE_SQL, SPARK_QUERIES

from . import datagen, oracle
from .trace import Tracer

SERIES_KEY = ["uevol_field_id", "src_id", "dst_id"]
ARG_SCHEMA = "uevol_field_id string, src_id long, dst_id int, filter string"

# The 28 registry rows of the r1 headline contract (bench.py), pinned
# here so the pipeline workload keeps its meaning if bench.py changes.
HEADLINE = [
    "latest_per_key", "reconstruct_message", "snapshot_diff", "json_flatten",
    "locf", "pivot_matrix", "compaction", "sessionization",
    "tpch_q1", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q10",
    "tpch_q12", "tpch_q14", "tpch_q18", "tpch_q19", "topk_per_group",
    "event_deltas", "update_history_dense", "dedup_exact", "text_stats",
    "term_frequency", "distinctive_terms", "train_split",
    "minhash_signatures", "ann_cosine_topk",
]


def change_log(ev):
    """FIXTURES.md §B: `events` as the instance_field change log."""
    from pyspark.sql import functions as F

    return ev.select(
        F.col("event_type").alias("uevol_field_id"),
        F.col("user_id").alias("src_id"),
        F.lit(0).cast("int").alias("dst_id"),
        F.col("event_id").alias("instance_message_id"),
        F.lit("000").alias("relative_path"),
        F.lit(0).cast("int").alias("iteration"),
        F.col("value").alias("new_value"),
    )


def warm_up_engine(spark, data_dir: str) -> None:
    """Pay JIT, whole-stage codegen and scheduler start-up on a query
    that is none of the measured requests: scan, shuffle aggregate,
    window and broadcast join over the base tables."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{data_dir}/events.parquet")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.max_by("value", "event_id").alias("v"), F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    nation = spark.read.parquet(f"{data_dir}/nation.parquet")
    (per_user.withColumn("r", F.row_number().over(w)).filter("r <= 3")
     .join(F.broadcast(nation), F.col("user_id") % 25 == F.col("n_nationkey"))
     .collect())


class Request:
    def __init__(self, rid: str, kind: str, params: dict):
        self.rid, self.kind, self.params = rid, kind, params
        self.wall = 0.0
        self.parts: dict[str, float] = {}  # named sub-latencies
        self.rows_out = 0
        self.result = None
        self.error: str | None = None
        self.checked = True


class Workload:
    """Defaults for the optional hooks of a workload."""

    whole_pass = 1  # a run ends only after a multiple of this many requests

    def after(self, spark):
        """Clean up after a request, outside the timed section."""

    def final_checks(self, con, spark) -> tuple[int, str | None]:
        """(checks attempted, problem or None) once the loop is over."""
        return 0, None

    def stream_progress(self) -> list[dict]:
        return []

    def close(self):
        pass


class Lookup(Workload):
    """Q1/Q2 point queries (get_multiple_fields) on the base log:
    even requests are Q1 (every field of one random src, field
    wildcard -1), odd ones Q2 (1-8 random concrete series), at a
    random message id. A run measures whole Q1/Q2 pairs."""

    name = "lookup"
    whole_pass = 2
    WARM_PAIRS = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = ctx.data_dir

    def setup(self, spark):
        load_table(spark, self.base, "events")

    def warm(self, spark):
        # real series, but as of an id past the log's end, which the
        # measured requests (ids inside the log) never ask for
        at = self.ctx.n_events + 1000
        reqs = []
        for k in range(self.WARM_PAIRS):
            reqs.append(Request(f"warm{k}a", "q1", {"src": k, "at": at}))
            reqs.append(Request(f"warm{k}b", "q2", {"series": self.ctx.pool[k::997][:4], "at": at}))
        run_unmeasured(self, spark, reqs)

    def new_request(self, rng, i):
        at = rng.randrange(self.ctx.n_events)
        if i % 2 == 0:
            return Request(f"r{i}", "q1", {"src": rng.randrange(self.ctx.n_users), "at": at})
        series = rng.sample(self.ctx.pool, rng.randint(1, 8))
        return Request(f"r{i}", "q2", {"series": series, "at": at})

    def execute(self, spark, tr, req):
        p = req.params
        if req.kind == "q1":
            rows = (("-1", p["src"], 0, None),)
        else:
            rows = tuple((f, s, 0, None) for f, s in p["series"])
        with tr.span("sources.load_table"):
            ev = load_table(spark, self.base, "events")
        with tr.span("plans.construct", group=True):
            df = get_multiple_fields(change_log(ev), Arguments(rows, ARG_SCHEMA), p["at"])
        with tr.span("engine.execute", group=True):
            req.result = df.collect()
        req.rows_out = len(req.result)

    def check(self, con, req):
        p = req.params
        sql = oracle.multiple_fields_sql(
            "events", p.get("series"), p["at"],
            wildcard_src=p["src"] if req.kind == "q1" else None)
        return oracle.compare(con, sql, req.result)


class History(Workload):
    """Q3 dense update history (get_update_history) on the ×N log, in
    rounds of three request shapes — (8 series, 5% of the log),
    (32, 20%), (128, 50%) — with random series, window start and up to
    three value filters. The widest shape crosses the dense-grid
    guard's bound and pays its count job. Fixed shapes keep a run's
    mean steady although a run holds only one or two rounds."""

    name = "history"
    SHAPES = [(8, 0.05), (32, 0.20), (128, 0.50)]
    whole_pass = len(SHAPES)

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = os.path.join(ctx.data_root, f"x{ctx.copies}-{os.path.basename(ctx.data_dir)}")
        self.out = os.path.join(ctx.tmp, "history-out")

    def setup(self, spark):
        # re-derived on every set-up: it is part of what set-up costs
        n, mx = datagen.derive_log(self.ctx.con, self.ctx.data_dir, self.base, self.ctx.copies)
        self.ctx.rows["events_x"] = n
        self.max_id = mx
        self.ctx.con.execute(
            f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{self.base}/events.parquet'")
        load_table(spark, self.base, "events")

    def warm(self, spark):
        ghosts = [(t, self.ctx.n_users + 7) for t in datagen.EVENT_TYPES]
        run_unmeasured(self, spark, [Request("warm0", "q3", {
            "series": ghosts, "filters": {ghosts[0]: "value >= 1"},
            "start": self.max_id // 4, "end": self.max_id // 2})])

    def new_request(self, rng, i):
        n_series, frac = self.SHAPES[i % len(self.SHAPES)]
        series = rng.sample(self.ctx.pool, min(n_series, len(self.ctx.pool)))
        filters = {
            s: rng.choice(["value >= 1", "value < 300", "value >= 2 AND value < 400"])
            for s in rng.sample(series, rng.randint(0, 3))
        }
        width = int(self.max_id * frac)
        start = rng.randrange(self.max_id - width)
        return Request(f"r{i}", "q3", {"series": series, "filters": filters,
                                       "start": start, "end": start + width})

    def execute(self, spark, tr, req):
        p = req.params
        rows = tuple((f, s, 0, p["filters"].get((f, s))) for f, s in p["series"])
        with tr.span("sources.load_table"):
            ev = load_table(spark, self.base, "events")
        with tr.span("plans.construct", group=True):
            df = get_update_history(
                change_log(ev), Arguments(rows, ARG_SCHEMA), p["start"], p["end"],
                use_cache=False, sort_output=False)
        with tr.span("engine.execute", group=True):
            df.write.mode("overwrite").parquet(os.path.join(self.out, req.rid))

    def check(self, con, req):
        p = req.params
        out = os.path.join(self.out, req.rid)
        sql = oracle.update_history_sql("events", p["series"], p["filters"], p["start"], p["end"])
        req.rows_out, diff = oracle.parquet_matches(con, out, sql)
        shutil.rmtree(out, ignore_errors=True)
        return diff


class Pipeline(Workload):
    """One pass over the 28 headline registry rows, each built by its
    SPARK_QUERIES entry and executed into the noop sink.

    Checking a row re-executes it, so a run checks a quarter of the
    rows (every fourth, offset by the seed); four consecutive seeds
    check them all."""

    name = "pipeline"
    whole_pass = len(HEADLINE)

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = ctx.data_dir
        self.checked = set(HEADLINE[ctx.seed % 4::4])

    def setup(self, spark):
        for t in datagen.TABLES:
            load_table(spark, self.base, t)

    def warm(self, spark):
        # every headline row is measured, so none can warm the session
        warm_up_engine(spark, self.base)

    def new_request(self, rng, i):
        return Request(f"r{i}", HEADLINE[i % len(HEADLINE)], {})

    def execute(self, spark, tr, req):
        with tr.span("workloads.construct", group=True):
            t0 = time.perf_counter()
            df = SPARK_QUERIES[req.kind](spark, self.base)
            t1 = time.perf_counter()
        with tr.span("engine.execute", group=True):
            df.write.format("noop").mode("overwrite").save()
        req.parts = {"construct": t1 - t0, "execute": time.perf_counter() - t1}

    def after(self, spark):
        # outside the timed section: no row inherits another's caches
        spark.catalog.clearCache()
        free_local_checkpoints(spark)

    def check(self, con, req):
        if req.kind not in self.checked:
            req.checked = False
            return None
        spark = self.ctx.spark
        try:
            rows = SPARK_QUERIES[req.kind](spark, self.base).collect()
        finally:
            self.after(spark)
        req.rows_out = len(rows)
        return oracle.compare(con, ORACLE_SQL[req.kind], rows)


class Ingest(Workload):
    """Write beside read on a writable copy of the base events under
    the temp dir (the loader never memoizes listings there). Each
    request lands a seeded batch of new change rows as a part file,
    lets a long-running stream_source -> latest_value_stream ->
    foreach_batch_upsert_sink query drain it, then runs a
    read-after-write Q2 on series the batch touched at the new max
    id."""

    name = "ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.tmp, "ingest")
        self.base = os.path.join(self.root, "base")
        self.table = os.path.join(self.base, "events.parquet")
        self.query = None

    def setup(self, spark):
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.table)
        shutil.copyfile(os.path.join(self.ctx.data_dir, "events.parquet"),
                        os.path.join(self.table, "part-00000.parquet"))
        load_table(spark, self.base, "events")
        self.next_id = self.ctx.n_events
        self.next_ts = datagen.EVENT_T0_US + datagen.EVENT_SPAN_US
        self.landed = 0
        self.files = 0

    def warm(self, spark):
        """Start the long-running query, drain the base copy, then run
        one fixed cycle the measured ones (drawn from the run seed)
        never repeat."""
        agg = latest_value_stream(change_log(stream_source(spark, self.base, "events")),
                                  SERIES_KEY)
        self.query = (
            agg.writeStream.outputMode("update")
            .foreachBatch(foreach_batch_upsert_sink(os.path.join(self.root, "sink")))
            .option("checkpointLocation", os.path.join(self.root, "ckpt"))
            .start()
        )
        self.query.processAllAvailable()
        run_unmeasured(self, spark, [Request("warm0", "cycle", {
            "rows": 500, "batch_seed": 1 << 40, "series_seed": 1 << 40})])
        self.warm_batch_id = self.query.lastProgress["batchId"]

    def new_request(self, rng, i):
        n = rng.randint(100, 1000)
        return Request(f"r{i}", "cycle", {"rows": n, "batch_seed": rng.getrandbits(32),
                                          "series_seed": rng.getrandbits(32)})

    def execute(self, spark, tr, req):
        p = req.params
        nrng = np.random.default_rng(p["batch_seed"])
        n = p["rows"]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        ts = self.next_ts + np.cumsum(nrng.integers(1, 20_000_000, n))
        batch = datagen.event_rows(nrng, ids, ts, self.ctx.n_users)
        self.next_id += n
        self.next_ts = int(ts[-1])
        touched = sorted(set(zip(batch["event_type"].to_pylist(), batch["user_id"].to_pylist())))
        pick = random.Random(p["series_seed"])
        series = pick.sample(touched, min(len(touched), pick.randint(1, 8)))
        req.params = {**p, "series": series, "at": int(ids[-1])}
        t0 = time.perf_counter()
        with tr.span("harness.land"):
            self.files += 1
            name = f"part-{self.files:05d}.parquet"
            hidden = os.path.join(self.table, "." + name)
            pq.write_table(batch, hidden)
            os.rename(hidden, os.path.join(self.table, name))
            self.landed += n
        t_land = time.perf_counter()
        with tr.span("streaming.drain"):
            self.query.processAllAvailable()
        t_commit = time.perf_counter()
        rows = tuple((f, s, 0, None) for f, s in series)
        with tr.span("sources.load_table"):
            ev = load_table(spark, self.base, "events")
        with tr.span("plans.construct", group=True):
            df = get_multiple_fields(change_log(ev), Arguments(rows, ARG_SCHEMA), int(ids[-1]))
        with tr.span("engine.execute", group=True):
            req.result = df.collect()
        req.rows_out = len(req.result)
        req.parts = {"land": t_land - t0, "batch": t_commit - t_land,
                     "read": time.perf_counter() - t_commit}

    def check(self, con, req):
        log = f"read_parquet('{self.table}/*.parquet')"
        sql = oracle.multiple_fields_sql(log, req.params["series"], req.params["at"])
        return oracle.compare(con, sql, req.result)

    def final_checks(self, con, spark):
        """Appended log and the upsert sink's latest state (one check)."""
        log = f"read_parquet('{self.table}/*.parquet')"
        n, mx = con.execute(f"SELECT count(*), max(event_id) FROM {log}").fetchone()
        want = (self.ctx.n_events + self.landed, self.next_id - 1)
        problems = []
        if (n, mx) != want:
            problems.append(f"appended log (rows, max id) {(n, mx)}, want {want}")
        state = read_upsert_sink(spark, os.path.join(self.root, "sink"), SERIES_KEY).collect()
        diff = oracle.compare(con, oracle.latest_state_sql(log), state)
        if diff:
            problems.append(f"upsert sink state: {diff}")
        return 1, "; ".join(problems) or None

    def stream_progress(self):
        prog = [p if isinstance(p, dict) else json.loads(p.json)
                for p in self.query.recentProgress]
        return [p for p in prog
                if p["batchId"] > self.warm_batch_id and p.get("numInputRows", 0) > 0]

    def close(self):
        if self.query is not None:
            self.query.stop()


WORKLOADS = {w.name: w for w in (Lookup, History, Pipeline, Ingest)}


def run_unmeasured(wl, spark, reqs) -> None:
    """Warm-up: the workload's own code paths, with parameters the
    measured requests never use, untimed and unchecked."""
    off = Tracer(None, enabled=False)
    for req in reqs:
        wl.execute(spark, off, req)
        wl.after(spark)


def closed_loop(wl, spark, tr, seed: int, seconds: float) -> list[Request]:
    """Send requests one at a time until `seconds` have passed (the
    pipeline always finishes its pass). A request that raises is kept,
    with its traceback, as a failure."""
    rng = random.Random(seed)
    reqs: list[Request] = []
    whole = wl.whole_pass
    deadline = time.perf_counter() + seconds
    i = 0
    while i % whole or time.perf_counter() < deadline or not reqs:
        req = wl.new_request(rng, i)
        t0 = time.perf_counter()
        try:
            with tr.span("harness.request", request=req.rid):
                wl.execute(spark, tr, req)
        except Exception:  # noqa: BLE001 — a failed request is a measured outcome
            req.error = traceback.format_exc(limit=3)[-800:]
        req.wall = time.perf_counter() - t0
        wl.after(spark)
        reqs.append(req)
        i += 1
    return reqs
