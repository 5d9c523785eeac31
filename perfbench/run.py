"""Benchmark entry point: one workload, one fresh process and session.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout and reads and writes only
under it (generated data, derived logs and every temp file live in
`.perfbench_work/`). Prints a details line (seed, dataset rows,
environment, failures) and, last, one JSON object
`{"correct", "attempted", "failed", "metrics"}`: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics, read from
spans and engine counters of that run. See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SIZES = {"full": (0.1, 20), "tiny": (0.001, 2)}  # (scale factor, ×N log copies)
SETUP_REPEATS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lookup", "history", "pipeline", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    return ap.parse_args(argv)


def isolate(tmp: str) -> int:
    """Point every temp location of Python, the JVM and Spark at
    `tmp`; return the core count the session will use."""
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    return len(os.sched_getaffinity(0))


class Context:
    """What the workloads share within one run."""

    def __init__(self, size: str, seed: int, tmp: str):
        import duckdb
        import pyarrow.parquet as pq

        from perfbench import datagen

        self.sf, self.copies = SIZES[size]
        self.seed = seed
        self.tmp = tmp
        self.data_root = os.path.join(WORK, "data")
        self.data_dir = datagen.ensure_dataset(self.data_root, self.sf)
        self.rows = {
            t: pq.ParquetFile(f"{self.data_dir}/{t}.parquet").metadata.num_rows
            for t in datagen.TABLES
        }
        self.n_events = self.rows["events"]
        self.n_users = int(15_000 * self.sf)
        self.pool = [(t, u) for t in datagen.EVENT_TYPES for u in range(self.n_users)]
        self.con = duckdb.connect()
        for t in datagen.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        self.spark = None


def env_record(spark, cores: int, graft_cpus) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": graft_cpus,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(setups, reqs) -> dict:
    walls = [r.wall for r in reqs]
    return {
        "setup_s": (_median(setups), "s"),
        "request_p50_s": (_median(walls), "s"),
        "request_mean_s": (statistics.fmean(walls), "s"),
    }


def per_layer(reqs, tr, cores, get_spark_s, warmup_s, engine, stream) -> dict:
    from perfbench.loads import HEADLINE
    from perfbench.trace import self_times

    n = len(reqs)
    spans = [s for s in tr.spans if s["request"] is not None]

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def span_count(name):
        return sum(1 for s in spans if s["name"] == name)

    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "sources.load_table_s": (span_sum("sources.load_table") / n, "s"),
        "sources.load_table_calls": (span_count("sources.load_table") / n, "count"),
    }
    for layer in ("plans", "workloads"):
        m[f"{layer}.construct_s"] = (span_sum(f"{layer}.construct") / n, "s")
        m[f"{layer}.construct_jobs"] = (engine[f"{layer}.construct"]["jobs"] / n, "count")
    first_pass = {r.kind: r for r in reversed(reqs) if r.kind in HEADLINE}
    for row in HEADLINE:
        parts = first_pass[row].parts if row in first_pass else {}
        m[f"pipeline.{row}.construct_s"] = (parts.get("construct", 0.0), "s")
        m[f"pipeline.{row}.execute_s"] = (parts.get("execute", 0.0), "s")
    ex_s = span_sum("engine.execute")
    e = engine["engine.execute"]
    m["engine.execute_s"] = (ex_s / n, "s")
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "input_rows"):
        m[f"engine.{k}"] = (e[k] / n, "s" if k.endswith("_s") else "count")
    m["engine.busy_frac"] = (e["task_run_s"] / (ex_s * cores) if ex_s else 0.0, "ratio")
    rows_out = sum(r.rows_out for r in reqs)
    m["engine.rows_read_per_row_out"] = (e["input_rows"] / rows_out if rows_out else 0.0, "ratio")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"engine.{k}"] = (e[k] / n, "bytes")
    nb = stream["batches"] or 1
    for k in ("trigger_s", "add_batch_s", "query_planning_s", "wal_commit_s"):
        m[f"streaming.{k}"] = (stream[k] / nb, "s")
    m["streaming.input_rows"] = (stream["input_rows"] / nb, "count")
    self_s = self_times(spans)
    for layer in ("harness", "sources", "plans", "workloads", "engine", "streaming"):
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0) / n, "s")
    by_kind = {}
    for r in reqs:
        by_kind.setdefault(r.kind, []).append(r.wall)
    m["lookup.q1_p50_s"] = (_median(by_kind.get("q1", [])), "s")
    m["lookup.q2_p50_s"] = (_median(by_kind.get("q2", [])), "s")
    m["ingest.batch_p50_s"] = (_median([r.parts["batch"] for r in reqs if "batch" in r.parts]), "s")
    m["ingest.read_p50_s"] = (_median([r.parts["read"] for r in reqs if "read" in r.parts]), "s")
    m["trace.overhead_frac"] = (tr.overhead_s / sum(r.wall for r in reqs), "ratio")
    return m


def run(args, tmp: str, cores: int) -> tuple[dict, dict]:
    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    import alstom_spark_cassandra_spark
    from alstom_spark_cassandra_spark.session import get_spark

    if not alstom_spark_cassandra_spark.__file__.startswith(ROOT + os.sep):
        raise SystemExit(f"the package must come from this checkout ({ROOT}), "
                         f"not {alstom_spark_cassandra_spark.__file__}")

    from perfbench import loads
    from perfbench.trace import Tracer, stage_totals, stream_totals

    ctx = Context(args.size, args.seed, tmp)
    wl = loads.WORKLOADS[args.workload](ctx)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    setups, get_spark_times = [], []
    spark = None
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
            get_spark_times.append(time.perf_counter() - t0)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        ctx.spark = spark
        tr = Tracer(spark.sparkContext, enabled=bool(args.trace))
        t0 = time.perf_counter()
        wl.warm(spark)
        warmup_s = time.perf_counter() - t0

        reqs = loads.closed_loop(wl, spark, tr, args.seed, args.seconds)

        if args.trace:
            sc = spark.sparkContext
            engine = {name: stage_totals(sc, tr.groups.get(name, []))
                      for name in ("plans.construct", "workloads.construct", "engine.execute")}
            stream = stream_totals(wl.stream_progress())
        failures = []
        for r in reqs:
            if r.error is None:
                try:
                    r.error = wl.check(ctx.con, r)
                except Exception as exc:  # noqa: BLE001 — reported as a failure
                    r.error = f"check raised {type(exc).__name__}: {exc}"[:800]
            if r.error:
                failures.append({"request": r.rid, "kind": r.kind,
                                 "params": repr(r.params)[:600], "error": r.error})
        n_final, problem = wl.final_checks(ctx.con, spark)
        attempted = len(reqs) + n_final
        if problem:
            failures.append({"request": "final-state", "error": problem})

        if args.trace:
            metrics = per_layer(reqs, tr, cores, _median(get_spark_times), warmup_s,
                                engine, stream)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tr.write(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(setups, reqs)
        details = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "size": args.size, "trace": args.trace, "rows": ctx.rows,
            "env": env_record(spark, cores, graft_cpus),
            "setup_samples_s": setups,
            "request_walls_s": [round(r.wall, 4) for r in reqs],
            "checked": sum(r.checked for r in reqs),
            "failures": failures,
        }
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return details, result
    finally:
        wl.close()
        if spark is not None:
            spark.stop()
            _stop_jvm()


def _stop_jvm() -> None:
    """End the py4j gateway JVM and wait for its process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    cores = isolate(tmp)
    sys.path.insert(0, ROOT)
    try:
        details, result = run(args, tmp, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"perfbench": details}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
