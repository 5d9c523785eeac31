"""sources.read_parquet: Spark's own parquet DataFrame, with the schema
read from one footer on the driver instead of by a Spark job.

Parity is against `spark.read.parquet(...)`, whose inference the helper
replaces; the zero-job test is the point of the helper."""

import ast
import pathlib
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from alstom_spark_cassandra_spark.operators.index_meta import read_index_params
from alstom_spark_cassandra_spark.sources import (
    TESTDATA_TABLES,
    load_table,
    read_parquet,
    stream_source,
)
from alstom_spark_cassandra_spark.sources.loader import refresh_tables

SF = "/root/testdata/sf0.001"
PACKAGE = pathlib.Path(__file__).resolve().parent.parent / (
    "alstom_spark_cassandra_spark"
)
INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"


def _same_schema(spark, *paths):
    inferred = spark.read.parquet(*paths).schema
    assert read_parquet(spark, *paths).schema == inferred


def test_flat_file_and_part_file_directory(spark, tmp_path):
    _same_schema(spark, f"{SF}/events.parquet")
    out = str(tmp_path / "parts")
    spark.range(40).selectExpr(
        "id", "cast(id as string) s", "id * 0.5 x"
    ).repartition(4).write.parquet(out)
    _same_schema(spark, out)


def test_hidden_in_flight_file_is_skipped(spark, tmp_path):
    """The ingest landing pattern: a `.part-*` copy in flight sorts
    first but is not part of the table, so its schema must not win."""
    out = tmp_path / "landing"
    spark.range(5).selectExpr("id", "id * 2 v").coalesce(1).write.parquet(
        str(out)
    )
    pq.write_table(
        pa.table({"other": pa.array(["x"])}), str(out / ".part-00000.parquet")
    )
    _same_schema(spark, str(out))
    assert read_parquet(spark, str(out)).columns == ["id", "v"]


@pytest.mark.parametrize("infer", ["true", "false"])
def test_partitioned_directory(spark, tmp_path, infer):
    out = str(tmp_path / "part")
    spark.range(30).selectExpr(
        "id", "lpad(cast(id % 3 as string), 2, '0') bucket"
    ).write.partitionBy("bucket").parquet(out)
    saved = spark.conf.get(INFER_KEY)
    spark.conf.set(INFER_KEY, infer)
    try:
        _same_schema(spark, out)
        got = read_parquet(spark, out)
        assert got.columns == ["id", "bucket"]
        assert got.count() == 30
    finally:
        spark.conf.set(INFER_KEY, saved)


def test_multiple_paths_and_mixed_schema(spark, tmp_path):
    """Spark reads the first data file by full path; the later one's
    extra column is not in the schema. Path order in the call does
    not matter."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).selectExpr("id", "id * 1.5 x").write.parquet(a)
    spark.range(3).selectExpr("id", "cast(id as string) y").write.parquet(b)
    _same_schema(spark, b, a)
    assert read_parquet(spark, b, a).columns == ["id", "x"]
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"id": [1], "z": ["q"]}), str(mixed / "b.parquet"))
    pq.write_table(pa.table({"id": [2], "w": [0.5]}), str(mixed / "a.parquet"))
    _same_schema(spark, str(mixed))
    assert read_parquet(spark, str(mixed)).columns == ["id", "w"]


def test_zero_row_file(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    schema = pq.read_schema(f"{SF}/events.parquet")
    pq.write_table(pa.Table.from_batches([], schema), path)
    _same_schema(spark, path)
    assert read_parquet(spark, path).count() == 0


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_testdata_tables(spark, table):
    _same_schema(spark, f"{SF}/{table}.parquet")


def test_missing_path_raises_path_not_found(spark, tmp_path):
    missing = str(tmp_path / "nope")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, missing)
    assert read_index_params(spark, str(tmp_path)) is None


def test_empty_directory_raises_unable_to_infer(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(empty))


def test_opening_tables_starts_no_job(spark):
    """Schema inference was one job per open. load_table over the ten
    tables (memo path), on a temp-root base (never memoized) and a
    stream source must now open everything without one."""
    sc = spark.sparkContext
    base = tempfile.mkdtemp()
    try:
        shutil.copy(f"{SF}/events.parquet", f"{base}/events.parquet")
        refresh_tables(spark)
        group = "read_parquet_zero_jobs"
        sc.setJobGroup(group, "open tables")
        try:
            for table in TESTDATA_TABLES:
                load_table(spark, SF, table)
            load_table(spark, base, "events")
            stream_source(spark, SF, "events")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        shutil.rmtree(base)


def test_no_plain_parquet_read_outside_helper():
    """The package has one way to open parquet: every `.read.parquet(`
    lies inside sources.loader.read_parquet."""
    offenders = []
    for path in PACKAGE.rglob("*.py"):
        src = path.read_text()
        allowed = set()
        for node in ast.walk(ast.parse(src)):
            if getattr(node, "name", None) == "read_parquet":
                allowed |= set(range(node.lineno, node.end_lineno + 1))
        for n, line in enumerate(src.splitlines(), 1):
            if ".read.parquet(" in line and n not in allowed:
                offenders.append(f"{path.relative_to(PACKAGE)}:{n}")
    assert offenders == []
