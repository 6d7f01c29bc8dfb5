"""Table loader tests: the parquet schema memo in ``load_table`` skips
inference for an unchanged file and never serves a stale schema."""

from __future__ import annotations

import uuid
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from kinesis_s3_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` submits, counted under a fresh job group."""
    sc = spark.sparkContext
    gid = f"test-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "schema memo")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _write(path: str, sql: str) -> None:
    duckdb.sql(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")


def test_second_load_of_an_unchanged_file_runs_no_job(spark, tmp_path):
    _write(f"{tmp_path}/region.parquet", f"SELECT * FROM '{SF_SMOKE}/region.parquet'")
    first = load_table(spark, str(tmp_path), "region")
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "region").schema) == 0
    assert load_table(spark, str(tmp_path), "region").schema == first.schema


def test_a_rewritten_file_is_inferred_again(spark, tmp_path):
    path = f"{tmp_path}/region.parquet"
    _write(path, "SELECT 1 AS r_regionkey, 'A' AS r_name")
    assert load_table(spark, str(tmp_path), "region").dtypes == [
        ("r_regionkey", "int"),
        ("r_name", "string"),
    ]
    _write(path, "SELECT 2.5 AS r_regionkey, 'B' AS r_name, 7 AS r_extra")
    df = load_table(spark, str(tmp_path), "region")
    assert [c for c, _ in df.dtypes] == ["r_regionkey", "r_name", "r_extra"]
    assert [tuple(r) for r in df.collect()] == [(2.5, "B", 7)]


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    """The same file read under another ``binaryAsString`` value gets
    the schema that value infers, not the memoized one."""
    _write(f"{tmp_path}/region.parquet", "SELECT 1 AS r_regionkey, 'A'::BLOB AS r_name")
    conf = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(conf, "false")
        assert dict(load_table(spark, str(tmp_path), "region").dtypes)["r_name"] == "binary"
        spark.conf.set(conf, "true")
        df = load_table(spark, str(tmp_path), "region")
        assert dict(df.dtypes)["r_name"] == "string"
        assert df.collect()[0]["r_name"] == "A"
    finally:
        spark.conf.unset(conf)


def test_nanos_events_read_on_a_bare_session(spark, tmp_path):
    """events.parquet with TIMESTAMP(NANOS) reads, memo hit included, on
    a session where nothing set ``nanosAsLong`` beforehand."""
    ts = [datetime(2024, 1, 1, 0, 0, 1, 500), datetime(2024, 1, 2, 3, 4, 5, 6)]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": ["view", "click"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(table, f"{tmp_path}/events.parquet")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    for _ in range(2):
        spark.conf.unset(conf)
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert [r["ts"] for r in df.orderBy("event_id").collect()] == ts
