"""Table loader tests: the parquet schema memo in ``load_table`` skips
inference for an unchanged file and never serves a stale schema, and a
query that caches a table's frames answers for a rewritten file."""

from __future__ import annotations

import os
import sys
import uuid
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from kinesis_s3_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_correctness import compare  # noqa: E402


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


# table -> the filter that rewrites it: drop every third row
REWRITES = {"documents": "doc_id % 3 <> 0", "embeddings": "vec_id % 3 <> 0", "events": "event_id % 3 <> 0"}


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "emb_kmeans",
        "dedup_semantic",
        "events_rfm_segments",
        "text_tfidf_simjoin",
        "graph_label_propagation",
    ],
)
def test_cached_query_sees_a_rewritten_table(spark, tmp_path, name):
    """These queries ``.cache()`` frames read from a table. A second run
    in the same session, after the table files are rewritten, must match
    the oracle on the new data, not answer from the cached old data."""
    con = duckdb.connect()
    for table in REWRITES:
        _write(f"{tmp_path}/{table}.parquet", f"SELECT * FROM '{SF_SMOKE}/{table}.parquet'")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{tmp_path}/{table}.parquet'")
    query, oracle = entrymod.queries()[name], entrymod.oracle_sql()[name]
    for rewrite in (False, True):
        if rewrite:
            for table, keep in REWRITES.items():
                _write(
                    f"{tmp_path}/{table}.parquet",
                    f"SELECT * FROM '{SF_SMOKE}/{table}.parquet' WHERE {keep}",
                )
        out = compare(name, query(spark, str(tmp_path)), oracle, con)
        assert out["rows_match"] and out["cols_match"] and out["values_match"], (rewrite, out)
