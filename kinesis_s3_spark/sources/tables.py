"""Parquet table loaders for the driver-generated testdata layout.

One parquet file per table under ``<sf_dir>/<name>.parquet`` (see
TESTDATA.md). Loading stays fully declarative — ``spark.read.parquet``
— so Catalyst gets column pruning + predicate pushdown for free at any
scale; at 100 TB each "file" is a directory of many splittable parquet
parts and nothing here changes.

Schema memo: ``spark.read.parquet`` without a schema runs a one-task
Spark job that reads a footer to infer it, on every call, even when the
file has not changed, so a query that loads six tables spends six jobs
before it moves any data. ``load_table`` therefore keeps each file's
inferred schema in a bounded, process-wide map and reads a known file
with ``spark.read.schema(...)``, which runs no job. The key is the
path, its ``os.stat`` inode, size and ``mtime_ns``, and the values of
the confs that change what parquet inference yields (``_INFER_CONFS``),
so a rewritten file or a changed conf is inferred again. A path that is
not a regular local file (a directory of parts, whose stat does not
cover its parts, or a remote URI) is inferred on every load.

Cache refresh: Spark matches a read of a file to cached data by path
alone, so a frame a query ``.cache()``d from a file stays in the
session's cache after the file is rewritten, and the next run of the
query answers from it. A memo miss therefore first calls
``spark.catalog.refreshByPath``. Paths that skip the memo (directories
and remote URIs) are not refreshed.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast in any realistic deployment
# (region/nation are bounded by geography; at TPC-H-like scaling,
# supplier/part/customer grow with SF and must NOT be assumed tiny).
BROADCAST_SAFE = frozenset({"region", "nation"})

# session confs that change the schema parquet inference yields
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_MEMO_MAX = 256
_schemas: dict[tuple, StructType] = {}
_schemas_lock = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from the memo
    when the file and the inference confs are unchanged."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        path,
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(c) for c in _INFER_CONFS),
    )
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    # a miss means a new or rewritten file: frames a query cached from an
    # older read of this path would otherwise answer for the old data
    spark.catalog.refreshByPath(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[key] = df.schema
        if len(_schemas) > _SCHEMA_MEMO_MAX:  # drop the oldest entry
            del _schemas[next(iter(_schemas))]
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark
        # rejects by default; read nanos as long and floor to micros
        # (driver data is µs-aligned, so this is lossless — matches what
        # DuckDB exposes as TIMESTAMP).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # build a TIMESTAMP_NTZ (not timestamp_micros → LTZ): NTZ
            # arithmetic is session-timezone-free, matching how DuckDB
            # and the other parquet tables treat these naive timestamps
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register each as a temp view so the same
    queries run through either the DataFrame API or spark.sql."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
