"""Streaming CDC MERGE twin (VERDICT r11 next #6).

The batch operators `etl_cdc_merge` (current-state MERGE action log)
and `etl_scd2_merge` (history-keeping SCD2 apply) express the
lakehouse upsert as one-shot queries; this module is their LOADER-side
counterpart: "MERGE a change stream into the sunk table", the most
common downstream ask of the reference's users once events land.

`CdcMergeSink.apply(batch_df, batch_id)` wires into run_loader's
``foreachBatch`` the way the emitter does (S3Loader.scala:63-68's
executor.run analogue): per micro-batch it

1. reduces the batch to latest-per-key with the SAME max_by hash
   aggregate as etl_cdc_merge (no window, no sort, map-side partial);
2. full-outer-joins the current table snapshot on the key and applies
   MERGE semantics — tombstone rows (event_type = 'error') DELETE,
   matched keys UPDATE, unmatched non-tombstones INSERT;
3. rewrites the snapshot under a batch-id-versioned directory and
   commits its name to the replay-state file
   (streaming/replay_state.py): a re-delivered batch id is skipped
   outright, and a crash between snapshot write and commit re-runs
   into the SAME versioned path with mode=overwrite, so replays are
   bit-stable;
4. (SCD2 arm) appends the superseded versions — updated or deleted
   keys' prior rows, stamped with the closing batch id — into a
   batch-id-partitioned history directory, written with per-partition
   overwrite so replays rewrite rather than duplicate
   (etl_scd2_merge's valid_to close, expressed incrementally).

At 100 TB the per-batch shape is exactly Delta/Iceberg MERGE's: the
latest-per-key dedup and the key equi-join both hash on the key, so
AQE plans them over one exchange lineage; a table format would replace
only matching files where this harness-level sink rewrites the
snapshot (documented stand-in — the MERGE dataflow above it is the
part that carries to a real table format unchanged).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_s3_spark.streaming.replay_state import ReplayState

TOMBSTONE = "error"  # etl_cdc_merge's delete marker (operators/etl.py)

_META = "_cdc_meta.json"

STATE_SCHEMA = "user_id long, event_type string, value double"


class CdcMergeSink:
    """Keyed current-state table maintained by streaming MERGE, with an
    SCD2 history sidecar. Key = user_id, change order = (ts, event_id),
    payload = (event_type, value) — the etl_cdc_merge columns."""

    def __init__(self, table_dir: str) -> None:
        self._state = ReplayState(table_dir, _META)
        self.table_dir = table_dir
        self._snapshot: str | None = self._state.loaded.get("snapshot")

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    # -- reads ---------------------------------------------------------

    def current(self, spark: SparkSession) -> DataFrame:
        """The table as of the last applied batch (empty before any)."""
        if self._snapshot is None:
            return spark.createDataFrame([], STATE_SCHEMA)
        return spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.table_dir, self._snapshot)
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """Superseded versions (SCD2 closed rows): the prior state of
        every key a batch updated or deleted, with closed_by_batch."""
        path = os.path.join(self.table_dir, "history")
        if not os.path.isdir(path):
            return spark.createDataFrame(
                [], STATE_SCHEMA + ", closed_by_batch long"
            )
        return spark.read.schema(STATE_SCHEMA).parquet(path).withColumn(
            "closed_by_batch", F.col("closed_by_batch")
        )

    # -- the foreachBatch hook ------------------------------------------

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        """MERGE one micro-batch of change rows into the table. A
        partially-applied batch re-runs into the same versioned paths
        deterministically."""
        if self._state.seen(batch_id):
            return
        spark = batch_df.sparkSession
        key = F.struct("ts", "event_id")
        latest = batch_df.groupBy("user_id").agg(
            F.max_by("event_type", key).alias("new_type"),
            F.max_by("value", key).alias("new_value"),
        )
        tgt = self.current(spark)
        joined = tgt.join(latest, "user_id", "full_outer")
        in_batch = F.col("new_type").isNotNull()
        tomb = F.col("new_type") == TOMBSTONE
        merged = joined.where(~in_batch | ~tomb).select(
            "user_id",
            F.when(in_batch, F.col("new_type")).otherwise(F.col("event_type")).alias(
                "event_type"
            ),
            F.when(in_batch, F.col("new_value")).otherwise(F.col("value")).alias(
                "value"
            ),
        )
        superseded = joined.where(
            in_batch & F.col("event_type").isNotNull()
        ).select("user_id", "event_type", "value")

        snap = f"snapshot_v{batch_id}"
        merged.write.mode("overwrite").parquet(os.path.join(self.table_dir, snap))
        superseded.write.mode("overwrite").parquet(
            os.path.join(self.table_dir, "history", f"closed_by_batch={batch_id}")
        )
        self._state.commit(batch_id, {"snapshot": snap})
        self._snapshot = snap


def merge_stream(stream: DataFrame, sink: CdcMergeSink, checkpoint: str, query_name: str = "cdc-merge"):
    """Start a streaming query that MERGEs ``stream`` (change rows with
    user_id/ts/event_id/event_type/value) into ``sink`` via
    foreachBatch — the run_loader wiring shape, reusable standalone."""
    return (
        stream.writeStream.queryName(query_name)
        .foreachBatch(sink.apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
