"""Streaming materialized-view maintenance on the loader path — the
streaming twin of operators/etl.py:etl_incremental_agg_merge.

The batch query proves the algebra (state ⊕ delta == recompute); this
module runs it continuously: a parquet-backed aggregate state that each
micro-batch folds into with one O(|delta| + |state|) merge, so "what is
in my archive, per key" is always one read away instead of an
O(|history|) scan. Unlike the driver-held sketch accumulators
(streaming/cms.py, streaming/histogram.py — bounded cells), the state
here is a real table with unbounded key cardinality, so it lives in
parquet and is merged BY SPARK, never collected.

Durability protocol (the sketch accumulators' streaming/replay_state.py
gate, scaled up):

- state versions are immutable directories ``state_v<N>``; the
  replay-state file ``mv_meta.json`` names the current version next to
  the last applied batch id, so a re-delivered batch id is skipped;
- a crash between writing ``state_v<N+1>`` and committing the state
  file leaves it on v<N>: the next update simply rebuilds v<N+1>
  from v<N> + the redelivered batch. Old versions are pruned after the
  commit.

At 100 TB the same code holds: the merge is a key-partitioned
aggregate (shuffle on the view key only), the state write is one
parquet dir per version (partition it by a key prefix when the view
itself is huge), and nothing is driver-sized.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_s3_spark.streaming.replay_state import ReplayState

META_FILE = "mv_meta.json"


class ParquetMaterializedView:
    """Incrementally-maintained (key → n_records, total_bytes) view.

    ``key_col``: expression deriving the view key from the loader's
    ``value`` column (default: the whole-archive single bucket). Plugs
    into ``run_loader(accumulators=(mv,))``.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: Column | None = None,
        key_name: str = "view_key",
    ) -> None:
        self._state = ReplayState(state_dir, META_FILE)
        self.spark = spark
        self.dir = state_dir
        self.key_col = key_col if key_col is not None else F.lit("all")
        self.key_name = key_name
        self.version = int(self._state.loaded.get("version", 0))

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    # -- state io ------------------------------------------------------------

    def _state_path(self, version: int) -> str:
        return os.path.join(self.dir, f"state_v{version}")

    def read(self) -> DataFrame:
        """The current view (empty frame with the right schema before
        the first applied batch)."""
        if self.version == 0:
            return self.spark.createDataFrame(
                [], f"{self.key_name} string, n_records bigint, total_bytes bigint"
            )
        return self.spark.read.parquet(self._state_path(self.version))

    def _delta(self, batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                self.key_col.cast("string").alias(self.key_name),
                F.octet_length(F.col("value").cast("string")).alias("nb"),
            )
            .groupBy(self.key_name)
            .agg(
                F.count("*").cast("long").alias("n_records"),
                F.sum("nb").cast("long").alias("total_bytes"),
            )
        )

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch into the view. Mergeable-aggregate
        algebra only (counts and sums add), one shuffle on the key."""
        if self._state.seen(batch_id):
            return
        merged = (
            self.read()
            .unionByName(self._delta(batch_df))
            .groupBy(self.key_name)
            .agg(
                F.sum("n_records").cast("long").alias("n_records"),
                F.sum("total_bytes").cast("long").alias("total_bytes"),
            )
        )
        next_version = self.version + 1
        merged.write.mode("overwrite").parquet(self._state_path(next_version))
        self._state.commit(batch_id, {"version": next_version})
        prev, self.version = self.version, next_version
        if prev > 0:  # pointer has moved; prior version is garbage
            shutil.rmtree(self._state_path(prev), ignore_errors=True)
