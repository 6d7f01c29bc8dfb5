"""Streaming Count-Min maintenance on the loader path (VERDICT r4
next-round #6): the batch sketch (operators/sketches.py) is mergeable
by addition, so the stream maintains it incrementally — each
micro-batch contributes its own (d, bucket, cnt) cells and the
accumulator adds them into a persisted matrix.

Design for the loader's restart semantics:

* the per-batch cell aggregation is DISTRIBUTED (the same
  explode→groupBy as the batch operator, map-side combined, ≤ d·w
  rows through the shuffle); only the d×w matrix itself — bounded by
  construction, 4×256 cells here — lives driver-side, exactly like
  k-means centroids.
* state survives restarts and replays never double-count: the matrix
  and the last applied batch id persist through
  streaming/replay_state.py, next to the streaming checkpoint.

Merge correctness (streamed == batch over the same data) is proved by
tests/test_stateful.py::test_streaming_countmin_matches_batch_sketch,
including a checkpoint stop/restart in the middle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_s3_spark.operators.sketches import cms_cells, words_of
from kinesis_s3_spark.streaming.replay_state import ReplayState

STATE_FILE = "countmin.json"


class CountMinAccumulator:
    """Cross-batch Count-Min matrix with persisted, replay-safe state.

    ``update(batch_df, batch_id)`` is wired into run_loader's
    foreachBatch after emit; ``cells`` maps (d, bucket) → count and
    equals the batch sketch over every applied batch's payloads."""

    def __init__(self, state_dir: str) -> None:
        self._state = ReplayState(state_dir, STATE_FILE)
        self.cells: dict[tuple[int, int], int] = {
            (int(d), int(b)): int(c)
            for d, b, c in self._state.loaded.get("cells", [])
        }

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch's payload words into the matrix."""
        if self._state.seen(batch_id):
            return
        words = batch_df.select(F.explode(words_of(F.col("value"))).alias("word")).filter(
            F.col("word") != ""
        )
        for row in cms_cells(words).collect():  # ≤ d·w rows by construction
            key = (int(row["d"]), int(row["bucket"]))
            self.cells[key] = self.cells.get(key, 0) + int(row["cnt"])
        self._state.commit(
            batch_id, {"cells": [[d, b, c] for (d, b), c in sorted(self.cells.items())]}
        )

    def estimate(self, word: str) -> int:
        """Point lookup: min over rows of the word's cells (0 if any
        row never saw the bucket — the word cannot have occurred)."""
        import hashlib

        from kinesis_s3_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH

        est = None
        for d in range(CMS_DEPTH):
            h = int(hashlib.md5(f"{d}|{word}".encode()).hexdigest()[:15], 16) % CMS_WIDTH
            c = self.cells.get((d, h), 0)
            est = c if est is None else min(est, c)
        return est or 0
