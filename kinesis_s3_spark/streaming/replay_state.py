"""Replay-safe state file for the loader's accumulators.

foreachBatch re-delivers the last uncommitted micro-batch after a crash
or restart under the SAME batch id, and batch ids are monotonic
(Structured Streaming's exactly-once sink contract). So every
accumulator on ``run_loader``'s ``accumulators`` hook persists the same
two things next to its state: a JSON payload and the last batch id
folded into it. ``ReplayState`` owns that file, so each accumulator
keeps only its fold and its payload (de)serialisation:

- construction loads ``{"last_batch_id": N, ...payload}`` when the file
  exists; a stray ``<file>.tmp`` left by a crashed write is ignored;
- ``seen(batch_id)`` is true for ids at or below N: a re-delivery,
  which the caller skips, so a replay never double-counts;
- ``commit(batch_id, payload)`` writes ``<file>.tmp`` and renames it
  over the file (``os.replace`` is atomic), so a restart reads either
  the state before the batch or the state after it.

Together with the emitter's per-batch overwrite this makes the whole
foreachBatch body replay-safe wherever the previous run died.
"""

from __future__ import annotations

import json
import os


class ReplayState:
    """The ``(state_dir, file_name)`` JSON state of one accumulator."""

    def __init__(self, state_dir: str, file_name: str) -> None:
        os.makedirs(state_dir, exist_ok=True)
        self.path = os.path.join(state_dir, file_name)
        self.last_batch_id = -1
        self.loaded: dict = {}  # the payload on disk at construction
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.loaded = json.load(fh)
            self.last_batch_id = int(self.loaded.pop("last_batch_id"))

    def seen(self, batch_id: int) -> bool:
        return batch_id <= self.last_batch_id

    def commit(self, batch_id: int, payload: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"last_batch_id": batch_id, **payload}, fh)
        os.replace(tmp, self.path)
        self.last_batch_id = batch_id
