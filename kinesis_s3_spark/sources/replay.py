"""Archive-replay streaming source — backfill an emit() tree as a stream.

The reference pipeline is one-directional: Kinesis → buffer → S3
objects (``KinesisS3Emitter.scala:65-86``). When a downstream consumer
needs the history again (new warehouse loader, reprocessing after a
schema fix), reference users replay the S3 archive by hand — S3DistCp
into a fresh Kinesis stream, or ad-hoc scripts. This module makes
replay a first-class *source*: a Spark 4 Python DataSource
(``pyspark.sql.datasource``) named ``archive_replay`` that streams an
emit() output tree back out in batch_id order, incrementally — a
restarted query resumes from its checkpoint and only sees batches that
arrived since.

Design (scale notes):

- **Offsets are batch ids.** The emitter writes one ``batch_id=N``
  directory per flushed buffer, atomically-ish (overwrite-on-replay,
  emitter.py:26). ``latestOffset`` = max batch id present; a
  microbatch covers ``(start, end]`` — so progress is tracked per
  archived batch, exactly the granularity the writer produced.
- **Planning is driver-side, reading is executor-side.** The driver
  only *lists* (one dirent per batch/row_type — thousands of entries,
  not data); each gzip object becomes ≥1 ``InputPartition`` and is
  decompressed on an executor. Replaying a 100 TB archive is then
  bounded by executor count, not the driver.
- **Indexed objects split mid-file.** When an object carries the
  ``GZIP_INDEXED`` ``.index`` sidecar (sinks/indexed_gzip.py), the
  planner chops its sync points into ~``splitTargetBytes``-sized
  ranges and plans one InputPartition per range — each range
  raw-inflates independently, so a batch of few huge objects
  parallelizes across executors instead of one task per object.
- **Finished archives only.** ``latestOffset`` advances to the max
  batch directory present and partitions are the objects present at
  planning time — a ``batch_id=N`` directory still being written
  when observed would replay partially and never be revisited. The
  emitter's sinks all leave a ``_SUCCESS`` marker on completion;
  pass ``requireComplete=true`` to make the reader treat unmarked
  trailing batches as not-yet-arrived (the live-tail-safe mode).
- **Layout is recovered, not re-parsed.** ``row_type``/``row_subtype``
  directory names are folded back into the reference's combined
  RowType partition string (``vendor.name/format-model``,
  RowType.scala:28) at planning time, so the read path ships plain
  (path, batch_id, row_type) triples.

This reader targets GZIP trees (the reference's default serializer);
for parquet trees use the batch reader ``sources.archive.read_archive``
— parquet is already splittable and incremental replay of it is just a
file-source stream.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from kinesis_s3_spark.sinks.indexed_gzip import read_split, split_ranges

# sinks.emitter.NO_SUBTYPE, duplicated (tests pin the equality). This
# module is cloudpickled BY VALUE into Python data-source workers (see
# register_replay_source), so it may only import modules that the
# workers have or that are pickled by value too. sinks/indexed_gzip.py
# registers itself for by-value pickling; the emitter does not.
NO_SUBTYPE = "-"

REPLAY_SCHEMA = "value string, batch_id bigint, row_type string"


@dataclass
class _GzPartition(InputPartition):
    """One unit of executor read parallelism: a whole gzip object
    (``start < 0``) or, for indexed objects, the compressed byte
    range ``[start, end)`` beginning at a full-flush sync point."""

    path: str
    batch_id: int
    row_type: str
    start: int = -1
    end: int = -1


# default compressed-bytes-per-split when an object has an .index
# sidecar — the Hadoop-input-split shape: a handful of fat ranges per
# object, not one task per 100-record sync block
DEFAULT_SPLIT_TARGET_BYTES = 32 * 1024 * 1024


def _list_batch_ids(root: str) -> list[int]:
    """Batch ids present under ``root`` (``batch_id=N`` children)."""
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return []
    ids = []
    for name in entries:
        if name.startswith("batch_id="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(ids)


def _combined_row_type(type_dir: str, subtype_dir: str) -> str:
    """Fold the two partition dirs back into RowType.scala:28's
    combined string (``vendor.name/format-model``; bare for
    unpartitioned / reading_error)."""
    t = type_dir.split("=", 1)[1]
    s = subtype_dir.split("=", 1)[1]
    return t if s == NO_SUBTYPE else f"{t}/{s}"


def _plan_batch(
    root: str,
    batch_id: int,
    split_target_bytes: int = DEFAULT_SPLIT_TARGET_BYTES,
) -> list[_GzPartition]:
    """InputPartitions for ``batch_id=N``: one per gzip object
    (mirroring the emitter's one-object-per-row_type layout), except
    that objects carrying a ``GZIP_INDEXED`` ``.index`` sidecar are
    split into ~``split_target_bytes`` sync-aligned ranges — the
    mid-file parallelism the sidecar exists to provide. Reading the
    sidecar is a driver-side dirent-scale cost (a few hundred bytes
    per object)."""
    parts: list[_GzPartition] = []
    batch_dir = os.path.join(root, f"batch_id={batch_id}")
    try:
        type_dirs = sorted(os.listdir(batch_dir))
    except FileNotFoundError:
        return parts
    for td in type_dirs:
        if not td.startswith("row_type="):
            continue
        for sd in sorted(os.listdir(os.path.join(batch_dir, td))):
            if not sd.startswith("row_subtype="):
                continue
            row_type = _combined_row_type(td, sd)
            leaf = os.path.join(batch_dir, td, sd)
            for f in sorted(os.listdir(leaf)):
                if not f.endswith(".gz"):
                    continue
                path = os.path.join(leaf, f)
                index = path + ".index"
                if os.path.exists(index):
                    for start, end in split_ranges(index, split_target_bytes):
                        parts.append(
                            _GzPartition(path, batch_id, row_type, start, end)
                        )
                else:
                    parts.append(_GzPartition(path, batch_id, row_type))
    return parts


class ArchiveReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("archive_replay requires the 'path' option")
        self._root = path
        # replay everything by default; startingBatchId=N skips ids < N
        self._floor = int(options.get("startingBatchId", 0)) - 1
        self._split_target = int(
            options.get("splitTargetBytes", DEFAULT_SPLIT_TARGET_BYTES)
        )
        # live-tail safety: only consider batch dirs whose write
        # completed (the emitter's _SUCCESS marker). Off by default —
        # finished archives (the documented target) have no race.
        self._require_complete = (
            str(options.get("requireComplete", "false")).lower() == "true"
        )

    def _visible_batch_ids(self) -> list[int]:
        ids = _list_batch_ids(self._root)
        if self._require_complete:
            ids = [
                b
                for b in ids
                if os.path.exists(
                    os.path.join(self._root, f"batch_id={b}", "_SUCCESS")
                )
            ]
        return ids

    def initialOffset(self) -> dict:
        return {"batch_id": self._floor}

    def latestOffset(self) -> dict:
        ids = self._visible_batch_ids()
        latest = ids[-1] if ids else self._floor
        return {"batch_id": max(latest, self._floor)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start["batch_id"], end["batch_id"]
        parts: list[InputPartition] = []
        for bid in self._visible_batch_ids():
            if lo < bid <= hi:
                parts.extend(_plan_batch(self._root, bid, self._split_target))
        # Spark requires >= 1 partition per microbatch; an id-range
        # with no surviving objects (all-bad batch) yields one no-op.
        return parts or [_GzPartition("", hi, "")]

    def read(self, partition: _GzPartition):
        if not partition.path:
            return
        if partition.start >= 0:
            # indexed mid-file range: decodes with no state from any
            # other range of the object
            for line in read_split(partition.path, partition.start, partition.end):
                yield (line, partition.batch_id, partition.row_type)
            return
        import gzip

        # stream the member line-by-line (constant memory) instead of
        # loading the whole decompressed object
        with gzip.open(partition.path, "rt", encoding="utf-8") as fh:
            for line in fh:
                yield (
                    line[:-1] if line.endswith("\n") else line,
                    partition.batch_id,
                    partition.row_type,
                )

    def commit(self, end: dict) -> None:
        pass


class ArchiveReplayDataSource(DataSource):
    """``spark.readStream.format("archive_replay").option("path", tree)``."""

    @classmethod
    def name(cls) -> str:
        return "archive_replay"

    def schema(self) -> str:
        return REPLAY_SCHEMA

    def streamReader(self, schema):  # noqa: ARG002 - fixed schema
        return ArchiveReplayStreamReader(self.options)


def register_replay_source(spark) -> None:
    """Register the source on a session (idempotent per session).

    Registers this module for cloudpickle BY-VALUE serialization
    first: Python data-source planner/reader workers unpickle the
    DataSource class in a fresh interpreter that has pyspark but not
    necessarily this package on sys.path (``addPyFile`` does not reach
    the streaming source-planner worker — verified empirically). With
    by-value pickling the class definition travels inside the pickle
    itself and the workers need no import; the indexed-gzip readers it
    calls travel the same way (sinks/indexed_gzip.py registers itself).
    tests/test_replay_source.py replays a split tree from outside the
    repository root to hold this."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(ArchiveReplayDataSource)
