"""Indexed gzip serializer — the faithful discharge of the
reference's LZO serializer contract (O11).

The reference's LzoSerializer (LzoSerializer.scala:36-64) emits TWO
named streams per object: ``file.lzo`` (Protobuf-framed blocks) and
``file.lzo.index`` (block offsets), so a downstream MapReduce job can
SPLIT the compressed object across workers. The engine's default
substitution is parquet+zstd (natively splittable, SURVEY §7 risk 4);
this module closes the remaining gap for byte-stream output: a
STANDARD gzip file (gunzip-compatible end to end) whose deflate
stream is Z_FULL_FLUSH'd at record boundaries every ``sync_every``
records, plus a ``.index`` sidecar mapping record ordinals to the
compressed byte offset of each sync point. A full flush byte-aligns
and self-terminates the deflate block chain, so a reader can seek to
ANY indexed offset and raw-inflate from there without touching the
preceding bytes — the same mid-file split property the LZO index
provides, on a codec every tool understands.

Index sidecar format (text, one line per sync point):

    <records_before_this_point> TAB <compressed_byte_offset>
    ...
    total TAB <n_records> TAB <n_compressed_bytes>

Offset 0's entry points just past the gzip header plus the initial
empty full-flush block (a fixed 15 bytes with zlib's wbits=31 header,
which carries no name/extra fields) — i.e. at the first byte-aligned
resumable position.

Everything here is task-side, stream-once, O(1) memory per writer:
the Spark integration (write_indexed_gzip) walks each partition
iterator exactly once and keeps only compressor state.
"""

from __future__ import annotations

import os
import sys
import zlib
from collections.abc import Iterable, Iterator

from pyspark import cloudpickle

DEFAULT_SYNC_EVERY = 100

# The Spark sinks below run this module's writers inside Python workers.
# Pickled by reference, those would need ``kinesis_s3_spark`` importable
# on every worker (PYTHONPATH, the driver's working directory or
# addPyFile); pickled by value, the module only needs the standard
# library there.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class IndexedGzipWriter:
    """Streams newline-terminated records into ``path`` (gzip) and
    sync-point lines into ``path + '.index'``."""

    def __init__(self, path: str, sync_every: int = DEFAULT_SYNC_EVERY):
        if sync_every < 1:
            raise ValueError(f"sync_every must be >= 1, got {sync_every}")
        self.path = path
        self.sync_every = sync_every
        self._gz = open(path, "wb")
        self._idx = open(path + ".index", "w")
        self._comp = zlib.compressobj(9, zlib.DEFLATED, 31)  # gzip container
        self._n_records = 0
        self._n_bytes = 0
        # flush the header + an empty full-flush block up front so the
        # first index entry is already a resumable byte-aligned offset
        self._write(self._comp.compress(b""))
        self._sync()

    def _write(self, data: bytes) -> None:
        if data:
            self._gz.write(data)
            self._n_bytes += len(data)

    def _sync(self) -> None:
        """Byte-align the deflate stream and record the sync point."""
        self._write(self._comp.flush(zlib.Z_FULL_FLUSH))
        self._idx.write(f"{self._n_records}\t{self._n_bytes}\n")

    def write_record(self, value: str) -> None:
        if self._n_records and self._n_records % self.sync_every == 0:
            self._sync()
        self._write(self._comp.compress(value.encode("utf-8") + b"\n"))
        self._n_records += 1

    def close(self) -> None:
        self._write(self._comp.flush(zlib.Z_FINISH))
        self._idx.write(f"total\t{self._n_records}\t{self._n_bytes}\n")
        self._gz.close()
        self._idx.close()


def write_indexed_file(
    path: str, values: Iterable[str], sync_every: int = DEFAULT_SYNC_EVERY
) -> int:
    """Write one indexed gzip file; returns the record count."""
    w = IndexedGzipWriter(path, sync_every)
    try:
        for v in values:
            w.write_record(v)
    finally:
        w.close()
    return w._n_records


def read_index(path: str) -> tuple[list[tuple[int, int]], int, int]:
    """Parse ``path`` (the .index sidecar): returns (sync_points,
    n_records, n_compressed_bytes) where sync_points is a list of
    (records_before, byte_offset), ascending."""
    points: list[tuple[int, int]] = []
    total_records = total_bytes = -1
    with open(path) as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if parts[0] == "total":
                total_records, total_bytes = int(parts[1]), int(parts[2])
            else:
                points.append((int(parts[0]), int(parts[1])))
    if total_records < 0:
        raise ValueError(f"{path}: missing 'total' line (truncated index?)")
    return points, total_records, total_bytes


def read_split(gz_path: str, start_offset: int, end_offset: int | None) -> list[str]:
    """Decode the records between two sync offsets of an indexed gzip
    file WITHOUT reading anything before ``start_offset`` — the
    mid-file split read the index exists for. ``end_offset`` None
    means 'to end of file'. Returns the decoded lines.

    Every sync offset is a byte-aligned full-flush boundary that also
    falls on a record boundary, so the raw-deflate bytes in
    [start_offset, end_offset) decode to exactly the records of the
    covered sync blocks; the final block's BFINAL + gzip trailer land
    in the inflater's tail state and are ignored."""
    with open(gz_path, "rb") as fh:
        fh.seek(start_offset)
        n = -1 if end_offset is None else end_offset - start_offset
        raw = fh.read() if n < 0 else fh.read(n)
    d = zlib.decompressobj(-15)  # raw deflate: past-header resume
    out = d.decompress(raw)
    if not d.eof:
        out += d.flush()
    text = out.decode("utf-8")
    return text.split("\n")[:-1] if text else []


def read_all_via_splits(gz_path: str) -> list[str]:
    """Reassemble the whole file purely from independent split reads —
    the downstream-parallelism contract, verifiable: each split is
    decoded with no state from any other."""
    points, _n, total_bytes = read_index(gz_path + ".index")
    out: list[str] = []
    for i, (_recs, off) in enumerate(points):
        end = points[i + 1][1] if i + 1 < len(points) else total_bytes
        out.extend(read_split(gz_path, off, end))
    return out


def write_indexed_gzip(
    df,
    out_dir: str,
    sync_every: int = DEFAULT_SYNC_EVERY,
    value_col: str = "value",
) -> None:
    """Spark sink: one indexed gzip file per partition of ``df``
    (``part-<pid>.txt.gz`` + ``.index``), written task-side with O(1)
    memory. Callers control parallelism/file count via the frame's
    partitioning (same knob as the emitter's writer fan-out) and
    replay idempotence by clearing ``out_dir`` first (the emitter's
    per-batch overwrite contract)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(pid: int, rows: Iterator) -> Iterator[tuple[int, int]]:
        path = os.path.join(out_dir, f"part-{pid:05d}.txt.gz")
        n = write_indexed_file(path, (r[value_col] for r in rows), sync_every)
        yield (pid, n)

    # rdd-level foreach keeps this a pure sink stage (no shuffle, no
    # plan beyond the scan); the tiny (pid, count) results force
    # execution and surface task errors
    df.select(value_col).rdd.mapPartitionsWithIndex(_write).count()


class _RollingGroupWriter:
    """Task-side writer for one group directory: streams records into
    part-<pid>-<seq>.txt.gz files, rolling to the next seq when the
    UNCOMPRESSED payload reaches ``roll_bytes`` (the emitter's O4
    byteLimit contract: every object's payload is bounded; a single
    oversized record still gets its own file)."""

    def __init__(self, dir_: str, pid: int, sync_every: int, roll_bytes: int | None):
        os.makedirs(dir_, exist_ok=True)
        self.dir = dir_
        self.pid = pid
        self.sync_every = sync_every
        self.roll_bytes = roll_bytes
        self.seq = 0
        self.raw_bytes = 0
        self.w: IndexedGzipWriter | None = None

    def _open_next(self) -> None:
        path = os.path.join(self.dir, f"part-{self.pid:05d}-{self.seq:03d}.txt.gz")
        self.w = IndexedGzipWriter(path, self.sync_every)
        self.seq += 1
        self.raw_bytes = 0

    def write(self, value: str) -> None:
        n = len(value.encode("utf-8")) + 1
        if self.w is None:
            self._open_next()
        elif self.roll_bytes and self.raw_bytes and self.raw_bytes + n > self.roll_bytes:
            self.w.close()
            self._open_next()
        self.w.write_record(value)
        self.raw_bytes += n

    def close(self) -> None:
        if self.w is not None:
            self.w.close()


def write_indexed_gzip_grouped(
    df,
    out_dir: str,
    group_cols: list[str],
    value_col: str = "value",
    sync_every: int = DEFAULT_SYNC_EVERY,
    roll_bytes: int | None = None,
) -> None:
    """Grouped sink matching the Spark partitionBy directory layout
    (``col=value/...`` per group level): each task streams its rows
    into per-group rolling writers, so a task that receives several
    groups (hash collisions in the repartition) still writes one file
    chain per group. Memory is O(open writers per task)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(pid: int, rows: Iterator) -> Iterator[tuple[int, int]]:
        writers: dict[tuple, _RollingGroupWriter] = {}
        n = 0
        for r in rows:
            key = tuple(str(r[c]) for c in group_cols)
            w = writers.get(key)
            if w is None:
                dir_ = os.path.join(
                    out_dir, *[f"{c}={v}" for c, v in zip(group_cols, key)]
                )
                w = _RollingGroupWriter(dir_, pid, sync_every, roll_bytes)
                writers[key] = w
            w.write(r[value_col])
            n += 1
        for w in writers.values():
            w.close()
        yield (pid, n)

    df.select(*group_cols, value_col).rdd.mapPartitionsWithIndex(_write).count()
