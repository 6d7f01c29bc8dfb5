"""Indexed-gzip serializer tests (O11 contract): valid-gzip round
trip through an EXTERNAL decompressor (the reference's own test
strategy, GZipSerializerSpec/LzoSerializerSpec shell out to gunzip /
lzop -d), independent split reads, rolling byte limits, and the emit()
integration."""

from __future__ import annotations

import base64

import glob
import gzip
import os
import subprocess

import pyspark.sql.functions as F
import pytest

from kinesis_s3_spark.sinks.indexed_gzip import (
    read_all_via_splits,
    read_index,
    read_split,
    split_ranges,
    write_indexed_file,
    write_indexed_gzip_grouped,
)


def _vals(n):
    return [f"record-{i:04d}-" + "x" * (i % 37) for i in range(n)]


def test_roundtrip_via_external_gunzip(tmp_path):
    """The indexed file must stay a STANDARD gzip stream: decoded by
    the system gunzip binary, not just our own reader."""
    path = str(tmp_path / "t.txt.gz")
    vals = _vals(523)
    write_indexed_file(path, vals, sync_every=100)
    out = subprocess.run(
        ["gunzip", "-c", path], capture_output=True, check=True
    ).stdout.decode()
    assert out.split("\n")[:-1] == vals


def test_split_reads_are_independent_and_complete(tmp_path):
    path = str(tmp_path / "t.txt.gz")
    vals = _vals(1234)
    write_indexed_file(path, vals, sync_every=100)
    points, n, nbytes = read_index(path + ".index")
    assert n == len(vals) and nbytes == os.path.getsize(path)
    assert [p[0] for p in points] == list(range(0, 1234, 100))
    # every split decodes exactly its block with no outside state
    for i, (recs, off) in enumerate(points):
        end = points[i + 1][1] if i + 1 < len(points) else nbytes
        hi = points[i + 1][0] if i + 1 < len(points) else n
        assert read_split(path, off, end) == vals[recs:hi], i
    # suffix read from a mid-file sync point
    assert read_split(path, points[7][1], None) == vals[700:]
    # full reassembly purely from splits
    assert read_all_via_splits(path) == vals


def test_split_ranges_tile_the_file(tmp_path):
    """split_ranges chains from the first sync point to the end of the
    file: one range per sync point at target 0, fewer and larger ranges
    at larger targets, and each range decodes on its own."""
    path = str(tmp_path / "t.txt.gz")
    vals = _vals(1234)
    write_indexed_file(path, vals, sync_every=100)
    index = path + ".index"
    points, _n, nbytes = read_index(index)
    assert [s for s, _e in split_ranges(index, 0)] == [off for _r, off in points]
    for target in (0, 1500, 10**9):
        ranges = split_ranges(index, target)
        assert ranges[0][0] == points[0][1] and ranges[-1][1] == nbytes
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
        assert all(e - s >= target for s, e in ranges[:-1])
        assert [v for s, e in ranges for v in read_split(path, s, e)] == vals
    assert len(split_ranges(index, 10**9)) == 1


def test_read_index_rejects_corrupt_index(tmp_path):
    """An index without sync points (a range from byte 0 would start in
    the gzip header, which the raw-deflate reader cannot parse) or
    without its total line is refused, not read as one big split."""
    index = tmp_path / "t.txt.gz.index"
    index.write_text("total\t0\t20\n")
    with pytest.raises(ValueError, match="no sync-point"):
        read_index(str(index))
    index.write_text("0\t15\n")
    with pytest.raises(ValueError, match="missing 'total'"):
        read_index(str(index))


def test_empty_and_tiny_files(tmp_path):
    for n in (0, 1, 99, 100, 101):
        path = str(tmp_path / f"t{n}.txt.gz")
        vals = _vals(n)
        write_indexed_file(path, vals, sync_every=100)
        with gzip.open(path, "rt") as fh:
            assert fh.read().split("\n")[:-1] == vals if vals else True
        assert read_all_via_splits(path) == vals


def test_grouped_writer_rolls_on_byte_limit(spark, tmp_path):
    """roll_bytes bounds each object's UNCOMPRESSED payload (the O4
    byteLimit contract); oversized single records still land alone."""
    out = str(tmp_path / "grouped")
    rows = [("a", f"v-{i:03d}-" + "y" * 40) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, value string")
    write_indexed_gzip_grouped(
        df.repartition(1), out, ["grp"], roll_bytes=500, sync_every=10
    )
    files = sorted(glob.glob(os.path.join(out, "grp=a", "*.txt.gz")))
    assert len(files) > 1, "expected a roll at 500 raw bytes"
    got = []
    for f in files:
        lines = read_all_via_splits(f)
        raw = sum(len(line.encode()) + 1 for line in lines)
        assert raw <= 500 or len(lines) == 1, (f, raw, len(lines))
        got.extend(lines)
    assert sorted(got) == sorted(v for _g, v in rows)


def test_emit_gzip_indexed_round_trip(spark, tmp_path):
    """emit() with compression=GZIP_INDEXED: partition layout matches
    the Spark writer's (row_type=/row_subtype=), every object carries
    a .index sidecar, and the split-reassembled records equal the
    batch exactly; a replayed batch overwrites, never appends."""
    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.sinks.emitter import emit

    cfg = from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t"},
            "output": {
                "s3": {"path": str(tmp_path / "good"), "compression": "GZIP_INDEXED"},
                "bad_path": str(tmp_path / "bad"),
            },
        }
    )
    values = [
        '{"schema":"iglu:com.acme/ev_one/jsonschema/1-0-0","data":{"i":%d}}' % i
        for i in range(120)
    ] + [
        '{"schema":"iglu:com.acme/ev_two/jsonschema/1-0-0","data":{"i":%d}}' % i
        for i in range(40)
    ]
    df = spark.createDataFrame([(v,) for v in values], "value string")
    emit(df, batch_id=7, cfg=cfg)
    emit(df, batch_id=7, cfg=cfg)  # replay must overwrite, not append

    gz_files = glob.glob(
        str(tmp_path / "good" / "**" / "*.txt.gz"), recursive=True
    )
    assert gz_files, "no indexed gzip output written"
    got = []
    for f in gz_files:
        assert os.path.exists(f + ".index"), f
        assert "row_type=" in f and "batch_id=7" in f
        got.extend(read_all_via_splits(f))
    assert sorted(got) == sorted(values)
    # both row types landed in their own partition dirs
    types = {f.split("row_type=")[1].split("/")[0] for f in gz_files}
    assert types == {"com.acme.ev_one", "com.acme.ev_two"}


def test_registry_query_matches_oracle_shape(spark):
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE

    rows = entrymod.queries()["etl_indexed_gzip_splits"](spark, SF_SMOKE).collect()
    assert {r["grp"] for r in rows} == {"0", "1", "2", "3"}
    for r in rows:
        assert r["n_splits"] == 1 + (r["n_records"] - 1) // 100


def test_streaming_loader_gzip_indexed(spark, tmp_path):
    """run_loader with compression=GZIP_INDEXED: every streaming
    micro-batch's objects carry .index sidecars and the split-read
    reassembly equals the stream's records — the O11 serializer on
    the reference's actual (streaming) path, not just batch emit."""
    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.loader import run_loader

    inp = str(tmp_path / "in")
    rows = [
        '{"schema":"iglu:com.acme/stream_ev/jsonschema/1-0-0","data":{"i":%d}}' % i
        for i in range(25)
    ]
    spark.createDataFrame([(r,) for r in rows], "value string").coalesce(
        1
    ).write.mode("append").parquet(inp)

    cfg = from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": "GZIP_INDEXED"},
                "bad_path": str(tmp_path / "bad"),
            },
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )
    q = run_loader(spark, cfg, query_name="gz-indexed-e2e")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    gz_files = glob.glob(str(tmp_path / "out" / "**" / "*.txt.gz"), recursive=True)
    assert gz_files, "no indexed output from the streaming path"
    got = []
    for f in gz_files:
        assert os.path.exists(f + ".index"), f
        got.extend(read_all_via_splits(f))
    assert sorted(got) == sorted(rows)


def test_streaming_restart_idempotent_gzip_indexed(spark, tmp_path):
    """Checkpoint-restart with GZIP_INDEXED must not duplicate
    records: committed batches are skipped on resume, and a new file
    arriving after the restart lands exactly once (the clear-then-
    write per-batch dir is the overwrite analogue for this sink)."""
    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.loader import run_loader

    inp = str(tmp_path / "in")

    def _write(rows):
        spark.createDataFrame([(r,) for r in rows], "value string").coalesce(
            1
        ).write.mode("append").parquet(inp)

    _write(["r1", "r2"])
    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": "GZIP_INDEXED"}
            },
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )
    q = run_loader(spark, cfg, query_name="gzidx-resume-a")
    q.processAllAvailable()
    q.stop()

    _write(["r3"])
    q2 = run_loader(spark, cfg, query_name="gzidx-resume-b")
    q2.processAllAvailable()
    q2.stop()

    got = []
    for f in glob.glob(str(tmp_path / "out" / "**" / "*.txt.gz"), recursive=True):
        got.extend(read_all_via_splits(f))
    # RAW frames as base64 lines (byte-faithful contract); decode back
    assert sorted(base64.b64decode(x).decode() for x in got) == ["r1", "r2", "r3"]
