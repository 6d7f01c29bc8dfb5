"""Emit-path round-trip tests (GZipSerializerSpec.scala:33-74 analogue:
serialize → read back with an INDEPENDENT decompressor → byte
equality), plus partitioning and bad-row dead-lettering."""

from __future__ import annotations

import base64
import glob
import gzip
import json

import pytest

from kinesis_s3_spark.config import from_dict
from kinesis_s3_spark.sinks.emitter import emit


def _cfg(tmp_path, purpose="SELF_DESCRIBING", compression="GZIP", byte_limit=None, **s3extra):
    return from_dict(
        {
            "purpose": purpose,
            "input": {"stream_name": "t"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": compression, **s3extra},
                "bad_path": str(tmp_path / "bad"),
            },
            **({"buffer": {"byte_limit": byte_limit}} if byte_limit else {}),
        }
    )


def _read_gzip_lines(pattern):
    lines = []
    for f in sorted(glob.glob(pattern, recursive=True)):
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


SDJ_ROWS = [
    '{"schema":"iglu:com.acme1/example1/jsonschema/2-0-1","data":{"a":1}}',
    '{"schema":"iglu:com.acme1/example1/jsonschema/2-0-0","data":{"b":[1,2]}}',
    '{"schema":"iglu:com.acme2/other/jsonschema/1-0-0","data":null}',
    '{"no":"schema"}',
    "plain junk",
]


def test_gzip_roundtrip_partitioned(spark, tmp_path):
    """Good records land newline-delimited under gzip, grouped by
    row_type — decompressed with Python's gzip (independent reader,
    like the reference shelling out to gunzip)."""
    cfg = _cfg(tmp_path)
    df = spark.createDataFrame([(v,) for v in SDJ_ROWS], "value string")
    meta = emit(df, batch_id=7, cfg=cfg)

    assert meta.count == 5 and meta.bad_count == 0
    base = str(tmp_path / "out" / "batch_id=7")
    # nested key layout: vendor.name / format-model as TWO directory
    # levels (RowType.scala:28 partition string, un-escaped)
    acme1 = _read_gzip_lines(
        f"{base}/row_type=com.acme1.example1/row_subtype=jsonschema-2/*.gz"
    )
    assert sorted(acme1) == sorted(SDJ_ROWS[:2])
    unpart = _read_gzip_lines(f"{base}/row_type=unpartitioned/*/*.gz")
    assert sorted(unpart) == sorted(SDJ_ROWS[3:])
    # every input byte shows up in exactly one partition
    everything = _read_gzip_lines(f"{base}/**/*.gz")
    assert sorted(everything) == sorted(SDJ_ROWS)


def test_bad_rows_dead_lettered(spark, tmp_path):
    """NULL payloads (unreadable records) become generic_error bad rows
    in the dead-letter path (ISerializer.scala:46-74 semantics)."""
    cfg = _cfg(tmp_path)
    df = spark.createDataFrame([(SDJ_ROWS[0],), (None,)], "value string")
    meta = emit(df, batch_id=1, cfg=cfg)
    assert meta.count == 2 and meta.bad_count == 1

    bad_lines = _read_gzip_lines(str(tmp_path / "bad" / "batch_id=1" / "*.gz"))
    assert len(bad_lines) == 1
    env = json.loads(bad_lines[0])
    assert env["schema"].startswith("iglu:com.snowplowanalytics.snowplow.badrows/generic_error")
    assert env["data"]["processor"]["artifact"] == "kinesis-s3-spark"
    assert env["data"]["failure"]["errors"] == ["Cannot deserialize record"]


def test_parquet_output(spark, tmp_path):
    """PARQUET compression: splittable columnar output (the LZO
    replacement, SURVEY §7 risk 4) re-read via Spark."""
    cfg = _cfg(tmp_path, compression="PARQUET")
    df = spark.createDataFrame([(v,) for v in SDJ_ROWS], "value string")
    emit(df, batch_id=0, cfg=cfg)
    back = spark.read.parquet(str(tmp_path / "out" / "batch_id=0"))
    assert sorted(r["value"] for r in back.collect()) == sorted(SDJ_ROWS)
    assert "row_type" in back.columns


def test_enriched_meta_earliest_tstamp(spark, tmp_path):
    """ENRICHED purpose: Meta carries min(collector_tstamp) parsed from
    TSV field index 3 (Batch.fromEnriched, processing/Batch.scala:36-40)."""
    cfg = _cfg(tmp_path, purpose="ENRICHED_EVENTS")
    rows = [
        ("app\tpc\t0\t2021-10-04 12:00:01\tx",),
        ("app\tpc\t0\t2021-10-02 09:30:00\ty",),
        ("app\tpc\t0\tnot-a-time\tz",),
    ]
    df = spark.createDataFrame(rows, "value string")
    meta = emit(df, batch_id=2, cfg=cfg)
    assert meta.count == 3 and meta.bad_count == 0
    assert meta.earliest_tstamp.strftime("%Y-%m-%d %H:%M:%S") == "2021-10-02 09:30:00"


def test_unpartitioned_purpose_raw(spark, tmp_path):
    """RAW purpose never inspects payloads (Purpose.Raw,
    Config.scala:115): everything lands under row_type=unpartitioned."""
    cfg = _cfg(tmp_path, purpose="RAW")
    df = spark.createDataFrame([("anything",), ("at all",)], "value string")
    emit(df, batch_id=3, cfg=cfg)
    lines = _read_gzip_lines(
        str(tmp_path / "out" / "batch_id=3" / "row_type=unpartitioned" / "*" / "*.gz")
    )
    # RAW frames as base64 lines (byte-faithful contract); decode back
    assert sorted(base64.b64decode(x).decode() for x in lines) == [
        "anything",
        "at all",
    ]


def test_replay_is_idempotent(spark, tmp_path):
    """Re-running the same batch_id (crash-replay) overwrites the
    per-batch directory instead of appending duplicates — the
    idempotent upgrade over the reference's at-least-once."""
    cfg = _cfg(tmp_path)
    df = spark.createDataFrame([(v,) for v in SDJ_ROWS], "value string")
    emit(df, batch_id=9, cfg=cfg)
    emit(df, batch_id=9, cfg=cfg)  # replay
    everything = _read_gzip_lines(str(tmp_path / "out" / "batch_id=9" / "**" / "*.gz"))
    assert sorted(everything) == sorted(SDJ_ROWS)


def test_bad_rows_without_bad_path_warns(spark, tmp_path, caplog):
    """No bad_path configured (RAW purpose permits it): dropped bad
    rows must be loudly logged, never silent data loss."""
    import logging

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t"},
            "output": {"s3": {"path": str(tmp_path / "out")}},
        }
    )
    df = spark.createDataFrame([("ok",), (None,)], "value string")
    with caplog.at_level(logging.WARNING, logger="kinesis_s3_spark.sinks.emitter"):
        meta = emit(df, batch_id=4, cfg=cfg)
    assert meta.bad_count == 1
    assert any("DROPPING 1 bad rows" in r.message for r in caplog.records)


def test_fractional_second_tstamp(spark, tmp_path):
    """Millisecond collector timestamps parse (reference Instant.parse
    accepts '[.SSS]'); the earliest-tstamp metric must not lose them."""
    cfg = _cfg(tmp_path, purpose="ENRICHED_EVENTS")
    rows = [("app\tpc\t0\t2020-11-26 00:01:05.123\tx",), ("app\tpc\t0\t2020-11-26 00:01:06\ty",)]
    meta = emit(spark.createDataFrame(rows, "value string"), batch_id=5, cfg=cfg)
    assert meta.earliest_tstamp is not None
    assert meta.earliest_tstamp.strftime("%H:%M:%S.%f") == "00:01:05.123000"


def test_byte_limit_bounds_object_size(spark, tmp_path):
    """O4 buffer.byteLimit: every output object's uncompressed payload
    must stay within byteLimit (one oversized record still gets its own
    object, like the reference's flush-of-at-least-one)."""
    byte_limit = 200
    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": "GZIP"},
                "bad_path": str(tmp_path / "bad"),
            },
            "buffer": {"byte_limit": byte_limit},
        }
    )
    rows = [(f"record-{i:04d}-" + "x" * 40,) for i in range(40)]  # ~52 B each
    emit(spark.createDataFrame(rows, "value string"), batch_id=11, cfg=cfg)

    files = sorted(glob.glob(str(tmp_path / "out" / "batch_id=11" / "**" / "*.gz"), recursive=True))
    assert len(files) > 4  # the roll actually fired (40*52 B ≈ 10 × limit)
    seen = []
    for f in files:
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        payload = sum(len(line) + 1 for line in lines)
        assert payload <= byte_limit or len(lines) == 1, (f, payload)
        seen.extend(base64.b64decode(x).decode() for x in lines)
    assert sorted(seen) == sorted(r[0] for r in rows)  # nothing lost to the roll


# a production-sized flush buffer: the config default rolls every 2 KiB
MIB64 = 64 * 1024 * 1024


def _skewed_batch(spark):
    """One partition, as a micro-batch from one shard arrives: 1,500
    records of one row type, 100 each of three others, 50 non-JSON
    lines and 20 NULL payloads."""
    rows = []
    for i in range(1500):
        rows.append(f'{{"schema":"iglu:com.big/ev/jsonschema/1-0-0","data":{{"id":{i},"pad":"{"x" * (i % 200)}"}}}}')
    for t in ("a", "b", "c"):
        for i in range(100):
            rows.append(f'{{"schema":"iglu:com.{t}/ev/jsonschema/2-0-0","data":{{"id":{i},"pad":"{"y" * (i % 150)}"}}}}')
    rows += [f"plain line {i}" for i in range(50)]
    rows += [None] * 20
    df = spark.createDataFrame([(v,) for v in rows], "value string").coalesce(1)
    return df, [v for v in rows if v is not None]


def _files_by_type(base):
    """row-type directory -> {file name: decoded lines}."""
    out: dict = {}
    for f in sorted(glob.glob(f"{base}/row_type=*/row_subtype=*/*.gz")):
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        rel = f[len(base) + 1 :].split("/")
        out.setdefault("/".join(rel[:2]), {})[rel[2]] = lines
    return out


def test_emit_routing_contract(spark, tmp_path):
    """A single-partition batch with one dominant row type: every
    record lands exactly once, only the dominant type (larger than a
    fair share of the batch) is split, no type gets more objects than
    writers_per_partition, and the same input gives the same per-file
    record counts twice."""
    df, good = _skewed_batch(spark)
    cfg = _cfg(tmp_path, byte_limit=MIB64, writers_per_partition=4)
    counts = []
    for bid in (1, 2):
        meta = emit(df, batch_id=bid, cfg=cfg)
        assert (meta.count, meta.bad_count) == (len(good) + 20, 20)
        files = _files_by_type(str(tmp_path / "out" / f"batch_id={bid}"))
        assert sorted(v for per in files.values() for lines in per.values() for v in lines) == sorted(good)
        assert all(1 <= len(per) <= 4 for per in files.values())
        assert len(files["row_type=com.big.ev/row_subtype=jsonschema-1"]) > 1
        assert all(len(per) == 1 for key, per in files.items() if "com.big" not in key)
        counts.append(
            sorted((key, name.split("-")[1], len(lines)) for key, per in files.items() for name, lines in per.items())
        )
    assert counts[0] == counts[1]


def test_emit_one_writer_per_type(spark, tmp_path):
    """writers_per_partition=1 is the reference's one object per row
    type per flush, however skewed the batch."""
    df, good = _skewed_batch(spark)
    emit(df, batch_id=0, cfg=_cfg(tmp_path, byte_limit=MIB64, writers_per_partition=1))
    files = _files_by_type(str(tmp_path / "out" / "batch_id=0"))
    assert len(files) == 5 and all(len(per) == 1 for per in files.values())
    assert sorted(v for per in files.values() for lines in per.values() for v in lines) == sorted(good)


def test_emit_routing_keeps_byte_limit(spark, tmp_path):
    """The byteLimit roll still bounds every object once rows are
    routed to sized writers, and loses nothing."""
    df, good = _skewed_batch(spark)
    emit(df, batch_id=0, cfg=_cfg(tmp_path, byte_limit=4096))
    files = _files_by_type(str(tmp_path / "out" / "batch_id=0"))
    for per in files.values():
        for lines in per.values():
            assert sum(len(v.encode()) + 1 for v in lines) <= 4096 or len(lines) == 1
    assert sorted(v for per in files.values() for lines in per.values() for v in lines) == sorted(good)


def test_empty_batch(spark, tmp_path):
    """A 0-row micro-batch (routine for a streaming loader) reports
    count 0 and writes no good output and no bad rows."""
    cfg = _cfg(tmp_path)
    meta = emit(spark.createDataFrame([], "value string"), batch_id=0, cfg=cfg)
    assert (meta.count, meta.bad_count, meta.earliest_tstamp) == (0, 0, None)
    assert glob.glob(str(tmp_path / "out" / "**" / "*.gz"), recursive=True) == []
    assert glob.glob(str(tmp_path / "bad" / "**" / "*.gz"), recursive=True) == []


def test_all_bad_batch(spark, tmp_path):
    """A batch of only unreadable records: every one is dead-lettered
    and no good object is written."""
    cfg = _cfg(tmp_path)
    meta = emit(spark.createDataFrame([(None,)] * 7, "value string"), batch_id=3, cfg=cfg)
    assert (meta.count, meta.bad_count) == (7, 7)
    assert glob.glob(str(tmp_path / "out" / "**" / "*.gz"), recursive=True) == []
    assert len(_read_gzip_lines(str(tmp_path / "bad" / "batch_id=3" / "*.gz"))) == 7


_OUTSIDE_ROOT_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from kinesis_s3_spark.config import from_dict
from kinesis_s3_spark.session import get_spark
from kinesis_s3_spark.sinks.emitter import emit

spark = get_spark("outside-root", master="local[2]", shuffle_partitions=2)
cfg = from_dict({
    "purpose": "SELF_DESCRIBING",
    "input": {"stream_name": "t"},
    "output": {"s3": {"path": sys.argv[2], "compression": "GZIP_INDEXED"}, "bad_path": sys.argv[2] + "-bad"},
})
rows = [(f'{{"schema":"iglu:com.acme/ev/jsonschema/1-0-0","data":{{"id":{i}}}}}',) for i in range(50)]
print("COUNT", emit(spark.createDataFrame(rows, "value string"), 0, cfg).count)
spark.stop()
"""


def test_gzip_indexed_emit_outside_repo_root(tmp_path):
    """The GZIP_INDEXED sink runs Python writers in the workers; they
    must not need the package importable there (no PYTHONPATH, a
    working directory other than the repository root)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    from kinesis_s3_spark.sinks.indexed_gzip import read_all_via_splits

    repo = str(Path(__file__).resolve().parents[1])
    script = tmp_path / "emit_outside.py"
    script.write_text(_OUTSIDE_ROOT_SCRIPT)
    out = tmp_path / "out"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), repo, str(out)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "COUNT 50" in proc.stdout
    files = glob.glob(str(out / "batch_id=0" / "**" / "*.txt.gz"), recursive=True)
    lines = [v for f in files for v in read_all_via_splits(f)]
    assert sorted(json.loads(v)["data"]["id"] for v in lines) == list(range(50))


# --- replay safety through run_loader: run id and batch time come from
# Spark's own checkpoint (<ckpt>/metadata, <ckpt>/offsets/<n>)

SECONDS_FORMAT = "{YYYY}/{MM}/{dd}/{HH}/{mm}/{ss}"


def _stream_cfg(tmp_path, ckpt, **s3extra):
    inp = tmp_path / "in"
    if not inp.exists():
        inp.mkdir()
        (inp / "part-0.txt").write_text("\n".join(SDJ_ROWS[:4]) + "\n")
    return from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t", "kind": "file", "path": str(inp), "format": "text"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": "GZIP", **s3extra},
                "bad_path": str(tmp_path / "bad"),
            },
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / ckpt),
        }
    )


def _drain(spark, cfg, name):
    from kinesis_s3_spark.streaming.loader import run_loader

    q = run_loader(spark, cfg, query_name=name)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def test_loader_replays_a_batch_into_its_own_directory(spark, tmp_path):
    """A batch whose commit was lost is replayed after a restart more
    than a second later. With the date decoration down to seconds, the
    replay reads the batch time back from the offset log and overwrites
    the same directory: every record lands once."""
    import time

    from kinesis_s3_spark.functions.paths import decorate_directory_with_time
    from kinesis_s3_spark.streaming.loader import offset_log_batch_time

    cfg = _stream_cfg(tmp_path, "ckpt", date_format=SECONDS_FORMAT)
    q = _drain(spark, cfg, "replay-a")
    ckpt = tmp_path / "ckpt"
    for f in (ckpt / "commits").iterdir():  # lose batch 0's commit (and its .crc)
        f.unlink()
    time.sleep(1.5)
    _drain(spark, cfg, "replay-b")

    assert (ckpt / "commits" / "0").exists()  # the replay ran and committed
    offsets = ckpt / "offsets" / "0"
    t = offset_log_batch_time(offsets.read_text(), str(offsets))
    want = tmp_path / "out" / decorate_directory_with_time(SECONDS_FORMAT, t) / f"run={q.id}" / "batch_id=0"
    assert glob.glob(str(tmp_path / "out" / "**" / "batch_id=*"), recursive=True) == [str(want)]
    assert sorted(_read_gzip_lines(f"{want}/**/*.gz")) == sorted(SDJ_ROWS[:4])
    assert not (ckpt / "emitter_meta").exists()


def test_loader_reset_checkpoint_gets_a_new_run(spark, tmp_path):
    """A new checkpoint over the same output path writes batch 0 under a
    new ``run=`` namespace, named by the query id, and leaves the old
    run's batch 0 as it was."""
    q1 = _drain(spark, _stream_cfg(tmp_path, "ckpt1"), "reset-a")
    old = tmp_path / "out" / f"run={q1.id}" / "batch_id=0"
    before = {f: open(f, "rb").read() for f in glob.glob(f"{old}/**/*.gz", recursive=True)}
    assert before
    q2 = _drain(spark, _stream_cfg(tmp_path, "ckpt2"), "reset-b")

    assert q1.id != q2.id
    runs = sorted(glob.glob(str(tmp_path / "out" / "run=*")))
    assert runs == sorted(str(tmp_path / "out" / f"run={q.id}") for q in (q1, q2))
    after = {f: open(f, "rb").read() for f in glob.glob(f"{old}/**/*.gz", recursive=True)}
    assert after == before
    new = tmp_path / "out" / f"run={q2.id}" / "batch_id=0"
    assert sorted(_read_gzip_lines(f"{new}/**/*.gz")) == sorted(SDJ_ROWS[:4])


def test_loader_all_digit_query_id_reads_as_a_string(spark, tmp_path):
    """A query id of digits and dashes, pre-written to the checkpoint's
    metadata, becomes the run namespace, and partition discovery reads
    it back as a string."""
    from kinesis_s3_spark.sources.archive import read_archive

    run_id = "12345678-1234-1234-1234-123456789012"
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(json.dumps({"id": run_id}) + "\n")
    q = _drain(spark, _stream_cfg(tmp_path, "ckpt"), "digit-id")
    assert str(q.id) == run_id

    df = read_archive(spark, str(tmp_path / "out"))
    assert dict(df.dtypes)["run"] == "string"
    assert {r["run"] for r in df.select("run").distinct().collect()} == {run_id}


def test_offset_log_version_is_checked():
    from kinesis_s3_spark.streaming.loader import offset_log_batch_time

    t = offset_log_batch_time('v1\n{"batchWatermarkMs":0,"batchTimestampMs":1500}\n{}', "o/0")
    assert t.isoformat() == "1970-01-01T00:00:01.500000+00:00"
    with pytest.raises(ValueError, match="ckpt/offsets/7"):
        offset_log_batch_time('v2\n{"batchTimestampMs":1500}', "ckpt/offsets/7")
