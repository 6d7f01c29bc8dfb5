"""Emit-path round-trip tests (GZipSerializerSpec.scala:33-74 analogue:
serialize → read back with an INDEPENDENT decompressor → byte
equality), plus partitioning and bad-row dead-lettering."""

from __future__ import annotations

import base64
import glob
import gzip
import json

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


def test_runmeta_replay_stable(spark, tmp_path):
    """RunMeta: run_id survives re-instantiation on the same checkpoint
    (crash-restart) and batch times replay verbatim; a wiped checkpoint
    mints a FRESH run_id so batch_id=0 of the new run can never
    overwrite the old run's commits."""
    from kinesis_s3_spark.streaming.runmeta import RunMeta

    ckpt = str(tmp_path / "ckpt")
    m1 = RunMeta(spark, ckpt)
    t0 = m1.batch_time(0)
    m2 = RunMeta(spark, ckpt)  # restart against same checkpoint
    assert m2.run_id == m1.run_id
    assert m2.batch_time(0) == t0  # replayed batch keeps its decoration time

    m3 = RunMeta(spark, str(tmp_path / "ckpt2"))  # checkpoint reset
    assert m3.run_id != m1.run_id


def test_replay_idempotent_with_date_format(spark, tmp_path):
    """The round-2 defect: with date_format set, a replay using the
    RunMeta-stable time must land in (and overwrite) the SAME
    time-decorated directory — no duplicate output across dirs."""
    from kinesis_s3_spark.streaming.runmeta import RunMeta

    cfg = _cfg(tmp_path, date_format="{YYYY}/{MM}/{dd}/{HH}")
    meta = RunMeta(spark, str(tmp_path / "ckpt"))
    df = spark.createDataFrame([(v,) for v in SDJ_ROWS], "value string")
    emit(df, batch_id=2, cfg=cfg, now=meta.batch_time(2), run_id=meta.run_id)
    emit(df, batch_id=2, cfg=cfg, now=meta.batch_time(2), run_id=meta.run_id)  # replay

    everything = _read_gzip_lines(str(tmp_path / "out" / "**" / "*.gz"))
    assert sorted(everything) == sorted(SDJ_ROWS)  # exactly once, not twice
    # and the run namespace is part of the layout
    dirs = glob.glob(str(tmp_path / "out" / "**" / f"run={meta.run_id}" / "batch_id=2"), recursive=True)
    assert len(dirs) == 1


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


def test_run_ids_never_read_as_numbers(monkeypatch):
    """Minted run ids always hold a letter and never parse as a number
    (Spark's partition discovery would make ``run`` numeric), whatever
    uuid4 draws."""
    import uuid

    from kinesis_s3_spark.streaming import runmeta

    draws = iter(
        [
            "012345678901" + "0" * 20,  # all digits
            "207e90628546" + "0" * 20,  # <digits>e<digits>
            "12345678901d" + "0" * 20,  # Java double suffix
            "123456789e1f" + "0" * 20,  # exponent and suffix
            "1234e56789f0" + "0" * 20,  # not a number: the f is inside
        ]
    )
    monkeypatch.setattr(runmeta.uuid, "uuid4", lambda: uuid.UUID(next(draws)))
    assert runmeta._mint_run_id() == "1234e56789f0"


def test_runmeta_keeps_existing_numeric_run_id(spark, tmp_path):
    """An id already recorded in run.json is kept as it is, so a
    restarted loader keeps writing into its own run namespace."""
    from kinesis_s3_spark.streaming.runmeta import RunMeta

    ckpt = tmp_path / "ckpt"
    (ckpt / "emitter_meta").mkdir(parents=True)
    (ckpt / "emitter_meta" / "run.json").write_text(json.dumps({"run_id": "012345678901"}))
    assert RunMeta(spark, str(ckpt)).run_id == "012345678901"
