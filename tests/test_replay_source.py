"""Archive-replay streaming source: emit() tree → incremental stream.

The backfill contract: everything already archived is replayed once,
in batch order, with layout columns recovered; a checkpoint-restarted
query sees ONLY batches archived since (the same resume guarantee the
loader's own checkpoint gives the forward path)."""

from __future__ import annotations

import pytest

from kinesis_s3_spark.config import from_dict
from kinesis_s3_spark.sinks import emitter
from kinesis_s3_spark.sinks.emitter import emit
from kinesis_s3_spark.sources import replay
from kinesis_s3_spark.sources.replay import (
    _plan_batch,
    register_replay_source,
)


def test_no_subtype_sentinel_pinned():
    """replay.py duplicates the emitter sentinel rather than import the
    emitter into a module pickled by value — pin the equality."""
    assert replay.NO_SUBTYPE == emitter.NO_SUBTYPE

SDJ = [
    '{"schema":"iglu:com.acme1/example1/jsonschema/2-0-1","data":{"a":1}}',
    '{"schema":"iglu:com.acme2/other/jsonschema/1-0-0","data":null}',
    "plain junk",
]


def _cfg(tmp_path):
    return from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": "GZIP"},
                "bad_path": str(tmp_path / "bad"),
            },
        }
    )


def _drain(spark, tree, checkpoint, table):
    q = (
        spark.readStream.format("archive_replay")
        .option("path", tree)
        .load()
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


@pytest.fixture()
def tree(spark, tmp_path):
    cfg = _cfg(tmp_path)
    emit(spark.createDataFrame([(v,) for v in SDJ], "value string"), batch_id=0, cfg=cfg)
    emit(
        spark.createDataFrame([(SDJ[0],)], "value string"), batch_id=1, cfg=cfg
    )
    return str(tmp_path / "out"), cfg


def test_replay_full_tree(spark, tmp_path, tree):
    root, _ = tree
    register_replay_source(spark)
    _drain(spark, root, str(tmp_path / "ckpt"), "replay_all")
    rows = spark.sql(
        "SELECT value, batch_id, row_type FROM replay_all ORDER BY batch_id, value"
    ).collect()
    # all 3 batch-0 records are good: the schemaless one archives under
    # row_type=unpartitioned (only NULL payloads dead-letter)
    assert [r.batch_id for r in rows] == [0, 0, 0, 1]
    assert {r.value for r in rows if r.batch_id == 0} == set(SDJ)
    # combined RowType string recovered from the directory pair; bare
    # (no slash) when the subtype sentinel '-' was stored
    assert {r.row_type for r in rows} == {
        "com.acme1.example1/jsonschema-2",
        "com.acme2.other/jsonschema-1",
        "unpartitioned",
    }


def test_replay_resumes_from_checkpoint(spark, tmp_path, tree):
    """Restart sees ONLY batches archived since the checkpoint — the
    exactly-once half of the backfill contract (memory sink can't
    recover, so the durable parquet sink carries this test)."""
    root, cfg = tree
    register_replay_source(spark)
    ckpt = str(tmp_path / "ckpt2")
    sink = str(tmp_path / "sink")

    def run_once():
        q = (
            spark.readStream.format("archive_replay")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 4

    # a new batch lands after the first run finished
    emit(
        spark.createDataFrame([(SDJ[1],)], "value string"), batch_id=2, cfg=cfg
    )
    run_once()
    back = spark.read.parquet(sink)
    # exactly one new row: ids 0/1 are behind the checkpoint, batch 2
    # is replayed once, nothing is duplicated
    assert back.count() == 5
    assert [
        (r.batch_id, r.value)
        for r in back.filter("batch_id = 2").collect()
    ] == [(2, SDJ[1])]


def test_starting_batch_id_floor(spark, tmp_path, tree):
    root, _ = tree
    register_replay_source(spark)
    q = (
        spark.readStream.format("archive_replay")
        .option("path", root)
        .option("startingBatchId", "1")
        .load()
        .writeStream.format("memory")
        .queryName("replay_floor")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert [r.batch_id for r in spark.table("replay_floor").collect()] == [1]


def test_partition_planning_unit(tmp_path, spark, tree):
    """One InputPartition per gzip object; layout folded at plan time."""
    root, _ = tree
    parts = _plan_batch(root, 0)
    assert len(parts) == 3
    assert {p.row_type for p in parts} == {
        "com.acme1.example1/jsonschema-2",
        "com.acme2.other/jsonschema-1",
        "unpartitioned",
    }
    assert all(p.path.endswith(".gz") and p.batch_id == 0 for p in parts)


def _indexed_cfg(tmp_path):
    return from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t"},
            "output": {
                "s3": {
                    "path": str(tmp_path / "out"),
                    "compression": "GZIP_INDEXED",
                    "writers_per_partition": 1,
                },
                "bad_path": str(tmp_path / "bad"),
            },
            # one big object per writer (no byte-limit roll): the split
            # tests need few large indexed objects, not many small ones
            "buffer": {"byte_limit": 64 * 1024 * 1024},
        }
    )


def test_indexed_object_splits_into_partitions(spark, tmp_path):
    """A single large GZIP_INDEXED object plans into N>1 mid-file
    partitions whose union is byte-identical to the object — the two
    r5 features composed (VERDICT r5 task #4)."""
    from kinesis_s3_spark.sinks.indexed_gzip import read_index

    cfg = _indexed_cfg(tmp_path)
    rows = [f"record-{i:06d}|{'x' * 64}" for i in range(2500)]
    emit(spark.createDataFrame([(v,) for v in rows], "value string"), 0, cfg)
    root = str(tmp_path / "out")

    # default target: monolithic objects stay one partition each
    whole = [p for p in _plan_batch(root, 0) if p.path]
    # tiny target: the same object splits at sync boundaries
    parts = [p for p in _plan_batch(root, 0, split_target_bytes=512) if p.path]
    n_objects = len({p.path for p in parts})
    assert len(whole) == n_objects
    assert len(parts) > n_objects  # genuinely split mid-file
    assert all(p.start >= 0 and p.end > p.start for p in parts)

    # ranges tile each object exactly: starts/ends chain from first
    # sync offset to total_bytes
    by_path = {}
    for p in parts:
        by_path.setdefault(p.path, []).append((p.start, p.end))
    for path, ranges in by_path.items():
        ranges.sort()
        points, _n, total = read_index(path + ".index")
        assert ranges[0][0] == points[0][1]
        assert ranges[-1][1] == total
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))

    # the streaming query with the small target reproduces every record
    register_replay_source(spark)
    q = (
        spark.readStream.format("archive_replay")
        .option("path", root)
        .option("splitTargetBytes", "512")
        .load()
        .writeStream.format("memory")
        .queryName("replay_split")
        .option("checkpointLocation", str(tmp_path / "ckpt_split"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = [r.value for r in spark.table("replay_split").collect()]
    assert sorted(got) == sorted(rows)


def test_require_complete_hides_unfinished_batch(spark, tmp_path):
    """requireComplete=true: a batch directory without the _SUCCESS
    marker (mid-write) is invisible; it appears once the marker lands
    — the live-tail-safe mode (ADVICE r5)."""
    import os
    import shutil

    cfg = _indexed_cfg(tmp_path)
    emit(spark.createDataFrame([("a",), ("b",)], "value string"), 0, cfg)
    emit(spark.createDataFrame([("c",)], "value string"), 1, cfg)
    root = str(tmp_path / "out")
    # simulate batch 1 mid-write: marker absent
    marker = os.path.join(root, "batch_id=1", "_SUCCESS")
    assert os.path.exists(marker)  # the indexed sink writes it
    os.remove(marker)

    register_replay_source(spark)

    def drain(name, ckpt):
        q = (
            spark.readStream.format("archive_replay")
            .option("path", root)
            .option("requireComplete", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sinkc"))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    ckpt = str(tmp_path / "ckptc")
    drain("replay_c1", ckpt)
    assert sorted(
        r.value for r in spark.read.parquet(str(tmp_path / "sinkc")).collect()
    ) == ["a", "b"]

    # the writer finishes batch 1 -> marker lands -> next run sees it
    open(marker, "w").close()
    drain("replay_c2", ckpt)
    assert sorted(
        r.value for r in spark.read.parquet(str(tmp_path / "sinkc")).collect()
    ) == ["a", "b", "c"]


_REPLAY_OUTSIDE_ROOT_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from kinesis_s3_spark.session import get_spark
from kinesis_s3_spark.sources.replay import _plan_batch, register_replay_source

root, ckpt = sys.argv[2], sys.argv[3]
spark = get_spark("replay-outside-root", master="local[2]", shuffle_partitions=2)
register_replay_source(spark)
print("SPLITS", len(_plan_batch(root, 0, split_target_bytes=512)))
q = (
    spark.readStream.format("archive_replay")
    .option("path", root)
    .option("splitTargetBytes", "512")
    .load()
    .writeStream.format("memory")
    .queryName("replayed")
    .option("checkpointLocation", ckpt)
    .start()
)
try:
    q.processAllAvailable()
finally:
    q.stop()
    q.awaitTermination()
for r in spark.table("replayed").collect():
    print("ROW", r.value)
spark.stop()
"""


def test_replay_split_indexed_tree_outside_repo_root(spark, tmp_path):
    """The replay source reads indexed ranges through
    sinks/indexed_gzip.py inside its Python workers; those must not need
    the package importable there (no PYTHONPATH, a working directory
    other than the repository root)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    cfg = _indexed_cfg(tmp_path)
    rows = [f"record-{i:06d}|{'x' * 64}" for i in range(2500)]
    emit(spark.createDataFrame([(v,) for v in rows], "value string"), 0, cfg)

    repo = str(Path(__file__).resolve().parents[1])
    script = tmp_path / "replay_outside.py"
    script.write_text(_REPLAY_OUTSIDE_ROOT_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), repo, str(tmp_path / "out"), str(tmp_path / "ckpt")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    (splits,) = [int(x.split()[1]) for x in lines if x.startswith("SPLITS ")]
    assert splits > 1  # the object really is read as mid-file ranges
    got = [x[len("ROW ") :] for x in lines if x.startswith("ROW ")]
    assert sorted(got) == sorted(rows)
