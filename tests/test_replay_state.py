"""The replay protocol shared by every loader accumulator
(streaming/replay_state.py): a re-delivered batch id changes neither the
in-memory state nor a byte of the state file, a new instance on the same
directory reloads equal state, and a stray ``.tmp`` left by a crashed
write is ignored."""

from __future__ import annotations

import copy
import os

import pytest
from pyspark.sql import functions as F

from kinesis_s3_spark.streaming import cdc, cms, histogram, hll, minhash, misra_gries, mmd, mv


def _field(i):
    return F.get(F.split(F.col("value"), "\t"), i)


def _payloads(spark):
    """TSV payloads: doc id, embedding, text, collector timestamp, user."""
    rows = [
        (
            f"{i}\t{i * 0.25},{1 - i * 0.5}\tthe quick brown fox {i % 3} jumps over"
            f"\t2024-01-0{1 + i % 3} 12:00:00\tuser{i % 4}",
        )
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "value string")


def _changes(spark):
    return spark.sql(
        "SELECT id % 5 AS user_id, TIMESTAMP'2024-01-01' + make_interval(0, 0, 0, 0, 0, 0, id)"
        " AS ts, id AS event_id, IF(id = 7, 'error', 'view') AS event_type,"
        " CAST(id AS DOUBLE) AS value FROM range(12)"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# name -> (state file, build(spark, dir), apply(acc, spark, batch_id), state(acc, spark))
ACCUMULATORS = {
    "countmin": (
        cms.STATE_FILE,
        lambda spark, d: cms.CountMinAccumulator(d),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: acc.cells,
    ),
    "hll": (
        hll.STATE_FILE,
        lambda spark, d: hll.HLLAccumulator(d),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: acc.registers,
    ),
    "daily_hll": (
        hll.DAILY_STATE_FILE,
        lambda spark, d: hll.DailyHLLAccumulator(d, F.to_timestamp(_field(3)), _field(4)),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: acc.shards,
    ),
    "misra_gries": (
        misra_gries.STATE_FILE,
        lambda spark, d: misra_gries.MisraGriesAccumulator(d, k=3),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: (acc.total, acc.counters),
    ),
    "size_histogram": (
        histogram.STATE_FILE,
        lambda spark, d: histogram.SizeHistogramAccumulator(d),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: acc.bins,
    ),
    "embedding_moments": (
        mmd.STATE_FILE,
        lambda spark, d: mmd.EmbeddingMomentAccumulator(d),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: acc.moments,
    ),
    "materialized_view": (
        mv.META_FILE,
        lambda spark, d: mv.ParquetMaterializedView(spark, d, key_col=_field(4)),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: (acc.version, _rows(acc.read())),
    ),
    "cdc_merge": (
        cdc._META,
        lambda spark, d: cdc.CdcMergeSink(d),
        lambda acc, spark, b: acc.apply(_changes(spark), b),
        lambda acc, spark: (_rows(acc.current(spark)), _rows(acc.history(spark))),
    ),
    "minhash": (
        minhash.META_FILE,
        lambda spark, d: minhash.MinHashShardStore(d, _field(0), _field(2)),
        lambda acc, spark, b: acc.update(_payloads(spark), b),
        lambda acc, spark: _rows(acc.bands(spark).select("doc_id", "band", "band_key")),
    ),
}


@pytest.mark.parametrize("name", sorted(ACCUMULATORS))
def test_accumulator_replay_is_a_no_op(spark, tmp_path, name):
    state_file, build, apply, state = ACCUMULATORS[name]
    d = str(tmp_path / name)
    acc = build(spark, d)
    assert acc.last_batch_id == -1
    apply(acc, spark, 0)
    assert acc.last_batch_id == 0
    path = os.path.join(d, state_file)
    with open(path, "rb") as fh:
        on_disk = fh.read()
    after_first = copy.deepcopy(state(acc, spark))

    apply(acc, spark, 0)  # the re-delivery of batch 0
    assert acc.last_batch_id == 0
    assert state(acc, spark) == after_first
    with open(path, "rb") as fh:
        assert fh.read() == on_disk

    # a crashed write leaves <file>.tmp behind; a restart ignores it
    with open(path + ".tmp", "w") as fh:
        fh.write('{"last_batch_id": 99, "trunc')
    restarted = build(spark, d)
    assert restarted.last_batch_id == 0
    assert state(restarted, spark) == after_first
