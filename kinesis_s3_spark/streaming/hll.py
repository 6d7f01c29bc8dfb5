"""Streaming HyperLogLog maintenance on the loader path: the register
table (operators/sketches.py HLL family) is mergeable by pairwise MAX,
so the stream maintains the distinct-payload cardinality incrementally
— each micro-batch contributes its own per-bucket max ranks and the
accumulator MAX-merges them into a persisted 64-register array.

Same contract as streaming/cms.py (plugged into run_loader via the
``accumulators`` hook, state persisted through
streaming/replay_state.py), with one HLL-specific nicety: max-merge is
IDEMPOTENT, so even a replayed batch could not corrupt the registers —
the batch-id gate here only saves the redundant Spark job. This is the
write-time half of the design sketch_hll_sliding reads from at query
time: persist register shards as data lands, answer any later window
or union by folding shards, never re-scanning payloads.

Distributed part per batch: hash → (bucket, rank) projection +
groupBy(bucket).max(rank), map-side combined, ≤ m = 64 rows ever
collected. Driver state: 64 ints, like the k-means centroid pattern.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_s3_spark.operators.sketches import (
    HLL_ALPHA,
    HLL_M,
    _HLL_RANK_CAP,
    _HLL_SUFFIX_BITS,
)
from kinesis_s3_spark.streaming.replay_state import ReplayState

STATE_FILE = "hll.json"


def _bucket_rank(key, seed: str = "hll|"):  # Column -> (bucket Column, rank Column)
    """The shared 60-bit md5 split of ``seed || key``: top-6 bits route
    to a register, the 54-bit suffix's leading-zero rank (capped at 48
    for dyadic exactness — see the sketches.py module note) is the
    candidate."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(seed), key)), 1, 15), 16, 10).cast("long")
    suffix_mod = 1 << _HLL_SUFFIX_BITS
    bucket = F.shiftrightunsigned(h, _HLL_SUFFIX_BITS)
    rank = F.least(
        F.when(h % suffix_mod == 0, F.lit(_HLL_SUFFIX_BITS + 1)).otherwise(
            F.lit(_HLL_SUFFIX_BITS + 1) - F.length(F.bin(h % suffix_mod))
        ),
        F.lit(_HLL_RANK_CAP),
    )
    return bucket, rank


class HLLAccumulator:
    """Cross-batch distinct-payload HLL with persisted, replay-safe
    state; ``update(batch_df, batch_id)`` folds the batch's values in,
    ``estimate()`` reads the cardinality off the registers."""

    def __init__(self, state_dir: str) -> None:
        self._state = ReplayState(state_dir, STATE_FILE)
        self.registers = [
            int(r) for r in self._state.loaded.get("registers", [0] * HLL_M)
        ]

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._state.seen(batch_id):
            return  # replay: max-merge would be a no-op anyway
        bucket, rank = _bucket_rank(F.col("value").cast("string"))
        rows = (
            batch_df.select(bucket.alias("bucket"), rank.alias("rank"))
            .groupBy("bucket")
            .agg(F.max("rank").alias("reg"))
            .collect()  # <= m rows by construction
        )
        for row in rows:
            b = int(row["bucket"])
            self.registers[b] = max(self.registers[b], int(row["reg"]))
        self._state.commit(batch_id, {"registers": self.registers})

    def merge(self, other: "HLLAccumulator") -> None:
        """Pairwise-MAX union with another shard — the operation that
        combines per-stream/per-day sketches at read time."""
        self.registers = [max(a, b) for a, b in zip(self.registers, other.registers)]

    def estimate(self) -> float:
        """Flajolet et al. 2007 read-off, linear-counting branch for
        the small range — same formulas as sketch_hll_estimate."""
        harm = sum(2.0 ** -r for r in self.registers)
        raw = HLL_ALPHA * HLL_M * HLL_M / harm
        n_zero = sum(1 for r in self.registers if r == 0)
        if raw <= 2.5 * HLL_M and n_zero > 0:
            return HLL_M * math.log(HLL_M / n_zero)
        return raw


DAILY_STATE_FILE = "hll_daily.json"


class DailyHLLAccumulator:
    """Per-day HLL register shards maintained on the loader path — the
    WRITE half of the design ``sketch_hll_sliding`` reads at query
    time (VERDICT r6 task #7): as payloads land, each micro-batch
    folds (day, bucket, max-rank) rows into persisted per-day shards;
    any later sliding window (WAU, MAU) is answered by MAX-merging
    ≤ window × m integers — the raw stream is never re-scanned.

    ``day_col`` / ``key_col`` are Column expressions over the loader's
    ``value`` payload column (e.g. the reference's enriched-TSV
    collector_tstamp at index 3, functions/timestamps.py). The hash
    seed defaults to the batch query's ``hlls|`` so the shards are
    BIT-IDENTICAL to ``sketch_hll_registers``-style shards over the
    same (day, user) pairs — the integration gate in
    tests/test_stateful.py checks equality, not similarity.

    Distributed work per batch: one projection + groupBy(day, bucket)
    max (map-side combined); ≤ |days-in-batch| × m rows collected.
    Driver state: m ints per seen day, like the CMS/histogram
    accumulators, persisted through streaming/replay_state.py (and
    max-merge would be idempotent even without its batch-id gate)."""

    def __init__(self, state_dir: str, day_col, key_col, seed: str = "hlls|") -> None:
        self._state = ReplayState(state_dir, DAILY_STATE_FILE)
        self._day_col = day_col
        self._key_col = key_col
        self._seed = seed
        self.shards: dict[str, list[int]] = {
            d: [int(r) for r in regs]
            for d, regs in self._state.loaded.get("shards", {}).items()
        }

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._state.seen(batch_id):
            return
        bucket, rank = _bucket_rank(self._key_col, self._seed)
        rows = (
            batch_df.select(
                F.date_format(self._day_col, "yyyy-MM-dd").alias("day"),
                bucket.alias("bucket"),
                rank.alias("rank"),
            )
            .where(F.col("day").isNotNull())
            .groupBy("day", "bucket")
            .agg(F.max("rank").alias("reg"))
            .collect()  # <= |days-in-batch| * m rows by construction
        )
        for row in rows:
            regs = self.shards.setdefault(row["day"], [0] * HLL_M)
            b = int(row["bucket"])
            regs[b] = max(regs[b], int(row["reg"]))
        self._state.commit(batch_id, {"shards": self.shards})

    def sliding_wau(self, window_days: int = 7) -> dict[str, float]:
        """day → distinct-user estimate over [day-(w-1), day], by
        MAX-merging the window's shards and applying the identical
        Flajolet read-off as sketch_hll_sliding's register arm. Every
        2^-r term is an exact power of two (r ≤ 48), so the 64-term
        harmonic sum is EXACT in doubles in any order — the estimates
        match the batch query's bit for bit, not approximately."""
        import datetime

        out: dict[str, float] = {}
        days = sorted(self.shards)
        for d in days:
            end = datetime.date.fromisoformat(d)
            regs = [0] * HLL_M
            for k in range(window_days):
                src = self.shards.get(str(end - datetime.timedelta(days=k)))
                if src:
                    regs = [max(a, b) for a, b in zip(regs, src)]
            harm = sum(2.0 ** -r for r in regs)
            raw = HLL_ALPHA * HLL_M * HLL_M / harm
            n_zero = sum(1 for r in regs if r == 0)
            if raw <= 2.5 * HLL_M and n_zero > 0:
                est = HLL_M * math.log(HLL_M / n_zero)
            else:
                est = raw
            out[d] = est
        return out
