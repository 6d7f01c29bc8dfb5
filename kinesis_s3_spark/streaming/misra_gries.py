"""Streaming Misra-Gries heavy hitters on the loader path — the last
member of the loader's sketch family (CMS for point frequencies,
histogram for sizes/values, HLL for distincts, MinHash bands for
near-dups; this one for top keys).

The batch operator (sketches.sketch_heavy_hitters) runs the two-phase
plan once per query; the stream maintains the summary as data lands.
MG summaries are MERGEABLE (Agarwal et al. 2013, "Mergeable
summaries"): merge = add counters pointwise, then if more than k
survive, subtract the (k+1)-th largest count and drop non-positives.
Per batch the stream computes per-partition k-counter summaries WITH
counts (Arrow ``mapInPandas``, O(k) memory per task, zero vocabulary
shuffle), collects ≤ k·P rows, and MG-merges them into persisted
driver state of exactly k counters — the same shape as the k-means
centroid / CMS-matrix driver states.

Guarantees carried across merges and batches (classic MG bound):
``f(w) − total/k ≤ counter(w) ≤ f(w)``, so every key with true
frequency > total/k is present in the state — ``candidates()`` is a
provable superset of the heavy hitters, and an exact recount of the
candidate set (the batch operator's phase 2) yields the exact answer.
tests/test_stateful.py replays the documents corpus through the
loader with a stop/restart and gates the streamed state against the
batch ``sketch_heavy_hitters`` output.

Replay-safe like every accumulator here: state persists through
streaming/replay_state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_s3_spark.operators.sketches import MG_K, words_of
from kinesis_s3_spark.streaming.replay_state import ReplayState

STATE_FILE = "misra_gries.json"


def _mg_merge(counters: dict[str, int], k: int) -> dict[str, int]:
    """The MG overflow step: keep ≤ k counters by subtracting the
    (k+1)-th largest count from everything and dropping ≤ 0."""
    if len(counters) <= k:
        return counters
    kth = sorted(counters.values(), reverse=True)[k]
    return {w: c - kth for w, c in counters.items() if c > kth}


def partition_summaries(words: DataFrame, k: int = MG_K) -> DataFrame:
    """(word, cnt) per-partition MG summaries — ≤ k rows per input
    partition, each cnt a LOWER bound on the word's in-partition
    frequency. Distributed phase of the streaming update; the batch
    operator's mg_candidates is the same walk without the counts."""

    def _summarize(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for w, c in pdf["word"].value_counts().items():
                counters[w] = counters.get(w, 0) + int(c)
            counters = _mg_merge(counters, k)
        yield pd.DataFrame(
            {"word": list(counters), "cnt": [int(c) for c in counters.values()]}
        )

    return words.mapInPandas(_summarize, "word string, cnt long")


class MisraGriesAccumulator:
    """Cross-batch k-counter heavy-hitter state with persisted,
    replay-safe driver state; wired into ``run_loader``'s
    ``accumulators=`` hook like the CMS/histogram/HLL/minhash peers."""

    def __init__(self, state_dir: str, k: int = MG_K) -> None:
        self._state = ReplayState(state_dir, STATE_FILE)
        self.k = k
        data = self._state.loaded
        self.total = int(data.get("total", 0))  # exact stream length (words), for the bound
        self.counters: dict[str, int] = {w: int(c) for w, c in data.get("counters", [])}

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._state.seen(batch_id):
            return
        words = batch_df.select(
            F.explode(words_of(F.col("value").cast("string"))).alias("word")
        ).filter(F.col("word") != "")
        # one distributed pass: per-partition summaries + the exact
        # batch word count ride the same cached frame
        words = words.cache()
        rows = partition_summaries(words, self.k).collect()  # ≤ k·P rows
        n = words.count()
        words.unpersist()
        for row in rows:
            w = row["word"]
            self.counters[w] = self.counters.get(w, 0) + int(row["cnt"])
        self.counters = _mg_merge(self.counters, self.k)
        self.total += int(n)
        self._state.commit(
            batch_id, {"total": self.total, "counters": sorted(self.counters.items())}
        )

    def candidates(self) -> dict[str, int]:
        """word → counter (a lower bound on true frequency, within
        total/k of exact). Superset of every word with true frequency
        > total/k — recount these exactly for the exact answer."""
        return dict(self.counters)
