"""Streaming NEAR-dup: loader-maintained MinHash band-signature shards
(VERDICT r7 task #5) — the near-dup counterpart of the exact-hash
streaming dedup (streaming/dedup.py) and the last gap between the
batch dedup suite and the reference's always-on streaming posture.

Pattern mirrors DailyHLLAccumulator (streaming/hll.py): an accumulator
on the ``run_loader`` hook folds each micro-batch in and gates it
through streaming/replay_state.py. The one structural difference is
SIZE: an HLL shard is 64 ints and lives on the driver; a MinHash
signature store is INDEX-sized (4 band keys + a 12-hash signature per
document — the same cardinality as the batch bands frame), so shards
are persisted as PARQUET under the state dir, one directory per
micro-batch, written with per-batch overwrite so a replayed batch
rewrites its own shard byte-for-byte instead of duplicating it. On a
cluster the state dir is an object-store prefix and every operation
below is an equi-join — nothing driver-sized anywhere.

The shards use EXACTLY the batch pipeline's shingle→signature→band
derivation (operators/dedup.py: shingle_sets → minhash_signatures →
lsh_band_keys, same seeds, same band packing), so the shard-side
answers are bit-equal to the batch arms on the same rows — gated by
tests/test_stateful.py end-to-end over a replayed multi-batch tree
with a stop/restart in the middle:

- ``candidate_pairs()``  == dedup_minhash_lsh's band-join candidate
  set (every near-dup pair the batch LSH would surface);
- ``probe(new_docs)``    answers "is this new doc a near-dup of the
  corpus so far?" from shards alone: band-key equi-join against the
  store + signature-agreement Jaccard estimate (i/12 matching
  minhashes — the streaming stand-in for the batch arm's exact-shingle
  verify, which would need corpus text the shards deliberately do not
  keep).

Reference parity: kinesis-s3 has no dedup surface (SURVEY §2); this
extends its always-on loader posture (S3Loader.scala's KCL loop) with
the near-dup index a training-data pipeline needs at ingest time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_s3_spark.operators.dedup import (
    N_HASHES,
    lsh_band_keys,
    minhash_signatures,
    shingle_sets,
)
from kinesis_s3_spark.streaming.replay_state import ReplayState

META_FILE = "minhash_meta.json"
_SHARD_PREFIX = "bands_batch="


def _doc_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key, minhashes) via the batch derivation —
    one shingling, one signature aggregate, one band explode."""
    sig = minhash_signatures(shingle_sets(docs))
    return lsh_band_keys(sig).join(sig, "doc_id").select(
        "doc_id", "band", "band_key", "minhashes"
    )


class MinHashShardStore:
    """Replay-safe band-signature shards on the loader path.

    ``doc_id_col`` / ``text_col`` are Column expressions over the
    loader's ``value`` payload column (same contract as
    DailyHLLAccumulator's day/key columns). Rows where either parses
    NULL are dropped, not crashed on (the bad-row path owns them)."""

    def __init__(self, state_dir: str, doc_id_col, text_col) -> None:
        self._state = ReplayState(state_dir, META_FILE)
        self._dir = state_dir
        self._doc_id_col = doc_id_col
        self._text_col = text_col

    @property
    def last_batch_id(self) -> int:
        return self._state.last_batch_id

    def _shard_path(self, batch_id: int) -> str:
        return os.path.join(self._dir, f"{_SHARD_PREFIX}{batch_id}")

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._state.seen(batch_id):
            return  # replay: the shard on disk is already this batch's
        # try_cast, not cast: under ANSI mode (Spark 4 default) a
        # malformed payload would otherwise fail the whole batch
        # instead of falling into the dropped-NULL branch
        docs = batch_df.select(
            self._doc_id_col.try_cast("long").alias("doc_id"),
            self._text_col.alias("text"),
        ).where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        # overwrite (not append): a half-written shard from a crashed
        # attempt is replaced wholesale on redelivery — idempotent like
        # emit()'s per-batch overwrite
        _doc_bands(docs).write.mode("overwrite").parquet(self._shard_path(batch_id))
        self._state.commit(batch_id, {})

    def bands(self, spark: SparkSession) -> DataFrame:
        """The full band-signature index: union of all committed shards
        (a multi-path parquet scan — one listing, no driver data). A
        shard above the last committed batch id is a crashed attempt's
        and stays out until its batch is re-delivered and committed."""
        ids = []
        for name in os.listdir(self._dir):
            if name.startswith(_SHARD_PREFIX):
                b = int(name[len(_SHARD_PREFIX) :])
                if b <= self.last_batch_id:
                    ids.append(b)
        if not ids:
            raise ValueError("MinHashShardStore: no shards applied yet")
        return spark.read.parquet(*[self._shard_path(b) for b in sorted(ids)])

    def candidate_pairs(self, spark: SparkSession) -> DataFrame:
        """(d1, d2) near-dup candidates over the corpus so far — the
        band-bucket equi-join of the batch arm (dedup_minhash_lsh's
        cand stage), answered from shards alone."""
        b = self.bands(spark).select("doc_id", "band", "band_key")
        a = b.select(
            F.col("band"), F.col("band_key"), F.col("doc_id").alias("d1")
        )
        c = b.select(
            F.col("band"), F.col("band_key"), F.col("doc_id").alias("d2")
        )
        return (
            a.join(c, ["band", "band_key"])
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
        )

    def probe(self, new_docs: DataFrame) -> DataFrame:
        """Is each new (doc_id, text) row a near-dup of the corpus so
        far? Band-key equi-join against the shards, then the signature
        -agreement Jaccard estimate (matching minhashes / 12) on the
        collided pairs only. Returns (doc_id, match_doc_id, sig_sim)
        — one row per corpus document the new doc collides with, its
        estimated similarity attached; consumers threshold sig_sim
        (E[sig_sim] = true Jaccard; at 12 hashes ±1σ ≈ 0.14)."""
        spark = new_docs.sparkSession
        nb = _doc_bands(new_docs).select(
            F.col("doc_id").alias("probe_doc"),
            "band",
            "band_key",
            F.col("minhashes").alias("probe_sig"),
        )
        corpus = self.bands(spark).select(
            F.col("doc_id").alias("match_doc_id"),
            "band",
            "band_key",
            F.col("minhashes").alias("corpus_sig"),
        )
        hits = (
            nb.join(corpus, ["band", "band_key"])
            .filter(F.col("probe_doc") != F.col("match_doc_id"))
            .select("probe_doc", "match_doc_id", "probe_sig", "corpus_sig")
            .distinct()
        )
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.col("probe_sig"), F.col("corpus_sig"), lambda x, y: x == y
                ),
                lambda m: m,
            )
        )
        return hits.select(
            F.col("probe_doc").alias("doc_id"),
            "match_doc_id",
            F.round(agree.cast("double") / N_HASHES, 6).alias("sig_sim"),
        )

    def probe_verified(
        self, new_docs: DataFrame, archive_root: str, raw_base64: bool = False
    ) -> DataFrame:
        """:meth:`probe` plus the batch arm's EXACT-verify tier
        (VERDICT r8 next #4). ``probe()`` alone returns the
        signature-agreement ESTIMATE (±1σ ≈ 0.14 at 12 hashes) because
        shards deliberately keep no text; this closes the precision gap
        by fetching the COLLIDED corpus documents' text back out of the
        loader's own emitted archive through the ``archive_replay``
        streaming source and computing the exact shingle Jaccard
        (bit-equal to ``operators/dedup.minhash_pairs``'s verify stage:
        same shingles, same |∩| / (|A|+|B|−|∩|), same rounding).

        The archive replays INCREMENTALLY into a parquet staging dir
        under the state dir: the replay checkpoint means a re-verify
        only ingests batches emitted since the last one — steady-state
        cost is one no-op microbatch plus a staging-scan equi-join over
        the candidate ids only (never the corpus). Returns
        (doc_id, match_doc_id, sig_sim, jaccard); consumers threshold
        ``jaccard`` at the batch arm's JACCARD_THRESHOLD for verdicts
        identical to ``dedup_minhash_lsh`` on the same tree.

        ``raw_base64``: pass True for archives emitted under
        ``Purpose.RAW`` through a line sink — the emitter base64-frames
        raw bytes one line per record (emitter.py:199-209), so the
        staged lines must be unbase64'd back to the exact payload
        before the store's (doc_id, text) column contract applies."""
        from kinesis_s3_spark.sources.replay import register_replay_source

        spark = new_docs.sparkSession
        register_replay_source(spark)
        stage = os.path.join(self._dir, "verify_stage")
        ckpt = os.path.join(self._dir, "verify_ckpt")
        q = (
            spark.readStream.format("archive_replay")
            .option("path", archive_root)
            .load()
            .writeStream.format("parquet")
            .option("path", stage)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

        hits = self.probe(new_docs)
        staged = spark.read.parquet(stage)
        if raw_base64:
            staged = staged.withColumn(
                "value", F.decode(F.unbase64(F.col("value")), "UTF-8")
            )
        corpus = (
            staged
            .select(
                self._doc_id_col.try_cast("long").alias("match_doc_id"),
                self._text_col.alias("text"),
            )
            .where(F.col("match_doc_id").isNotNull() & F.col("text").isNotNull())
        )
        # candidates only (an equi-join on the hit ids — the staging
        # scan is pruned to collided documents, never the corpus);
        # max() collapses the impossible-but-cheap duplicate-staging
        # case deterministically
        cand = (
            corpus.join(hits.select("match_doc_id").distinct(), "match_doc_id")
            .groupBy("match_doc_id")
            .agg(F.max("text").alias("text"))
        )
        g2 = shingle_sets(
            cand.select(F.col("match_doc_id").alias("doc_id"), "text")
        ).select(F.col("doc_id").alias("match_doc_id"), F.col("shingles").alias("gs2"))
        g1 = shingle_sets(new_docs).select(
            "doc_id", F.col("shingles").alias("gs1")
        )
        inter = F.size(F.array_intersect("gs1", "gs2")).cast("double")
        union = F.size("gs1") + F.size("gs2") - F.size(F.array_intersect("gs1", "gs2"))
        return (
            hits.join(g1, "doc_id")
            .join(g2, "match_doc_id")
            .withColumn("jaccard", F.round(inter / union, 6))
            .select("doc_id", "match_doc_id", "sig_sim", "jaccard")
        )
