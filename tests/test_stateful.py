"""applyInPandasWithState sessionizer: closed sessions emitted
incrementally must match the batch sessionization of the same data."""

from __future__ import annotations

import base64

from datetime import datetime, timedelta

from kinesis_s3_spark.streaming.stateful import sessionize_stream


def test_stateful_sessionizer_matches_batch(spark, tmp_path):
    t0 = datetime(2024, 1, 1)
    rows = []
    # user 7: three bursts → sessions of 3, 2, and an open tail of 1
    for m in (0, 10, 20, 120, 125, 300):
        rows.append((7, t0 + timedelta(minutes=m)))
    # user 8: single burst (stays open, never emitted)
    for m in (0, 5):
        rows.append((8, t0 + timedelta(minutes=m)))
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(inp)

    static = spark.read.parquet(inp)
    stream = spark.readStream.schema(static.schema).parquet(inp)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # ProcessingTimeTimeout keeps scheduling wake-up batches, so
        # processAllAvailable never returns — poll until the data batch
        # committed and the closed sessions are visible
        import time

        deadline = time.time() + 120
        got = []
        while time.time() < deadline:
            got = sorted(
                (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.sql("select * from sessions_out").collect()
            )
            if len(got) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()

    # closed sessions only: user 7's first two bursts; user 8 and the
    # final burst of user 7 remain open in state
    assert got == [
        (7, t0, t0 + timedelta(minutes=20), 3),
        (7, t0 + timedelta(minutes=120), t0 + timedelta(minutes=125), 2),
    ]


def test_stream_incremental_dedup_checkpoint_resume(spark, tmp_path):
    """The loader-path streaming dedup must drop duplicate payloads
    BOTH within a run and across a stop/restart: the seen-hash state
    lives in the checkpoint (dropDuplicatesWithinWatermark), so a
    payload first seen before the restart is still recognized as a
    duplicate after it — SURVEY §7 risk 6's streaming twin of
    dedup_incremental."""
    import glob
    import gzip

    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.loader import run_loader

    inp = str(tmp_path / "in")

    def write_input(rows):
        spark.createDataFrame(
            [(r,) for r in rows], "value string"
        ).coalesce(1).write.mode("append").parquet(inp)

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )

    # run 1: an in-batch duplicate ("a") must be dropped
    write_input(["a", "b", "a"])
    q = run_loader(spark, cfg, query_name="dedup-a", dedupe_watermark="1 hour")
    q.processAllAvailable()
    q.stop()

    # run 2, same checkpoint: "b" duplicates a pre-restart payload and
    # must be dropped by RESUMED state; "c" is new
    write_input(["b", "c"])
    q2 = run_loader(spark, cfg, query_name="dedup-b", dedupe_watermark="1 hour")
    q2.processAllAvailable()
    q2.stop()

    lines = []
    for f in glob.glob(str(tmp_path / "out" / "**" / "*.gz"), recursive=True):
        with gzip.open(f, "rt") as fh:
            lines.extend(fh.read().splitlines())
    # RAW frames as base64 lines (byte-faithful contract); decode back
    assert sorted(base64.b64decode(x).decode() for x in lines) == ["a", "b", "c"]


def test_stream_dedup_null_payloads_not_swallowed(spark, tmp_path):
    """sha2(NULL) is NULL and dropDuplicatesWithinWatermark treats NULL
    keys as equal — without the sentinel key, the second and every
    later corrupt/NULL payload would be silently dropped before it
    could reach the bad-row path. Each NULL must survive dedup."""
    from kinesis_s3_spark.streaming.dedup import with_incremental_dedup

    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [("x",), (None,), (None,), ("x",)], "value string"
    ).coalesce(1).write.parquet(inp)

    stream = spark.readStream.schema("value string").parquet(inp)
    deduped = with_incremental_dedup(stream, "1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("null_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    vals = [r["value"] for r in spark.sql("SELECT value FROM null_dedup_out").collect()]
    assert sorted(vals, key=lambda v: (v is None, v)) == ["x", None, None]


def test_stateful_ewma_matches_batch_fold(spark, tmp_path):
    """Streaming EWMA must equal the driver-side fold over the same
    ordered history — including across micro-batches AND query
    restarts (two availableNow runs over one checkpoint: the second
    run resumes the per-user state the first run left behind)."""
    from kinesis_s3_spark.streaming.stateful import ewma_stream

    t0 = datetime(2024, 1, 1)
    batch1 = [
        (7, i, t0 + timedelta(minutes=i), float(v))
        for i, v in enumerate([10.0, 20.0, 30.0])
    ] + [(8, 100, t0, 64.0)]
    batch2 = [
        (7, 3, t0 + timedelta(minutes=3), 2.5),
        (7, 4, t0 + timedelta(minutes=4), 41.25),
        (8, 101, t0 + timedelta(minutes=1), 0.0),
    ]
    inp = str(tmp_path / "in")
    schema = "user_id long, event_id long, ts timestamp, value double"
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "out")
    for batch in (batch1, batch2):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(inp)
        stream = spark.readStream.schema(schema).parquet(inp)
        q = (
            ewma_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in spark.read.parquet(out).collect()
    }

    expected = {}
    state: dict[int, float] = {}
    for u, eid, _ts, v in batch1 + batch2:  # arrival order == ts order per user
        state[u] = v if u not in state else (state[u] + v) * 0.5
        expected[(u, eid)] = state[u]
    assert got == expected  # bit-exact: adds + exact halvings only


def test_streaming_countmin_matches_batch_sketch(spark, tmp_path):
    """The loader-maintained Count-Min matrix, accumulated across
    micro-batches AND across a query stop/restart (state reloaded from
    its file next to the checkpoint), must equal the batch sketch
    built over the same payloads in one pass — the merge-by-addition
    property, proved end-to-end through run_loader."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.operators.sketches import cms_cells, words_of
    from kinesis_s3_spark.streaming.cms import CountMinAccumulator
    from kinesis_s3_spark.streaming.loader import run_loader

    inp = str(tmp_path / "in")
    cms_dir = str(tmp_path / "cms")

    def write_input(rows):
        spark.createDataFrame([(r,) for r in rows], "value string").coalesce(
            1
        ).write.mode("append").parquet(inp)

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )

    part1 = ["the cat sat", "the cat ran", "dogs bark"]
    part2 = ["the end", "cat cat cat"]

    # run 1: first slice of the corpus
    write_input(part1)
    cms = CountMinAccumulator(cms_dir)
    q = run_loader(spark, cfg, query_name="cms-a", accumulators=(cms,))
    q.processAllAvailable()
    q.stop()

    # run 2: RESTART — fresh accumulator instance reloads persisted
    # state, the resumed query delivers only the new slice
    write_input(part2)
    cms2 = CountMinAccumulator(cms_dir)
    assert cms2.cells == cms.cells  # state survived the restart
    q2 = run_loader(spark, cfg, query_name="cms-b", accumulators=(cms2,))
    q2.processAllAvailable()
    q2.stop()

    # batch truth: one sketch over all payloads at once
    allrows = spark.createDataFrame([(r,) for r in part1 + part2], "value string")
    words = allrows.select(F.explode(words_of(F.col("value"))).alias("word")).filter(
        F.col("word") != ""
    )
    batch = {
        (int(r["d"]), int(r["bucket"])): int(r["cnt"]) for r in cms_cells(words).collect()
    }
    assert cms2.cells == batch

    # replays never double-count: re-applying an already-applied id is a no-op
    before = dict(cms2.cells)
    cms2.update(allrows, cms2.last_batch_id)
    assert cms2.cells == before

    # point estimate serves lookups ≥ truth (CMS guarantee)
    assert cms2.estimate("cat") >= 5
    assert cms2.estimate("never-seen-word-xyz") >= 0


def test_streaming_size_histogram_matches_batch(spark, tmp_path):
    """The loader-maintained record-size histogram, accumulated across
    micro-batches AND a query stop/restart, must equal the one-pass
    histogram over the same payloads, and its quantile read-off must
    sit within one bin width above the exact quantile."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.histogram import (
        BIN_WIDTH,
        SizeHistogramAccumulator,
        size_bins,
    )
    from kinesis_s3_spark.streaming.loader import run_loader

    inp = str(tmp_path / "in")
    hist_dir = str(tmp_path / "hist")

    def write_input(rows):
        spark.createDataFrame([(r,) for r in rows], "value string").coalesce(
            1
        ).write.mode("append").parquet(inp)

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )

    part1 = ["x" * 10, "y" * 100, "z" * 300]
    part2 = ["w" * 100, "v" * 5000]  # 5000 clamps into the top bin

    write_input(part1)
    acc = SizeHistogramAccumulator(hist_dir)
    q = run_loader(spark, cfg, query_name="hist-a", accumulators=(acc,))
    q.processAllAvailable()
    q.stop()

    write_input(part2)
    acc2 = SizeHistogramAccumulator(hist_dir)
    assert acc2.bins == acc.bins  # state survived the restart
    q2 = run_loader(spark, cfg, query_name="hist-b", accumulators=(acc2,))
    q2.processAllAvailable()
    q2.stop()

    allrows = spark.createDataFrame([(r,) for r in part1 + part2], "value string")
    batch = {int(r["bin"]): int(r["cnt"]) for r in size_bins(allrows).collect()}
    assert acc2.bins == batch

    # replay no-op
    before = dict(acc2.bins)
    acc2.update(allrows, acc2.last_batch_id)
    assert acc2.bins == before

    # quantile: within one bin width above the exact value
    sizes = sorted(len(r) for r in part1 + part2)
    import math

    for qq in (0.5, 0.9):
        exact = sizes[math.ceil(qq * len(sizes)) - 1]
        est = acc2.quantile(qq)
        assert est >= min(exact, 64 * BIN_WIDTH - BIN_WIDTH)
        if exact < 64 * BIN_WIDTH:
            assert est - exact <= BIN_WIDTH


def test_streaming_histogram_psi(spark, tmp_path):
    """PSI of a histogram against itself is 0; against a shifted size
    mix it is positive and crosses the 0.2 alert line for a gross
    shift."""
    from kinesis_s3_spark.streaming.histogram import SizeHistogramAccumulator

    a = SizeHistogramAccumulator(str(tmp_path / "a"))
    a.bins = {0: 100, 1: 100}
    assert a.psi_against(dict(a.bins)) == 0.0
    b = SizeHistogramAccumulator(str(tmp_path / "b"))
    b.bins = {30: 100, 31: 100}  # payloads 30x larger
    psi = b.psi_against(a.bins)
    assert psi > 0.2, psi
    # symmetric-ish and order-sensitive sanity: reverse also alerts
    assert a.psi_against(b.bins) > 0.2


def test_streaming_hll_matches_batch_registers(spark, tmp_path):
    """The loader-maintained HLL registers, accumulated across
    micro-batches AND a query stop/restart, must equal the one-pass
    register table over the same payloads (merge-by-MAX), the replay
    gate must hold, shard merge() must equal the union sketch, and the
    estimate must track the exact distinct count."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.hll import HLLAccumulator, _bucket_rank
    from kinesis_s3_spark.streaming.loader import run_loader

    inp = str(tmp_path / "in")

    def write_input(rows):
        spark.createDataFrame([(r,) for r in rows], "value string").coalesce(
            1
        ).write.mode("append").parquet(inp)

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )

    part1 = [f"user-{i}" for i in range(60)] + ["user-0", "user-1"]  # dups collapse
    part2 = [f"user-{i}" for i in range(40, 120)]

    write_input(part1)
    acc = HLLAccumulator(str(tmp_path / "hll"))
    q = run_loader(spark, cfg, query_name="hll-a", accumulators=(acc,))
    q.processAllAvailable()
    q.stop()

    # restart: fresh instance reloads state, resumed query adds part2
    write_input(part2)
    acc2 = HLLAccumulator(str(tmp_path / "hll"))
    assert acc2.registers == acc.registers
    q2 = run_loader(spark, cfg, query_name="hll-b", accumulators=(acc2,))
    q2.processAllAvailable()
    q2.stop()

    # batch truth: registers over all payloads in one pass
    allrows = spark.createDataFrame(
        [(r,) for r in part1 + part2], "value string"
    )
    bucket, rank = _bucket_rank(F.col("value").cast("string"))
    batch = {
        int(r["bucket"]): int(r["reg"])
        for r in allrows.select(bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("reg"))
        .collect()
    }
    assert acc2.registers == [batch.get(b, 0) for b in range(len(acc2.registers))]

    # replay gate: re-applying an applied id is a no-op
    before = list(acc2.registers)
    acc2.update(allrows, acc2.last_batch_id)
    assert acc2.registers == before

    # shard merge == union sketch: two fresh shards over the two parts
    s1 = HLLAccumulator(str(tmp_path / "s1"))
    s1.update(spark.createDataFrame([(r,) for r in part1], "value string"), 0)
    s2 = HLLAccumulator(str(tmp_path / "s2"))
    s2.update(spark.createDataFrame([(r,) for r in part2], "value string"), 0)
    s1.merge(s2)
    assert s1.registers == acc2.registers

    # estimate tracks the exact cardinality (120 distinct payloads)
    assert abs(acc2.estimate() - 120) / 120 < 0.35


def test_streaming_daily_hll_answers_sliding_wau(spark, tmp_path):
    """End-to-end streaming WAU (VERDICT r6 task #7): the loader
    replays a multi-day enriched-TSV tree, DailyHLLAccumulator
    maintains per-day register shards across micro-batches AND a
    stop/restart, and the shard-side sliding read-off must equal the
    batch gate's (sketch_hll_sliding) register-arm estimate over the
    SAME (day, user) pairs — bit-identical registers, estimates equal
    to the batch query's rounded column. The reference's monitoring
    surface (StatsD counts/latency) extended with a streaming
    distinct-users metric that never re-scans the stream."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.functions.timestamps import collector_tstamp_col
    from kinesis_s3_spark.operators.sketches import sketch_hll_sliding
    from kinesis_s3_spark.streaming.hll import DailyHLLAccumulator
    from kinesis_s3_spark.streaming.loader import run_loader
    from kinesis_s3_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        F.concat_ws(
            "\t",
            F.lit("app"),
            F.lit("web"),
            F.lit("etl"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),  # idx 3: collector_tstamp
            F.lit("dvce"),
            F.lit("page_view"),
            F.lit("eid"),
            F.col("user_id").cast("string"),  # idx 7: the distinct key
        ).alias("value"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    cutoff = ev.agg(F.date_add(F.min("day"), 14).alias("c")).collect()[0]["c"]
    part1 = ev.filter(F.col("day") <= F.lit(cutoff)).select("value")
    part2 = ev.filter(F.col("day") > F.lit(cutoff)).select("value")

    inp = str(tmp_path / "in")
    part1.coalesce(1).write.mode("append").parquet(inp)

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )
    day_col = F.date_trunc("day", collector_tstamp_col(F.col("value")))
    key_col = F.get(F.split(F.col("value"), "\t"), 7)

    acc = DailyHLLAccumulator(str(tmp_path / "hll"), day_col, key_col)
    q = run_loader(spark, cfg, query_name="wau-a", accumulators=(acc,))
    q.processAllAvailable()
    q.stop()
    assert len(acc.shards) == 15  # first 15 days landed

    # restart: a fresh instance reloads the persisted shards, the
    # resumed query adds the remaining days
    part2.coalesce(1).write.mode("append").parquet(inp)
    acc2 = DailyHLLAccumulator(str(tmp_path / "hll"), day_col, key_col)
    assert acc2.shards == acc.shards and acc2.last_batch_id == acc.last_batch_id
    q2 = run_loader(spark, cfg, query_name="wau-b", accumulators=(acc2,))
    q2.processAllAvailable()
    q2.stop()

    batch = {
        r["day"].strftime("%Y-%m-%d"): r["hll_wau"]
        for r in sketch_hll_sliding(spark, sf).collect()
    }
    stream = acc2.sliding_wau(7)
    assert set(stream) == set(batch)
    for d, est in stream.items():
        assert abs(round(est, 4) - batch[d]) <= 1e-4, (d, est, batch[d])

    # replay gate: re-applying the last batch id is a no-op
    before = {d: list(r) for d, r in acc2.shards.items()}
    acc2.update(spark.createDataFrame([("x\tx\tx\t2099-01-01 00:00:00\tx\tx\tx\tu",)], "value string"), acc2.last_batch_id)
    assert acc2.shards == before

    # malformed lines (short TSV / bad tstamp) fall into the NULL-day
    # branch and are dropped, not crashed on
    acc2.update(
        spark.createDataFrame([("garbage",), ("a\tb\tc\tnot-a-time\te\tf\tg\tu",)], "value string"),
        acc2.last_batch_id + 1,
    )
    assert acc2.shards == before


def test_streaming_minhash_shards_answer_near_dup(spark, tmp_path):
    """End-to-end streaming near-dup (VERDICT r7 task #5): the loader
    replays the documents corpus in two tranches, MinHashShardStore
    maintains band-signature shards across micro-batches AND a
    stop/restart, and the shard-side answers must be bit-equal to the
    batch arm on the same rows — candidate_pairs() == the
    dedup_minhash_lsh band-join candidate set, and probe() flags a
    planted near-dup against the corpus from shards alone."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
        shingle_sets,
    )
    from kinesis_s3_spark.sources.tables import load_table
    from kinesis_s3_spark.streaming.loader import run_loader
    from kinesis_s3_spark.streaming.minhash import MinHashShardStore

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sep = "\x01"
    ev = docs.select(
        F.concat_ws(sep, F.col("doc_id").cast("string"), F.col("text")).alias("value"),
        "doc_id",
    )
    part1 = ev.filter(F.col("doc_id") % 2 == 0).select("value")
    part2 = ev.filter(F.col("doc_id") % 2 == 1).select("value")

    inp = str(tmp_path / "in")
    part1.coalesce(1).write.mode("append").parquet(inp)
    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )
    doc_id_col = F.get(F.split(F.col("value"), sep), 0)
    text_col = F.get(F.split(F.col("value"), sep), 1)

    store = MinHashShardStore(str(tmp_path / "mh"), doc_id_col, text_col)
    q = run_loader(spark, cfg, query_name="mh-a", accumulators=(store,))
    q.processAllAvailable()
    q.stop()
    assert store.last_batch_id >= 0, "first tranche produced no shards"

    # restart: a fresh instance reloads the last applied batch id; the
    # resumed query (same checkpoint) ingests only the new tranche
    part2.coalesce(1).write.mode("append").parquet(inp)
    store2 = MinHashShardStore(str(tmp_path / "mh"), doc_id_col, text_col)
    assert store2.last_batch_id == store.last_batch_id
    q2 = run_loader(spark, cfg, query_name="mh-b", accumulators=(store2,))
    q2.processAllAvailable()
    q2.stop()
    assert store2.last_batch_id > store.last_batch_id

    # gate: shard-side candidates == batch band-join candidates
    bands = lsh_band_keys(minhash_signatures(shingle_sets(docs)))
    a = bands.select("band", "band_key", F.col("doc_id").alias("d1"))
    b = bands.select("band", "band_key", F.col("doc_id").alias("d2"))
    want = {
        (r["d1"], r["d2"])
        for r in a.join(b, ["band", "band_key"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
        .collect()
    }
    got = {(r["d1"], r["d2"]) for r in store2.candidate_pairs(spark).collect()}
    assert got == want

    # replay gate: re-applying an applied batch id is a no-op
    before = (store2.last_batch_id, store2.bands(spark).count())
    store2.update(
        spark.createDataFrame([("9999" + sep + "bogus text",)], "value string"),
        store2.last_batch_id,
    )
    assert (store2.last_batch_id, store2.bands(spark).count()) == before

    # probe: a planted near-dup of doc 0 (one token appended) must be
    # flagged against the corpus-so-far with high signature agreement;
    # a fresh unrelated doc must not match anything strongly
    base = docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
    probe_df = spark.createDataFrame(
        [(100000, base + " zqx"), (100001, "totally unrelated gibberish wkrp")],
        "doc_id long, text string",
    )
    hits = store2.probe(probe_df).collect()
    near = [r for r in hits if r["doc_id"] == 100000 and r["match_doc_id"] == 0]
    assert near and near[0]["sig_sim"] >= 0.5, hits
    assert not [r for r in hits if r["doc_id"] == 100001 and r["sig_sim"] > 0.5]

    # verify tier (VERDICT r8 next #4): probe_verified fetches the
    # collided corpus docs' text back out of the loader's own emitted
    # archive (archive_replay source) and must produce the batch arm's
    # EXACT shingle Jaccard — verdicts bit-equal to minhash_pairs on
    # the same corpus ∪ probe frame, restricted to probe-vs-corpus
    import glob as _glob

    from kinesis_s3_spark.operators.dedup import JACCARD_THRESHOLD, minhash_pairs

    run_dirs = _glob.glob(str(tmp_path / "out" / "run=*"))
    assert len(run_dirs) == 1, run_dirs  # one run id across the restart
    verified = store2.probe_verified(probe_df, run_dirs[0], raw_base64=True).collect()
    # every probe() hit keeps a row, with the exact jaccard attached
    assert {(r["doc_id"], r["match_doc_id"]) for r in verified} == {
        (r["doc_id"], r["match_doc_id"]) for r in hits
    }
    want = {
        (r["d2"], r["d1"]): r["jaccard"]
        for r in minhash_pairs(docs.unionByName(probe_df)).collect()
        if r["d2"] >= 100000 and r["d1"] < 100000  # probe-vs-corpus only
    }
    got = {
        (r["doc_id"], r["match_doc_id"]): r["jaccard"]
        for r in verified
        if r["jaccard"] is not None and r["jaccard"] >= JACCARD_THRESHOLD
    }
    assert got == want
    # and the estimate tier is visibly weaker than the verified tier:
    # sig_sim is quantized to i/12, jaccard is the true set overlap
    planted = [r for r in verified if r["doc_id"] == 100000 and r["match_doc_id"] == 0]
    assert planted and planted[0]["jaccard"] >= JACCARD_THRESHOLD

    # malformed payloads (no separator -> NULL text) are dropped
    store2.update(
        spark.createDataFrame([("garbage-no-separator",)], "value string"),
        store2.last_batch_id + 1000,
    )
    empty = spark.read.parquet(store2._shard_path(store2.last_batch_id))
    assert empty.count() == 0


def test_streaming_misra_gries_matches_batch_heavy_hitters(spark, tmp_path):
    """Streaming Misra-Gries on the loader path: the corpus replayed
    in two tranches with a stop/restart; the accumulator's k-counter
    state must (a) contain every true heavy hitter (freq*k > total —
    the MG superset guarantee carried across partition summaries,
    batch merges, and the restart), (b) bound each counter within
    total/k of the exact frequency, and (c) reproduce the batch
    sketch_heavy_hitters output exactly after the candidate recount —
    the same phase-2 the batch operator runs."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.operators.sketches import MG_K, words_of
    from kinesis_s3_spark.sources.tables import load_table
    from kinesis_s3_spark.streaming.loader import run_loader
    from kinesis_s3_spark.streaming.misra_gries import MisraGriesAccumulator

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    inp = str(tmp_path / "in")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("text").alias("value")
    ).coalesce(1).write.mode("append").parquet(inp)
    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )
    acc = MisraGriesAccumulator(str(tmp_path / "mg"))
    q = run_loader(spark, cfg, query_name="mg-a", accumulators=(acc,))
    q.processAllAvailable()
    q.stop()
    assert acc.counters and acc.total > 0

    docs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("text").alias("value")
    ).coalesce(1).write.mode("append").parquet(inp)
    acc2 = MisraGriesAccumulator(str(tmp_path / "mg"))
    assert acc2.counters == acc.counters and acc2.total == acc.total
    q2 = run_loader(spark, cfg, query_name="mg-b", accumulators=(acc2,))
    q2.processAllAvailable()
    q2.stop()

    words = docs.select(F.explode(words_of(F.col("text"))).alias("word")).filter(
        F.col("word") != ""
    )
    exact = {r["word"]: r["c"] for r in words.groupBy("word").agg(F.count("*").alias("c")).collect()}
    total = sum(exact.values())
    assert acc2.total == total  # stream length tracked exactly

    # (a) superset + (b) counter bound
    cands = acc2.candidates()
    for w, f in exact.items():
        if f * MG_K > total:
            assert w in cands, w
    for w, c in cands.items():
        assert c <= exact.get(w, 0)
        assert exact.get(w, 0) - c <= total / MG_K
    # (c) candidate recount == the batch operator's exact output
    want = {
        (r["word"], r["freq"])
        for r in entrymod.queries()["sketch_heavy_hitters"](spark, sf).collect()
    }
    got = {(w, exact[w]) for w in cands if w in exact and exact[w] * MG_K > total}
    assert got == want

    # replay gate
    before = dict(acc2.counters)
    acc2.update(spark.createDataFrame([("x x x",)], "value string"), acc2.last_batch_id)
    assert acc2.counters == before


def test_streaming_cdc_merge_matches_batch_across_restart(spark, tmp_path):
    """Streaming CDC twin (VERDICT r11 next #6): the sf0.001 event log
    split at the SAME event_id midpoint the batch etl_cdc_merge uses,
    replayed as two micro-batches with a query RESTART between them
    through CdcMergeSink. Ties the arms together three ways:
    (1) the sink's final table equals latest-per-key over the whole
        log with tombstoned keys absent (the state etl_cdc_merge's
        action log produces when applied);
    (2) every action row of the batch operator is reflected row-exactly
        — delete ⇒ key absent, update/insert ⇒ the new (type, value);
    (3) SCD2 arm: batch 1's superseded history rows are exactly the
        target-side old state of the keys the batch operator marks
        update/delete.
    Replay safety: re-delivering the last batch must not change the
    table (the emitter's replay idempotence contract)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from kinesis_s3_spark.sources.tables import load_table
    from kinesis_s3_spark.streaming.cdc import CdcMergeSink, merge_stream
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    mid = e.agg(F.expr("max(event_id) div 2")).collect()[0][0]
    schema = "user_id long, event_id long, ts timestamp, event_type string, value double"
    inp, ckpt, table = (str(tmp_path / d) for d in ("in", "ckpt", "table"))
    sink = CdcMergeSink(table)
    for half in (e.where(F.col("event_id") <= mid), e.where(F.col("event_id") > mid)):
        spark.createDataFrame(half.collect(), schema).write.mode("append").parquet(inp)
        # fresh sink instance per run = the post-restart reload path
        sink = CdcMergeSink(table)
        q = merge_stream(
            spark.readStream.schema(schema).parquet(inp), sink, ckpt
        )
        q.awaitTermination(120)

    got = {
        r["user_id"]: (r["event_type"], r["value"])
        for r in sink.current(spark).collect()
    }

    # (1) final state == latest-per-key over the full log, tombstones out
    key = F.struct("ts", "event_id")
    want = {
        r["user_id"]: (r["t"], r["v"])
        for r in e.groupBy("user_id")
        .agg(F.max_by("event_type", key).alias("t"), F.max_by("value", key).alias("v"))
        .where(F.col("t") != "error")
        .collect()
    }
    assert got == want

    # (2) the batch action log is reflected row-exactly
    actions = entrymod.queries()["etl_cdc_merge"](spark, SF_SMOKE).collect()
    assert len(actions) > 0
    seen = {"insert": 0, "update": 0, "delete": 0}
    for a in actions:
        seen[a["action"]] += 1
        if a["action"] == "delete":
            assert a["user_id"] not in got
        else:
            assert got[a["user_id"]] == (a["new_type"], a["new_value"])
    assert min(seen.values()) > 0  # all three MERGE branches exercised

    # (3) SCD2 history: batch 1 closed exactly the old state of the
    # keys the action log marks update (target-matched) or delete
    hist = {
        r["user_id"]: (r["event_type"], r["value"])
        for r in sink.history(spark).where(F.col("closed_by_batch") == 1).collect()
    }
    closed_want = {
        a["user_id"] for a in actions if a["action"] in ("update", "delete")
    }
    assert set(hist) == closed_want
    for a in actions:
        if a["action"] == "update":
            assert hist[a["user_id"]][0] == a["old_type"]

    # replay: re-delivering the last applied batch id is a no-op
    before = got
    sink.apply(spark.createDataFrame(e.limit(5).collect(), schema), sink.last_batch_id)
    after = {
        r["user_id"]: (r["event_type"], r["value"])
        for r in sink.current(spark).collect()
    }
    assert after == before


def test_stateful_attribution_matches_batch(spark, tmp_path):
    """Streaming last-touch attribution, run over the real sf0.001
    events split into two micro-batches with a query restart between
    them, must aggregate to exactly the batch operator's per-channel
    report (conversions, value sums, delay sums)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from kinesis_s3_spark.sources.tables import load_table
    from kinesis_s3_spark.streaming.attribution import attribute_stream
    from tests.conftest import SF_SMOKE

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    split = len(ev) // 2
    schema = "user_id long, event_id long, ts timestamp, event_type string, value double"
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    for batch in (ev[:split], ev[split:]):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(inp)
        q = (
            attribute_stream(spark.readStream.schema(schema).parquet(inp))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = (
        spark.read.parquet(out)
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("attributed_value"),
            F.sum("delay_us").cast("long").alias("sum_delay_us"),
        )
        .collect()
    )
    want = {
        r["channel"]: (r["n_conversions"], r["attributed_value"], r["sum_delay_us"])
        for r in entrymod.queries()["events_attribution"](spark, SF_SMOKE).collect()
    }
    assert {
        r["channel"]: (r["n_conversions"], r["attributed_value"], r["sum_delay_us"])
        for r in got
    } == want
