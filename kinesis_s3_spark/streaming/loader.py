"""The continuously-running loader (reference O1-O4 + O14 wiring:
S3Loader.run at S3Loader.scala:35-69, KCL worker at
KinesisSourceExecutor.scala:44-151).

Reference → Spark mapping (SURVEY §3.2):
- KCL worker + shard leases in DynamoDB → Structured Streaming query +
  ``checkpointLocation`` WAL (offsets/commits);
- BasicMemoryBuffer(byte|record|time limit) → micro-batch trigger:
  ``processingTime=buffer.time_limit_ms`` approximates timeLimit;
  ``input.max_records`` caps each trigger's input (``maxFilesPerTrigger``
  on the file source, ``maxFetchRecordsPerShard`` on Kinesis), and the
  reference's recordLimit has no analogue; byteLimit bounds each output
  object through the writer's file roll (sinks/emitter.py), not the
  batch (documented semantic difference, SURVEY §7 risk 1 — same
  records land, batch boundaries may differ);
- emitter retry-forever-then-halt → task retries + query restart
  policy (exactly-once file sink).

The Kinesis source itself needs a connector jar on a real deployment
(``spark-sql-kinesis`` or Kinesis EFO connector); tests and local dev
use the file source behind the same build function, mirroring how the
reference never integration-tests KCL either (SURVEY §5).
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kinesis_s3_spark.config import InitialPosition, LoaderConfig
from kinesis_s3_spark.sinks.badrows_sink import build_bad_sink
from kinesis_s3_spark.sinks.emitter import emit
from kinesis_s3_spark.streaming.monitoring import LoaderListener, init_sentry
from kinesis_s3_spark.streaming.tracking import SnowplowTracker


def build_stream(spark: SparkSession, cfg: LoaderConfig) -> DataFrame:
    """O1: the source. Returns a streaming DataFrame with a ``value``
    column (string payload), the IdentityTransformer contract (O2)."""
    inp = cfg.input
    if inp.kind == "file":
        if not inp.path:
            raise ValueError("file input requires input.path")
        reader = (
            spark.readStream.format(inp.format)
            .option("maxFilesPerTrigger", max(1, inp.max_records))
        )
        if inp.format in ("text", "json", "csv"):
            df = reader.load(inp.path)
            if "value" not in df.columns:
                raise ValueError("text-like input must yield a value column")
            return df.select(F.col("value").cast("string").alias("value"))
        # parquet file source needs an explicit schema-bearing path
        df = reader.schema(spark.read.format(inp.format).load(inp.path).schema).load(inp.path)
        if "value" not in df.columns:
            raise ValueError("input stream must carry a 'value' column")
        return df
    if inp.kind == "kinesis":
        # requires a kinesis connector on the classpath
        df = (
            spark.readStream.format("aws-kinesis")
            .options(**kinesis_options(inp))
            .load()
        )
        return df.select(F.col("data").cast("string").alias("value"))
    raise ValueError(f"unknown input.kind {inp.kind!r}")


def kinesis_options(inp) -> dict[str, str]:
    """The connector option map for the kinesis source, as a pure
    function so tests pin it without a connector on the classpath
    (tests/test_streaming.py). Mirrors the reference's config surface:
    initial position incl. AT_TIMESTAMP (Config.scala:62-106) and
    maxRecords → per-shard fetch cap (S3Loader.scala:118)."""
    opts = {
        "kinesis.streamName": inp.stream_name,
        "kinesis.region": inp.region or "us-east-1",
        "kinesis.consumerType": "GetRecords",
        "kinesis.startingPosition": {
            InitialPosition.LATEST: "LATEST",
            InitialPosition.TRIM_HORIZON: "TRIM_HORIZON",
            InitialPosition.AT_TIMESTAMP: "AT_TIMESTAMP",
        }[inp.position],
        "kinesis.maxFetchRecordsPerShard": str(inp.max_records),
    }
    if inp.position is InitialPosition.AT_TIMESTAMP and inp.position_timestamp:
        opts["kinesis.startingTimestamp"] = inp.position_timestamp
    if inp.custom_endpoint:
        # input.customEndpoint (Config.scala:108; PROP_KINESIS_ENDPOINT
        # at S3Loader.scala:83): localstack / VPC-endpoint deployments
        opts["kinesis.endpointUrl"] = inp.custom_endpoint
    return opts


def s3a_options(s3_cfg) -> dict[str, str]:
    """Hadoop-conf map for output.s3.customEndpoint (Config.scala:137;
    buildS3Client at KinesisS3Pipeline.scala:54-62): a minio/localstack
    S3 endpoint means path-style access on the s3a connector. Pure so
    tests pin the mapping without an S3 filesystem on the classpath;
    run_loader applies it to the session's hadoopConfiguration."""
    if not getattr(s3_cfg, "custom_endpoint", None):
        return {}
    return {
        "fs.s3a.endpoint": s3_cfg.custom_endpoint,
        "fs.s3a.path.style.access": "true",
    }


def _checkpoint_reader(spark: SparkSession, checkpoint_location: str):
    """Reads a file under the checkpoint as text, through the session's
    Hadoop FileSystem, so local, s3a:// and hdfs:// checkpoints work
    alike."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    base = Path(checkpoint_location)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())

    def read(name: str) -> str:
        stream = fs.open(Path(base, name))
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    return read


def offset_log_batch_time(text: str, name: str) -> datetime:
    """``batchTimestampMs`` of an offset-log entry: first line ``v1``,
    second line the batch metadata JSON. Spark writes the entry before
    the batch runs and reuses it when the batch is replayed."""
    version, _, rest = text.partition("\n")
    if version != "v1":
        raise ValueError(f"{name}: unsupported offset log version {version!r}")
    ms = json.loads(rest.partition("\n")[0])["batchTimestampMs"]
    return datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(milliseconds=ms)


def run_loader(
    spark: SparkSession,
    cfg: LoaderConfig,
    on_flush=None,
    query_name: str = "kinesis-s3-loader",
    tracker: SnowplowTracker | None = None,
    dedupe_watermark: str | None = None,
    accumulators=(),
) -> StreamingQuery:
    """Wire source → trigger → foreachBatch(emit) → checkpoint and
    start the query (the executor.run() analogue, S3Loader.scala:63-68;
    call ``.awaitTermination()`` on the result to block like the
    reference's main loop).

    ``tracker``: a pre-built SnowplowTracker (tests inject one with a
    captured ``send``); when None and monitoring.snowplow.collector is
    configured, one is built from config. Started just before the query
    — app_initialized + the 300 s heartbeat thread — mirroring
    initializeSnowplowTracking running before the KCL worker
    (S3Loader.scala:44-47); a LoaderListener sends
    storage_write_failed if the query fails and stops the tracker when
    it ends. With neither, no listener is registered and no thread
    starts.

    ``dedupe_watermark``: when set (e.g. "1 hour"), payloads whose
    content hash was already seen within the window are dropped before
    emit via watermark-bounded streaming state (streaming/dedup.py) —
    the streaming twin of dedup_incremental; the state survives query
    restarts through the checkpoint.

    ``accumulators``: objects with a replay-safe
    ``update(batch_df, batch_id)`` (e.g. streaming/cms.py:
    CountMinAccumulator, which folds each emitted micro-batch's payload
    words into a persisted Count-Min matrix, or
    streaming/histogram.py:SizeHistogramAccumulator), applied in order
    after the flush. Replay-safe means an accumulator skips re-delivered
    batch ids and reloads its state file on restart; the accumulators
    here get both from streaming/replay_state.py:ReplayState.

    With ``checkpoint_location`` set, batch n is written under
    ``run=<query id>/batch_id=<n>`` and date-decorated with its trigger
    time, both read from the checkpoint: the query id from
    ``<ckpt>/metadata``, the time from the ``batchTimestampMs`` of
    ``<ckpt>/offsets/<n>``. A replayed batch therefore overwrites its
    own directory, and a reset checkpoint writes into a new namespace.
    Without one, output has no run namespace and is decorated with
    wall-clock time."""
    # output.s3.customEndpoint → s3a endpoint conf, applied before the
    # sink writes its first object (the buildS3Client analogue)
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in s3a_options(cfg.output.s3).items():
        hadoop_conf.set(k, v)
    # monitoring.sentry.dsn → SDK init before the query starts, so
    # startup failures (bad-stream probe, source build) are captured
    # too (Monitoring.fromConfig precedes executor.run, S3Loader.scala)
    init_sentry(cfg.monitoring)
    stream = build_stream(spark, cfg)
    if dedupe_watermark is not None:
        from kinesis_s3_spark.streaming.dedup import with_incremental_dedup

        stream = with_incremental_dedup(stream, dedupe_watermark)
    # build the dead-letter sink EAGERLY: the Kinesis stream
    # exists/ACTIVE probe must fail the app at startup, before the
    # query runs (S3Loader.scala:39, KinesisSink.scala:49)
    bad_sink = build_bad_sink(cfg)
    read = (
        _checkpoint_reader(spark, cfg.checkpoint_location)
        if cfg.checkpoint_location
        else None
    )
    run_id = None

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal run_id
        now = None
        if read is not None:
            # Spark writes <ckpt>/metadata when the query starts
            if run_id is None:
                run_id = json.loads(read("metadata"))["id"]
            name = f"offsets/{batch_id}"
            now = offset_log_batch_time(read(name), f"{cfg.checkpoint_location}/{name}")
        meta = emit(batch_df, batch_id, cfg, now=now, bad_sink=bad_sink, run_id=run_id)
        for acc in accumulators:
            acc.update(batch_df, batch_id)
        if on_flush is not None:
            on_flush(meta)

    writer = (
        stream.writeStream.queryName(query_name)
        .trigger(processingTime=f"{cfg.buffer.time_limit_ms} milliseconds")
        .foreachBatch(_emit)
    )
    if cfg.checkpoint_location:
        writer = writer.option("checkpointLocation", cfg.checkpoint_location)
    if tracker is None and cfg.monitoring.snowplow_collector:
        tracker = SnowplowTracker(
            cfg.monitoring.snowplow_collector, cfg.monitoring.snowplow_app_id
        )
    if tracker is None:
        return writer.start()
    tracker.start()
    listener = LoaderListener(tracker=tracker)
    spark.streams.addListener(listener)
    try:
        return writer.start()
    except Exception:
        spark.streams.removeListener(listener)
        tracker.stop()
        raise
