"""Micro-batch emit: the reference's flush path as one foreachBatch body
(reference O5, O8-O11, O15, O16 — KinesisS3Emitter.emit at
KinesisS3Emitter.scala:65-86 and emitRecords at :156-175).

Per flushed batch the reference: groups records by row type, serializes
each group to one compressed in-memory stream, uploads to a
time-decorated key, and dead-letters per-record failures as bad rows.

Spark-first translation:
- grouping           → ``row_type``/``row_subtype`` columns +
                       ``partitionBy`` on write (one dynamic-partition
                       write, no driver loop). The partition string
                       ``vendor.name/format-model`` (RowType.scala:28)
                       is split at the slash into TWO partition columns
                       so the written layout nests
                       ``row_type=vendor.name/row_subtype=format-model/``
                       like the reference's key prefix, instead of a
                       single percent-escaped directory;
- gzip serializer    → the text sink with gzip codec (O10,
                       GZipSerializer.scala:24-49) — newline-delimited
                       records, byte-identical framing;
- LZO serializer     → parquet+zstd (splittable output; SURVEY §7
                       risk 4 documents LZO as out of scope);
- in-memory streams + manual retry loop (O14) → task-local streaming
  writers + per-batch overwrite: each batch owns its
  ``batch_id={id}`` directory and a replayed batch OVERWRITES it, so
  crash-replay is idempotent (effectively exactly-once for file
  outputs, vs the reference's at-least-once);
- time-decorated key → ``decorate_directory_with_time`` on the batch's
  upload instant, driver-side (O12);
- bad rows           → ``bad_row_json_col`` JSON to the dead-letter
                       path (O16/O17).

Scale: a batch on at most half as many partitions as there are cores
is spread before any per-row work: a hash repartition on the payload
lets the parse, the cache build and the per-type aggregate run on
every core. The aggregate's few rows (one per row type) then
size the write: each row type gets chunks in proportion to its bytes
(capped by ``writers_per_partition``), the chunks are packed onto one
bin per core, and ``repartitionById`` sends every row to its bin — one
write task per core and, below the cap, one object per row type.
"""

from __future__ import annotations

import heapq
import logging
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_s3_spark.config import Compression, LoaderConfig, Purpose
from kinesis_s3_spark.functions.badrows import bad_row_json_col
from kinesis_s3_spark.sinks.badrows_sink import build_bad_sink
from kinesis_s3_spark.functions.paths import decorate_directory_with_time
from kinesis_s3_spark.functions.schema_key import row_type_col
from kinesis_s3_spark.functions.timestamps import collector_tstamp_col

ROW_TYPE_COL = "row_type"
ROW_SUBTYPE_COL = "row_subtype"
# partition value for rows whose type has no format-model component
# (unpartitioned / reading_error — RowType.scala:24,32 have no slash)
NO_SUBTYPE = "-"

logger = logging.getLogger(__name__)


@dataclass
class BatchMeta:
    """Batch.Meta (processing/Batch.scala:21-34): what the emitter
    reports to monitoring after each flush."""

    batch_id: int
    count: int
    bad_count: int
    earliest_tstamp: datetime | None
    output_path: str


def _with_result_columns(df: DataFrame, cfg: LoaderConfig) -> DataFrame:
    """IdentityTransformer + Result split (O2/O3,
    IdentityTransformer.scala:29-37): normalize the ``value`` column
    and add a boolean ``is_bad`` (NULL payload = unreadable record,
    the ReadingError branch of Common.scala:68-70).

    The record type is a purpose decision: RAW keeps ``value`` as
    opaque BYTES end to end — the reference's record is Array[Byte]
    (package.scala:28) and its serializers write those bytes verbatim
    (GZipSerializer.scala:29-40); casting to string would silently
    corrupt non-UTF-8 payloads (binary Thrift CollectorPayload
    records, the LZO path's raison d'être). The text purposes
    (SELF_DESCRIBING JSON / ENRICHED_EVENTS TSV) normalize to string,
    which their row-type/timestamp extraction needs anyway.

    The row type ``vendor.name/format-model`` is split at the slash
    into ``row_type``/``row_subtype`` so the write nests two directory
    levels (reference key layout, RowType.scala:28) instead of one
    percent-escaped level."""
    if "value" not in df.columns:
        raise ValueError(f"input batch must carry a 'value' column; got {df.columns}")
    target = "binary" if cfg.purpose is Purpose.RAW else "string"
    value = F.col("value").cast(target)
    out = df.withColumn("value", value).withColumn("is_bad", F.col("value").isNull())
    if cfg.purpose is Purpose.SELF_DESCRIBING:
        out = out.withColumn(
            ROW_TYPE_COL, row_type_col(F.col("value"), is_failed=F.col("is_bad"))
        )
    else:
        out = out.withColumn(ROW_TYPE_COL, F.lit("unpartitioned"))
    out = out.withColumn(
        ROW_SUBTYPE_COL,
        F.when(
            F.col(ROW_TYPE_COL).contains("/"),
            F.substring_index(F.col(ROW_TYPE_COL), "/", -1),
        ).otherwise(F.lit(NO_SUBTYPE)),
    ).withColumn(ROW_TYPE_COL, F.substring_index(F.col(ROW_TYPE_COL), "/", 1))
    if cfg.purpose is Purpose.ENRICHED_EVENTS:
        out = out.withColumn("_tstamp", collector_tstamp_col(F.col("value")))
    else:
        out = out.withColumn("_tstamp", F.lit(None).cast("timestamp"))
    return out


def _writer_bins(
    type_bytes: dict[tuple, int], max_chunks: int, n_bins: int
) -> dict[tuple, list[int]]:
    """Route each row type's good bytes onto ``n_bins`` write tasks.

    A row type gets ``min(max_chunks, ceil(bytes / (total / n_bins)))``
    chunks, so only a type larger than a fair share of the batch is
    split. The chunks go largest first onto the least-loaded bin (LPT),
    ties broken by key, so the same batch always gets the same
    routing. Returns, per row type, the bin of each of its chunks."""
    total = max(1, sum(type_bytes.values()))
    chunks = []
    for key, b in type_bytes.items():
        n = max(1, min(max_chunks, -(-b * n_bins // total)))
        chunks += [(b / n, key)] * n
    load = [(0.0, i) for i in range(n_bins)]
    bins: dict[tuple, list[int]] = {}
    for size, key in sorted(chunks, key=lambda c: (-c[0], c[1])):
        used, i = heapq.heappop(load)
        heapq.heappush(load, (used + size, i))
        bins.setdefault(key, []).append(i)
    return bins


def emit(
    batch_df: DataFrame,
    batch_id: int,
    cfg: LoaderConfig,
    now: datetime | None = None,
    bad_sink=None,
    run_id: str | None = None,
) -> BatchMeta:
    """The foreachBatch body. Returns the flush Meta that monitoring
    consumes (KinesisS3Emitter.scala:74-75 → StatsD.report).

    ``bad_sink``: a pre-built dead-letter sink (O17). The loader
    builds it ONCE at startup so the Kinesis stream probe runs before
    the query starts (S3Loader.scala:39); when None it is derived from
    config per call (batch-mode convenience).

    ``now``: the batch's time decoration instant. For replay-idempotent
    output with ``date_format`` set, this MUST be batch-stable — the
    loader passes the batch's ``batchTimestampMs`` from the checkpoint's
    offset log (``<ckpt>/offsets/<batch_id>``, written before the batch
    runs and reused on replay); wall-clock here is only the batch-mode
    default.

    ``run_id``: checkpoint-lifetime namespace (the query id in
    ``<ckpt>/metadata``). When
    set, output nests under ``run=<id>/batch_id=<n>`` so a reset
    checkpoint (batch ids restarting at 0) can never overwrite a prior
    run's committed directories."""
    now = now or datetime.now(timezone.utc)
    if bad_sink is None:
        bad_sink = build_bad_sink(cfg)
    # one partition per core before the parse: a batch on few partitions
    # (a small micro-batch, one shard) would otherwise run the row-type
    # parse, the cache build and the aggregate below as one task each.
    # The raw payload is hashed, so the source is still read once. A
    # batch that already spans at least half the cores (many files or
    # shards) is left as it is: there, a second shuffle of the raw
    # payloads cost more than it evened out (stream_open_loop latency,
    # 4 cores).
    n_bins = batch_df.sparkSession.sparkContext.defaultParallelism
    if 2 * batch_df.rdd.getNumPartitions() <= n_bins:
        batch_df = batch_df.repartition(n_bins, "value")
    df = _with_result_columns(batch_df, cfg).cache()
    is_raw = cfg.purpose is Purpose.RAW
    gzip_family = cfg.output.s3.compression in (
        Compression.GZIP,
        Compression.GZIP_INDEXED,
    )
    # framed record as it will land ON DISK — sizes the writer routing
    # and the byteLimit file roll below. Text purposes: payload BYTES
    # (not chars — octet_length) + newline; RAW through a line sink:
    # the base64 line (4·⌈n/3⌉ chars) + newline; RAW through parquet:
    # the bytes themselves.
    if is_raw:
        rec_len = (
            (F.floor((F.length("value") + 2) / 3) * 4 + 1)
            if gzip_family
            else F.length("value")
        )
    else:
        rec_len = F.octet_length("value") + 1
    good_len = F.when(~F.col("is_bad"), rec_len)
    try:
        # one row per row type: the batch Meta, the roll size and the
        # writer routing all come from these few rows
        per_type = (
            df.groupBy(ROW_TYPE_COL, ROW_SUBTYPE_COL)
            .agg(
                F.count("*").alias("n"),
                F.count_if("is_bad").alias("n_bad"),
                F.sum(good_len).alias("bytes"),
                F.max(good_len).alias("max_rec"),
                F.min("_tstamp").alias("earliest"),
            )
            .collect()
        )
        n = sum(r["n"] for r in per_type)
        n_bad = sum(r["n_bad"] for r in per_type)
        max_rec = max((r["max_rec"] for r in per_type if r["max_rec"]), default=None)
        earliest = min((r["earliest"] for r in per_type if r["earliest"]), default=None)

        out_dir = cfg.output.s3.path.rstrip("/")
        if cfg.output.s3.date_format:
            out_dir = f"{out_dir}/{decorate_directory_with_time(cfg.output.s3.date_format, now)}"
        if run_id:
            out_dir = f"{out_dir}/run={run_id}"
        batch_dir = f"{out_dir}/batch_id={batch_id}"

        if n - n_bad > 0:
            # writers_per_partition caps the chunks of one row type (1
            # reproduces the reference's one-object-per-partition-per-
            # flush, KinesisS3Emitter.scala:72); _writer_bins packs the
            # chunks onto one write task per core
            bins = _writer_bins(
                {
                    (r[ROW_TYPE_COL], r[ROW_SUBTYPE_COL]): r["bytes"] or 0
                    for r in per_type
                    if r["n"] > r["n_bad"]
                },
                max(1, cfg.output.s3.writers_per_partition),
                n_bins,
            )
            bins_of_type = F.element_at(
                F.create_map(
                    *(
                        x
                        for (rt, st), ids in bins.items()
                        for x in (F.lit(f"{rt}/{st}"), F.array(*map(F.lit, ids)))
                    )
                ),
                F.concat_ws("/", ROW_TYPE_COL, ROW_SUBTYPE_COL),
            )
            chunk = F.pmod(F.crc32(F.col("value").cast("binary")), F.size(bins_of_type))
            routed = (
                df.filter(~F.col("is_bad"))
                .select(ROW_TYPE_COL, ROW_SUBTYPE_COL, "value")
                .repartitionById(n_bins, F.element_at(bins_of_type, chunk.cast("int") + 1))
            )
            if is_raw and gzip_family:
                # RAW bytes through a line-oriented sink: one base64
                # line per record (CR/LF stripped — Spark's base64 is
                # MIME-chunked). The reference's framing (raw bytes +
                # '\n', GZipSerializer.scala:36-38) is write-faithful
                # but unreadable for payloads containing '\n'; base64
                # lines are the round-trippable framing the archive
                # reader (sources/archive.py raw=True) decodes back to
                # the exact bytes. Parquet RAW needs no framing: the
                # binary column IS the bytes.
                routed = routed.withColumn(
                    "value", F.regexp_replace(F.base64("value"), "[\\r\\n]", "")
                )
            writer = routed.write.partitionBy(ROW_TYPE_COL, ROW_SUBTYPE_COL).mode(
                "overwrite"
            )
            # O4 buffer.byteLimit (Config.scala:172, BasicMemoryBuffer
            # flush when byteCount >= byteLimit): bound every output
            # object's UNCOMPRESSED payload by byteLimit via the file
            # writer's own roll — maxRecordsPerFile sized from the
            # batch's largest record, so records_per_file * max_rec <=
            # byteLimit. A single record larger than byteLimit still
            # gets its own file (the reference, too, always flushes at
            # least one record per object). No extra shuffle or pass.
            if cfg.buffer.byte_limit and max_rec:
                writer = writer.option(
                    "maxRecordsPerFile", max(1, cfg.buffer.byte_limit // int(max_rec))
                )
            # mode=overwrite into the per-batch_id dir: a batch replayed
            # after a crash/restart REPLACES its previous (possibly
            # partial) output instead of appending duplicates
            if cfg.output.s3.compression is Compression.GZIP:
                # the text sink emits newline-delimited gzip members
                # exactly like GZIPOutputStream framing in the reference
                writer.option("compression", "gzip").text(batch_dir)
            elif cfg.output.s3.compression is Compression.GZIP_INDEXED:
                # O11 faithful: gzip + .index split-offset sidecar per
                # object (LzoSerializer's file.lzo + file.lzo.index
                # contract); replay idempotence = clear-then-write into
                # the per-batch dir, mirroring mode=overwrite above
                import shutil

                from kinesis_s3_spark.sinks.indexed_gzip import (
                    write_indexed_gzip_grouped,
                )

                shutil.rmtree(batch_dir, ignore_errors=True)
                write_indexed_gzip_grouped(
                    routed,
                    batch_dir,
                    [ROW_TYPE_COL, ROW_SUBTYPE_COL],
                    roll_bytes=cfg.buffer.byte_limit or None,
                )
                # completion marker, matching the Hadoop sinks' own
                # _SUCCESS: written only after every task finished, so
                # archive_replay's requireComplete mode can tell a
                # finished batch dir from one mid-write
                import os

                open(os.path.join(batch_dir, "_SUCCESS"), "w").close()
            else:
                writer.option("compression", "zstd").parquet(batch_dir)

        if n_bad > 0:
            if bad_sink is not None:
                bad = df.filter(F.col("is_bad")).select(
                    bad_row_json_col(
                        F.coalesce(F.col("value").cast("binary"), F.lit(b"")),
                        F.array(F.lit("Cannot deserialize record")),
                    ).alias("value")
                )
                bad_sink.store_batch(bad, batch_id)
            else:
                # the reference's bad sink is mandatory (Config.scala
                # Output(s3, bad)); without one, failed records are data
                # loss — make it loud, never silent
                logger.warning(
                    "DROPPING %d bad rows in batch %d: output.bad is "
                    "not configured (the reference dead-letters these to a "
                    "Kinesis bad stream)",
                    n_bad,
                    batch_id,
                )

        return BatchMeta(
            batch_id=batch_id,
            count=int(n),
            bad_count=int(n_bad),
            earliest_tstamp=earliest,
            output_path=batch_dir,
        )
    finally:
        df.unpersist()
