"""Dead-letter (bad-row) sinks — reference O17.

The reference's bad sink (KinesisSink.scala:49-107) has three
behaviors we reproduce:

1. **Startup probe** (KinesisSink.scala:49,57-72): the constructor
   ``require``s that the bad stream exists and is ACTIVE — a
   misconfigured dead-letter target fails the app at startup, not at
   first failure.
2. **Fire-and-forget put** (KinesisSink.scala:74-107): each bad row is
   put asynchronously with a RANDOM partition key (CHANGELOG #180 —
   spreads bad rows over all shards); success is logged, failure is
   logged + captured, and there is NO retry — a bad row that fails to
   dead-letter is dropped (a documented reference semantic).
3. Bad rows are the already-wrapped envelope JSON (O16), one record
   per put.

Spark-first shape: bad rows arrive as a (normally tiny) DataFrame per
micro-batch, so the Kinesis fan-out runs on EXECUTORS via
``foreachPartition`` — the driver never collects bad rows, and put
throughput scales with the cluster. The client is created
per-partition from a picklable zero-arg factory; tests inject a fake
factory (no AWS in CI, mirroring how the reference never
integration-tests KinesisSink either — SURVEY §5).
"""

from __future__ import annotations

import logging
import random
from dataclasses import dataclass

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)


class BadRowSinkError(RuntimeError):
    """Startup-probe failure (the require() at KinesisSink.scala:49)."""


def _default_client_factory_for(region: str | None):
    """boto3-backed factory (import-gated: boto3 is not in this
    container; real deployments have it on the executors)."""

    def factory():
        try:
            import boto3  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover - no AWS SDK in CI
            raise BadRowSinkError(
                "kinesis bad sink requires boto3 on the executors"
            ) from e
        return boto3.client("kinesis", region_name=region)

    return factory


def _stream_is_active(client, stream_name: str) -> bool:
    """describe_stream → status == ACTIVE; a MISSING stream is False,
    not an error, but auth/network/endpoint failures PROPAGATE with
    their real message — the reference catches only
    ResourceNotFoundException too (KinesisSink.scala:57-72)."""
    try:
        desc = client.describe_stream(StreamName=stream_name)
    except Exception as e:
        code = getattr(e, "response", {}).get("Error", {}).get("Code") if hasattr(e, "response") else None
        if code == "ResourceNotFoundException" or type(e).__name__ == "ResourceNotFoundException":
            return False
        raise
    status = (
        desc.get("StreamDescription", {}).get("StreamStatus")
        if isinstance(desc, dict)
        else None
    )
    return status == "ACTIVE"


# Kinesis PutRecords hard API limit (records per request)
PUT_RECORDS_BATCH = 500


@dataclass
class KinesisBadRowSink:
    """Batched put_records dead-letter sink (KinesisSink.scala:74-107
    semantics, batched transport: 500-record PutRecords requests — two
    orders of magnitude fewer API calls than per-record put_record
    when a poisoned batch is large, same fire-and-forget contract).

    ``client_factory`` must be a picklable zero-arg callable returning
    an object with ``describe_stream(StreamName=)`` and
    ``put_records(StreamName=, Records=[{Data, PartitionKey}, ...])``
    (the boto3 surface). It is invoked once per executor partition.
    """

    stream_name: str
    region: str | None = None
    client_factory: object | None = None

    def __post_init__(self) -> None:
        if self.client_factory is None:
            self.client_factory = _default_client_factory_for(self.region)
        # startup existence/ACTIVE probe — fail fast like the
        # reference's require() (KinesisSink.scala:49)
        client = self.client_factory()
        if not _stream_is_active(client, self.stream_name):
            raise BadRowSinkError(
                f"Kinesis stream {self.stream_name} doesn't exist"
            )
        logger.info("Stream %s exists and is active", self.stream_name)

    def store_batch(self, bad_df: DataFrame, batch_id: int) -> None:
        """Dead-letter every row of ``bad_df`` (single ``value`` string
        column). Runs on executors; failures — whole requests or the
        per-record FailedRecordCount entries in a PutRecords response —
        are logged and NOT retried (fire-and-forget,
        KinesisSink.scala:97-107)."""
        stream, factory = self.stream_name, self.client_factory

        def put_partition(rows) -> None:
            client = None
            log = logging.getLogger(__name__)
            buf: list[dict] = []

            def flush() -> None:
                if not buf:
                    return
                try:
                    resp = client.put_records(StreamName=stream, Records=list(buf))
                    failed = (resp or {}).get("FailedRecordCount", 0)
                    if failed:
                        log.error(
                            "%d/%d bad rows failed to dead-letter to %s "
                            "(not retried)", failed, len(buf), stream,
                        )
                except Exception as e:  # fire-and-forget: log, no retry
                    log.error(
                        "Writing %d bad rows to %s failed: %s", len(buf), stream, e
                    )
                buf.clear()

            for row in rows:
                if client is None:
                    client = factory()
                buf.append(
                    {
                        "Data": row["value"].encode("utf-8"),
                        # random key spreads bad rows across shards
                        # (KinesisSink.scala:98, CHANGELOG #180)
                        "PartitionKey": str(random.randint(-(2**31), 2**31 - 1)),
                    }
                )
                if len(buf) >= PUT_RECORDS_BATCH:
                    flush()
            flush()

        bad_df.foreachPartition(put_partition)


@dataclass
class FileBadRowSink:
    """File-path dead-letter (the dev/test analogue; gzip NDJSON under
    ``path/batch_id=N``, overwritten on batch replay — idempotent)."""

    path: str

    def store_batch(self, bad_df: DataFrame, batch_id: int) -> None:
        (
            bad_df.coalesce(1)
            .write.mode("overwrite")
            .option("compression", "gzip")
            .text(f"{self.path.rstrip('/')}/batch_id={batch_id}")
        )


def build_bad_sink(cfg) -> KinesisBadRowSink | FileBadRowSink | None:
    """Construct the configured dead-letter sink once at startup (so
    the Kinesis probe runs before the query starts, matching the
    eager badSink construction at S3Loader.scala:39)."""
    bad = cfg.output.bad
    if bad is None:
        return None
    if bad.kind == "kinesis":
        return KinesisBadRowSink(stream_name=bad.stream_name, region=bad.region)
    return FileBadRowSink(path=bad.path)
