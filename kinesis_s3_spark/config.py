"""Loader configuration (reference O21, Config.scala:42-236).

The reference loads HOCON into a strict ADT with human-readable decode
errors (Config.load, Config.scala:51-60). Here: frozen dataclasses
loaded from a JSON file/dict with the same field structure and the
same validation behavior (unknown purpose/compression/position →
error message naming the field and allowed values).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum
from pathlib import Path
from typing import Any


class ConfigError(ValueError):
    """Human-readable config decode failure (mirrors the Left branch
    of Config.load, Main.scala:39-45 exits 1 with the message)."""


class Purpose(str, Enum):
    """Config.scala:110-130."""

    RAW = "RAW"
    SELF_DESCRIBING = "SELF_DESCRIBING"
    ENRICHED_EVENTS = "ENRICHED_EVENTS"

    @classmethod
    def parse(cls, s: str) -> "Purpose":
        try:
            return cls(s.strip().upper().replace("-", "_"))
        except ValueError:
            raise ConfigError(
                f"purpose {s!r} is not one of {[p.value for p in cls]}"
            ) from None


class InitialPosition(str, Enum):
    """Config.scala:62-106 (AT_TIMESTAMP carries a timestamp)."""

    LATEST = "LATEST"
    TRIM_HORIZON = "TRIM_HORIZON"
    AT_TIMESTAMP = "AT_TIMESTAMP"


class Compression(str, Enum):
    """Config.scala output.s3.compression; LZO is satisfied by parquet's
    native splittability (SURVEY §7 risk 4), or byte-for-byte-faithfully
    by GZIP_INDEXED: standard gzip files with full-flush sync points and
    a .index offset sidecar — the LzoSerializer file.lzo + file.lzo.index
    contract (LzoSerializer.scala:58-61) on a universally readable codec
    (sinks/indexed_gzip.py)."""

    GZIP = "GZIP"
    PARQUET = "PARQUET"  # engine-native splittable default
    GZIP_INDEXED = "GZIP_INDEXED"  # gzip + split-offset sidecar (O11)


@dataclass(frozen=True)
class InputConfig:
    """Config.scala:108 — the Kinesis input stream; ``kind`` selects
    the Structured Streaming source (file source for tests/dev)."""

    stream_name: str
    kind: str = "file"  # "file" | "kinesis" | "rate"
    region: str | None = None
    position: InitialPosition = InitialPosition.LATEST
    position_timestamp: str | None = None
    max_records: int = 10_000  # input.maxRecords, S3Loader.scala:118
    # input.customEndpoint (Config.scala:108): a non-AWS Kinesis
    # endpoint (localstack / VPC endpoint), wired by the reference at
    # S3Loader.scala:83 (PROP_KINESIS_ENDPOINT) and KinesisSink.scala:113
    custom_endpoint: str | None = None
    path: str | None = None  # file source input directory
    format: str = "parquet"  # file source format


@dataclass(frozen=True)
class S3OutputConfig:
    """Config.scala output.s3 (path, compression, partitioning)."""

    path: str
    compression: Compression = Compression.GZIP
    date_format: str | None = None  # {YYYY}/{MM}-style template (O12)
    filename_prefix: str | None = None
    # output.s3.customEndpoint (Config.scala:137): non-AWS S3 endpoint
    # (minio/localstack), buildS3Client at KinesisS3Pipeline.scala:54-62;
    # Spark-side this is the fs.s3a.endpoint Hadoop conf (s3a_options)
    custom_endpoint: str | None = None
    partition_for_purpose: bool = True  # partition SDJ batches by row_type
    max_timeout_ms: int = 120_000  # retry window; maps to query restart
    # upper bound on the objects one row type gets per flush (before
    # the byteLimit roll). The emitter splits only a row type larger than
    # a fair share of the batch (its bytes over bytes/cores), into at
    # most this many chunks; smaller types get one object each. 1 = one
    # object per row_type per flush (reference behavior,
    # KinesisS3Emitter.scala:72).
    writers_per_partition: int = 4


@dataclass(frozen=True)
class BadOutputConfig:
    """Config.scala:155 — the bad (dead-letter) output. ``kind``
    selects the sink: "kinesis" = per-record putRecord with startup
    stream probe (KinesisSink.scala:49-107), "file" = gzip NDJSON
    path (dev/test analogue)."""

    kind: str = "file"  # "file" | "kinesis"
    path: str | None = None  # file sink target
    stream_name: str | None = None  # kinesis sink target
    region: str | None = None


@dataclass(frozen=True)
class OutputConfig:
    s3: S3OutputConfig
    bad_path: str | None = None  # back-compat shorthand for bad.kind=file
    bad: BadOutputConfig | None = None  # dead-letter sink (Config.scala:155)


@dataclass(frozen=True)
class BufferConfig:
    """Config.scala:172 — flush thresholds. In Spark, time_limit_ms is
    the micro-batch trigger; record_limit caps records per trigger;
    byte_limit bounds every output object's uncompressed payload via
    the writer's maxRecordsPerFile roll (sinks/emitter.py)."""

    byte_limit: int = 2048
    record_limit: int = 10
    time_limit_ms: int = 5000


@dataclass(frozen=True)
class MonitoringConfig:
    """Config.scala monitoring — StatsD + Snowplow lifecycle tracking
    (monitoring.snowplow.{collector,appId} in config.hocon.sample:58)."""

    statsd_host: str | None = None
    statsd_port: int = 8125
    statsd_prefix: str = "snowplow.s3loader"
    statsd_tags: dict[str, str] = field(default_factory=dict)
    heartbeat_interval_ms: int = 300_000  # SnowplowTracking.scala:55
    snowplow_collector: str | None = None  # e.g. "http://snplow.acme.ru:80"
    snowplow_app_id: str = "kinesis-s3-spark"
    # Config.scala:187 Metrics(cloudWatch, ...): in the reference this
    # toggles KCL's CWMetricsFactory (S3Loader.scala:57) and, when
    # false, strips the AWS request-metric collector off the bad-stream
    # Kinesis client (KinesisSink.scala:121). Here it is the
    # SOURCE-CONNECTOR metrics toggle: a documented no-op on the
    # file/rate dev sources (no AWS in the harness), honored as
    # "emit per-request connector metrics" when a real kinesis source/
    # sink client is configured. Default mirrors the reference's
    # .getOrElse(false).
    cloudwatch_metrics: bool = False
    # Config.scala:180 Sentry(dsn: URI), sample config.hocon.sample's
    # monitoring.sentry.dsn: crash-reporting DSN. Wired by the reference
    # at Monitoring.scala:75-77 (Sentry.init(dsn)); here
    # streaming/monitoring.py:init_sentry at loader startup.
    sentry_dsn: str | None = None


@dataclass(frozen=True)
class LoaderConfig:
    purpose: Purpose
    input: InputConfig
    output: OutputConfig
    buffer: BufferConfig = field(default_factory=BufferConfig)
    monitoring: MonitoringConfig = field(default_factory=MonitoringConfig)
    checkpoint_location: str | None = None  # KCL DynamoDB lease analogue


def _require(d: dict, key: str, ctx: str) -> Any:
    if key not in d:
        raise ConfigError(f"missing required field {ctx}.{key}")
    return d[key]


def from_dict(d: dict[str, Any]) -> LoaderConfig:
    try:
        purpose = Purpose.parse(_require(d, "purpose", "config"))
        inp = _require(d, "input", "config")
        out = _require(d, "output", "config")
        s3 = _require(out, "s3", "config.output")
        compression = s3.get("compression", "GZIP").strip().upper()
        if compression not in Compression.__members__:
            raise ConfigError(
                f"output.s3.compression {compression!r} is not one of "
                f"{list(Compression.__members__)}"
            )
        position = inp.get("position", "LATEST").strip().upper()
        if position not in InitialPosition.__members__:
            raise ConfigError(
                f"input.position {position!r} is not one of "
                f"{list(InitialPosition.__members__)}"
            )
        buf = d.get("buffer", {})
        mon = d.get("monitoring", {})
        # the reference's bad output is a mandatory config field
        # (Config.scala: Output(s3, bad)); purposes that can produce
        # per-record failures must have somewhere to dead-letter them.
        # DELIBERATE RELAXATION vs the reference (where Output(s3, bad)
        # is unconditional): RAW is exempt because its only bad-row
        # source is a NULL payload, which many RAW deployments (e.g.
        # file replays) cannot produce — but a RAW batch that DOES hit
        # one without a sink drops it with a loud emitter warning
        # (sinks/emitter.py), never silently.
        if purpose is not Purpose.RAW and not (out.get("bad_path") or out.get("bad")):
            raise ConfigError(
                "config.output.bad_path is required for purpose "
                f"{purpose.value} (bad rows would otherwise be dropped; "
                "the reference dead-letters them to a Kinesis bad stream)"
            )
        bad_cfg: BadOutputConfig | None = None
        if out.get("bad") is not None:
            b = out["bad"]
            kind = b.get("kind", "file").strip().lower()
            if kind not in ("file", "kinesis"):
                raise ConfigError(
                    f"output.bad.kind {kind!r} is not one of ['file', 'kinesis']"
                )
            if kind == "kinesis" and not b.get("stream_name"):
                raise ConfigError(
                    "output.bad.stream_name is required when output.bad.kind "
                    "is 'kinesis'"
                )
            if kind == "file" and not b.get("path"):
                raise ConfigError(
                    "output.bad.path is required when output.bad.kind is 'file'"
                )
            bad_cfg = BadOutputConfig(
                kind=kind,
                path=b.get("path"),
                stream_name=b.get("stream_name"),
                region=b.get("region"),
            )
        return LoaderConfig(
            purpose=purpose,
            input=InputConfig(
                stream_name=_require(inp, "stream_name", "config.input"),
                kind=inp.get("kind", "file"),
                region=inp.get("region"),
                position=InitialPosition[position],
                position_timestamp=inp.get("position_timestamp"),
                max_records=int(inp.get("max_records", 10_000)),
                custom_endpoint=inp.get("custom_endpoint"),
                path=inp.get("path"),
                format=inp.get("format", "parquet"),
            ),
            output=OutputConfig(
                s3=S3OutputConfig(
                    path=_require(s3, "path", "config.output.s3"),
                    compression=Compression[compression],
                    date_format=s3.get("date_format"),
                    filename_prefix=s3.get("filename_prefix"),
                    custom_endpoint=s3.get("custom_endpoint"),
                    partition_for_purpose=bool(s3.get("partition_for_purpose", True)),
                    max_timeout_ms=int(s3.get("max_timeout_ms", 120_000)),
                    writers_per_partition=int(s3.get("writers_per_partition", 4)),
                ),
                bad_path=out.get("bad_path")
                or (bad_cfg.path if bad_cfg and bad_cfg.kind == "file" else None),
                bad=bad_cfg,
            ),
            buffer=BufferConfig(
                byte_limit=int(buf.get("byte_limit", 2048)),
                record_limit=int(buf.get("record_limit", 10)),
                time_limit_ms=int(buf.get("time_limit_ms", 5000)),
            ),
            monitoring=MonitoringConfig(
                statsd_host=mon.get("statsd_host"),
                statsd_port=int(mon.get("statsd_port", 8125)),
                statsd_prefix=mon.get("statsd_prefix", "snowplow.s3loader"),
                statsd_tags=dict(mon.get("statsd_tags", {})),
                heartbeat_interval_ms=int(mon.get("heartbeat_interval_ms", 300_000)),
                snowplow_collector=(mon.get("snowplow") or {}).get("collector"),
                snowplow_app_id=(mon.get("snowplow") or {}).get(
                    "app_id", (mon.get("snowplow") or {}).get("appId", "kinesis-s3-spark")
                ),
                cloudwatch_metrics=bool(mon.get("cloudwatch_metrics", False)),
                sentry_dsn=mon.get("sentry_dsn")
                or (mon.get("sentry") or {}).get("dsn"),
            ),
            checkpoint_location=d.get("checkpoint_location"),
        )
    except ConfigError:
        raise
    except (TypeError, ValueError) as e:
        raise ConfigError(f"invalid config value: {e}") from e


def load(path: str | Path) -> LoaderConfig:
    """Config.load equivalent (Config.scala:51-60): file → dataclass,
    or a ConfigError whose message pinpoints the problem.

    Accepts three formats from the one entry point:
    - native JSON (this engine's snake_case schema);
    - the reference's HOCON (config.hocon.sample syntax — comments,
      optional commas, unquoted keys) via the subset reader in
      config_hocon.py;
    - JSON in the reference's camelCase layout.
    Reference-layout fields are mapped onto the native schema before
    validation, so existing reference config files work unchanged."""
    p = Path(path)
    if not p.exists():
        raise ConfigError(f"config file {p} does not exist")
    # lazy import: config_hocon imports ConfigError from this module
    from kinesis_s3_spark.config_hocon import (  # noqa: PLC0415
        looks_like_reference_layout,
        parse_hocon,
        reference_dict_to_native,
    )

    text = p.read_text()
    try:
        data = json.loads(text)
    except json.JSONDecodeError as json_err:
        if p.suffix == ".json":
            raise ConfigError(f"config file {p} is not valid JSON: {json_err}") from json_err
        try:
            data = parse_hocon(text)
        except ConfigError as hocon_err:
            raise ConfigError(f"config file {p}: {hocon_err}") from hocon_err
    if looks_like_reference_layout(data):
        data = reference_dict_to_native(data)
    return from_dict(data)
