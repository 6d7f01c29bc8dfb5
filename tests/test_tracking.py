"""Snowplow lifecycle-tracking tests: exact wire-format parity with
SnowplowTracking.scala's four events, and the timed heartbeat driven by
a fake clock (no sleeping, no network)."""

from __future__ import annotations

import json

from kinesis_s3_spark.streaming.tracking import (
    HEARTBEAT_INTERVAL_MS,
    PAYLOAD_DATA_SCHEMA,
    STORAGE_TYPE,
    UNSTRUCT_SCHEMA,
    SnowplowTracker,
)


def _capture_tracker(**kw):
    sent: list[dict] = []
    t = SnowplowTracker(None, "angry-birds", send=sent.append, now_ms=lambda: 1700000000000, **kw)
    return t, sent


def _inner(payload: dict) -> dict:
    """Unwrap payload_data → ue_pr → unstruct_event → inner event."""
    assert payload["schema"] == PAYLOAD_DATA_SCHEMA
    (event,) = payload["data"]
    assert event["e"] == "ue"
    assert event["p"] == "srv"
    assert event["aid"] == "angry-birds"
    assert event["dtm"] == "1700000000000"
    wrapper = json.loads(event["ue_pr"])
    assert wrapper["schema"] == UNSTRUCT_SCHEMA
    return wrapper["data"]


def test_app_initialized_and_shutdown_payloads():
    t, sent = _capture_tracker()
    t.app_initialized()
    t.app_shutdown()
    init, down = (_inner(p) for p in sent)
    assert init == {
        "schema": "iglu:com.snowplowanalytics.monitoring.kinesis/app_initialized/jsonschema/1-0-0",
        "data": None,
    }
    assert down["schema"].endswith("/app_shutdown/jsonschema/1-0-0")
    assert down["data"] is None


def test_storage_write_failed_payload():
    t, sent = _capture_tracker()
    t.storage_write_failed(
        last_retry_period_ms=10_000,
        failure_count=3,
        initial_failure_time_ms=1699999990000,
        message="S3 put failed",
    )
    inner = _inner(sent[0])
    assert inner["schema"].endswith("/storage_write_failed/jsonschema/1-0-0")
    assert inner["data"] == {
        "lastRetryPeriod": 10_000,
        "storage": STORAGE_TYPE,
        "failureCount": 3,
        "initialFailureTime": 1699999990000,
        "message": "S3 put failed",
    }


def test_heartbeat_ticks_on_fake_clock():
    """start() → app_initialized + heartbeat thread; the heartbeat must
    tick every interval INDEPENDENT of batch progress. A fake sleep
    counts ticks and stops the tracker after 3 beats, which ends the
    heartbeat loop."""
    beats: list[float] = []

    def fake_sleep(sec: float) -> None:
        beats.append(sec)
        if len(beats) == 3:
            t.stop()

    t, sent = _capture_tracker(sleep=fake_sleep)
    t.start()
    t._heartbeat_thread.join(timeout=5.0)
    assert not t._heartbeat_thread.is_alive()

    assert beats == [300.0, 300.0, 300.0]  # SnowplowTracking.scala:55
    inners = [_inner(p) for p in sent]
    assert inners[0]["schema"].endswith("/app_initialized/jsonschema/1-0-0")
    hearts = [i for i in inners if i["schema"].endswith("/app_heartbeat/jsonschema/1-0-0")]
    assert len(hearts) == 3
    assert all(h["data"] == {"interval": HEARTBEAT_INTERVAL_MS} for h in hearts)
    assert _inner(sent[-1])["schema"].endswith("/app_shutdown/jsonschema/1-0-0")


def test_config_plumbs_snowplow_section():
    from kinesis_s3_spark.config import from_dict

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t"},
            "output": {"s3": {"path": "/tmp/x"}},
            "monitoring": {
                "snowplow": {"collector": "http://snplow.acme.ru:80", "app_id": "angry-birds"}
            },
        }
    )
    assert cfg.monitoring.snowplow_collector == "http://snplow.acme.ru:80"
    assert cfg.monitoring.snowplow_app_id == "angry-birds"
