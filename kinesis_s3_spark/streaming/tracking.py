"""Snowplow lifecycle tracking with wire-format parity (reference O19,
SnowplowTracking.scala:55-197).

The reference initializes a Snowplow tracker against the configured
collector and sends four self-describing events:

- ``app_initialized`` (null payload) at startup
  (SnowplowTracking.scala:152-165);
- ``app_heartbeat`` ``{"interval": ms}`` every 300 s from a dedicated
  thread, INDEPENDENT of batch progress
  (SnowplowTracking.scala:55,96-107,186-197);
- ``app_shutdown`` (null payload) from a JVM shutdown hook
  (SnowplowTracking.scala:92-95,168-181);
- ``storage_write_failed`` with retry context on S3 failure
  (SnowplowTracking.scala:117-145).

This module reproduces the event JSON exactly as the Scala tracker
puts it on the wire: a ``payload_data`` envelope whose single element
is an unstructured (``ue``) event whose ``ue_pr`` field is the
self-describing ``unstruct_event`` wrapper around the
``com.snowplowanalytics.monitoring.kinesis`` event. Transport is a
plain HTTP POST to the collector's ``/com.snowplowanalytics.snowplow/tp2``
endpoint (stdlib urllib; fire-and-forget on the caller's thread — the
tracker must never take down the loader). ``send`` is injectable so
tests capture payloads without a network.

The heartbeat runs on a daemon thread with injectable ``sleep`` so a
fake clock can drive it deterministically in tests. The loader drives
the lifecycle: ``run_loader`` calls ``start()`` and registers a
``streaming.monitoring.LoaderListener``, which sends
``storage_write_failed`` when the query fails and then ``stop()``.
"""

from __future__ import annotations

import json
import logging
import threading
import time
import uuid
from collections.abc import Callable

log = logging.getLogger("kinesis_s3_spark.tracking")

VENDOR = "com.snowplowanalytics.monitoring.kinesis"
UNSTRUCT_SCHEMA = "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0"
PAYLOAD_DATA_SCHEMA = "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4"
TRACKER_VERSION = "py-0.1.0"
STORAGE_TYPE = "AMAZON_S3"  # SnowplowTracking.scala:56
HEARTBEAT_INTERVAL_MS = 300_000  # SnowplowTracking.scala:55
COLLECTOR_PATH = "/com.snowplowanalytics.snowplow/tp2"


def _http_send(collector_uri: str) -> Callable[[dict], None]:
    """Default transport: POST the payload_data envelope as JSON."""

    def send(payload: dict) -> None:
        import urllib.request

        req = urllib.request.Request(
            collector_uri.rstrip("/") + COLLECTOR_PATH,
            data=json.dumps(payload).encode("utf-8"),
            headers={"Content-Type": "application/json; charset=utf-8"},
            method="POST",
        )
        try:
            urllib.request.urlopen(req, timeout=5).close()
        except Exception as e:  # noqa: BLE001 — monitoring never kills the loader
            log.warning("snowplow tracker send failed: %s", e)

    return send


class SnowplowTracker:
    """Reference-parity event formatter + timed heartbeat."""

    def __init__(
        self,
        collector_uri: str | None,
        app_id: str,
        send: Callable[[dict], None] | None = None,
        now_ms: Callable[[], int] | None = None,
        sleep: Callable[[float], None] | None = None,
    ) -> None:
        if send is None:
            if not collector_uri:
                raise ValueError("SnowplowTracker needs collector_uri or send")
            send = _http_send(collector_uri)
        self._send = send
        self.app_id = app_id
        self.now_ms = now_ms or (lambda: int(time.time() * 1000))
        self._stop = threading.Event()
        # the default sleep wakes on stop(), so the heartbeat thread
        # ends with the tracker instead of up to one interval later
        self._sleep = sleep or self._stop.wait
        self._heartbeat_thread: threading.Thread | None = None

    # -- wire format -------------------------------------------------------

    def self_describing_json(self, name: str, data: dict | None) -> dict:
        """The inner SelfDescribingData (SchemaKey 1-0-0 + payload) the
        reference builds for every event (SnowplowTracking.scala:124-143)."""
        return {"schema": f"iglu:{VENDOR}/{name}/jsonschema/1-0-0", "data": data}

    def track(self, name: str, data: dict | None = None) -> None:
        """trackSelfDescribingEvent wire shape: payload_data envelope →
        one ue event → ue_pr = unstruct_event wrapper → inner event."""
        ts = str(self.now_ms())
        envelope = {
            "schema": PAYLOAD_DATA_SCHEMA,
            "data": [
                {
                    "e": "ue",
                    "ue_pr": json.dumps(
                        {
                            "schema": UNSTRUCT_SCHEMA,
                            "data": self.self_describing_json(name, data),
                        }
                    ),
                    "p": "srv",
                    "aid": self.app_id,
                    "tv": TRACKER_VERSION,
                    "eid": str(uuid.uuid4()),
                    "dtm": ts,
                    "stm": ts,
                }
            ],
        }
        self._send(envelope)

    # -- the four reference events ----------------------------------------

    def app_initialized(self) -> None:
        self.track("app_initialized", None)

    def app_shutdown(self) -> None:
        self.track("app_shutdown", None)

    def app_heartbeat(self) -> None:
        self.track("app_heartbeat", {"interval": HEARTBEAT_INTERVAL_MS})

    def storage_write_failed(
        self,
        last_retry_period_ms: int,
        failure_count: int,
        initial_failure_time_ms: int,
        message: str,
    ) -> None:
        self.track(
            "storage_write_failed",
            {
                "lastRetryPeriod": last_retry_period_ms,
                "storage": STORAGE_TYPE,
                "failureCount": failure_count,
                "initialFailureTime": initial_failure_time_ms,
                "message": message,
            },
        )

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> None:
        """initializeSnowplowTracking (SnowplowTracking.scala:89-107):
        app_initialized now, then heartbeats on a dedicated daemon
        thread every interval until stop() — ticking whether or not
        batches make progress, unlike a QueryProgress-driven ping."""
        self.app_initialized()
        if self._heartbeat_thread is not None:
            return

        def beat() -> None:
            while not self._stop.is_set():
                self.app_heartbeat()
                self._sleep(HEARTBEAT_INTERVAL_MS / 1000.0)

        self._heartbeat_thread = threading.Thread(
            target=beat, name="snowplow-heartbeat", daemon=True
        )
        self._heartbeat_thread.start()

    def stop(self) -> None:
        """The shutdown-hook analogue: stop heartbeats, send
        app_shutdown (SnowplowTracking.scala:92-95). Only the first call
        sends."""
        if self._stop.is_set():
            return
        self._stop.set()
        self.app_shutdown()
