"""Monitoring side-effects (reference O18-O20).

- StatsD (O18, monitoring/StatsD.scala:51-91): per-flush UDP datagrams
  ``<prefix>.count:<n>|c|#tags`` and
  ``<prefix>.latency_collector_to_load:<sec>|g|#tags`` — same wire
  format (Datadog-style tags, StatsD.scala:83-91).
- Lifecycle tracking (O19, SnowplowTracking.scala:89-197): app
  initialized / shutdown / heartbeat / write-failure events, sent by
  streaming/tracking.py's SnowplowTracker; ``LoaderListener`` ends it
  with the loader's query.
- Sentry (O20, Monitoring.scala:62-65): behind an import-try; absent
  SDK degrades to logging, matching the reference's optional DSN.

All side-effects run on listener threads, off the execution hot path
(the reference posts to the global ExecutionContext for the same
reason, StatsD.scala:54-65).
"""

from __future__ import annotations

import logging
import socket
from datetime import datetime, timezone

from pyspark.sql.streaming import listener as L

from kinesis_s3_spark.config import MonitoringConfig
from kinesis_s3_spark.sinks.emitter import BatchMeta
from kinesis_s3_spark.streaming.tracking import SnowplowTracker

log = logging.getLogger("kinesis_s3_spark.monitoring")

try:  # optional crash reporting (reference: sentry DSN config)
    import sentry_sdk  # type: ignore
except ImportError:  # pragma: no cover
    sentry_sdk = None


class StatsDClient:
    """Minimal UDP StatsD emitter (StatsD.scala:83-91 wire format)."""

    COUNT_METRIC = "count"  # StatsD.scala:17
    LATENCY_METRIC = "latency_collector_to_load"  # StatsD.scala:18

    def __init__(self, cfg: MonitoringConfig) -> None:
        self.cfg = cfg
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)

    def _tags(self) -> str:
        if not self.cfg.statsd_tags:
            return ""
        kv = ",".join(f"{k}:{v}" for k, v in sorted(self.cfg.statsd_tags.items()))
        return f"|#{kv}"

    def send(self, name: str, value: str, kind: str) -> None:
        if not self.cfg.statsd_host:
            return
        datagram = f"{self.cfg.statsd_prefix}.{name}:{value}|{kind}{self._tags()}"
        try:
            self._sock.sendto(
                datagram.encode("utf-8"), (self.cfg.statsd_host, self.cfg.statsd_port)
            )
        except OSError as e:  # fire-and-forget, like the reference's Future
            log.warning("statsd send failed: %s", e)

    def report(self, meta: BatchMeta) -> None:
        """StatsD.report + fromMeta (StatsD.scala:51-81)."""
        self.send(self.COUNT_METRIC, str(meta.count), "c")
        if meta.earliest_tstamp is not None:
            earliest = meta.earliest_tstamp
            if earliest.tzinfo is None:
                earliest = earliest.replace(tzinfo=timezone.utc)
            latency_sec = (datetime.now(timezone.utc) - earliest).total_seconds()
            self.send(self.LATENCY_METRIC, f"{latency_sec:.3f}", "g")


class SizeDriftReporter:
    """Wire the loader-maintained record-size histogram
    (streaming/histogram.py) into the StatsD surface (O18): after each
    flush, report the PSI of the accumulated histogram against a
    pinned REFERENCE histogram (e.g. yesterday's persisted bins) as a
    gauge — the streaming form of events_drift_psi, delivered on the
    same wire the reference's count/latency metrics use
    (StatsD.scala:83-91 format). PSI > 0.2 is the conventional alarm
    for record-size mix shift (a producer change, a new payload
    schema).

    Compose with the count/latency report in run_loader's on_flush:

        hist = SizeHistogramAccumulator(state_dir)
        drift = SizeDriftReporter(statsd, hist, ref_bins)
        run_loader(..., accumulators=(hist,),
                   on_flush=lambda m: (statsd.report(m), drift(m)))

    The gauge is computed from the accumulator's ≤64 driver-held bins —
    no extra Spark work per flush."""

    PSI_METRIC = "size_psi"  # gauge name under cfg.statsd_prefix

    def __init__(self, statsd: StatsDClient, hist, ref_bins: dict[int, int]) -> None:
        self.statsd = statsd
        self.hist = hist
        self.ref_bins = dict(ref_bins)
        self.last_psi: float | None = None  # test/inspection trail

    def __call__(self, meta: BatchMeta) -> None:  # noqa: ARG002 - on_flush shape
        self.last_psi = self.hist.psi_against(self.ref_bins)
        self.statsd.send(self.PSI_METRIC, f"{self.last_psi:.4f}", "g")


class ValueDriftReporter:
    """Value-DISTRIBUTION drift on the StatsD surface (VERDICT r7 task
    #6): after each flush, report the two-sample KS statistic of a
    loader-maintained payload-VALUE histogram (streaming/histogram.py
    with a ``value_col``) against a pinned reference histogram — and,
    ONLY when D exceeds the alpha=0.05 critical line (the batch
    events_drift_ks coefficient, 1.358·√((n1+n2)/(n1·n2))), an alert
    counter. The PSI gauge sees size-MIX shift; this sees SHAPE drift
    in what the payloads SAY (a sensor rescale, a currency change, a
    truncated field) — together the reference's count/latency wire
    becomes a distribution-drift monitor.

    Compose exactly like SizeDriftReporter:

        vals = SizeHistogramAccumulator(state_dir,
                   value_col=F.try_element_at(F.split(F.col("value"), "\\t"), 5)
                               .try_cast("double"),
                   bin_width=1.0, state_file="value_histogram.json")
        vdrift = ValueDriftReporter(statsd, vals, ref_bins)
        run_loader(..., accumulators=(vals,),
                   on_flush=lambda m: (statsd.report(m), vdrift(m)))

    Driver-held ≤64-bin arithmetic per flush — no extra Spark work."""

    KS_METRIC = "value_ks"  # gauge: the D statistic
    ALERT_METRIC = "value_ks_alert"  # count: only past the critical line

    def __init__(self, statsd: StatsDClient, hist, ref_bins: dict[int, int]) -> None:
        self.statsd = statsd
        self.hist = hist
        self.ref_bins = dict(ref_bins)
        self.last_d: float | None = None  # test/inspection trail
        self.last_crit: float | None = None

    def __call__(self, meta: BatchMeta) -> None:  # noqa: ARG002 - on_flush shape
        d, crit = self.hist.ks_against(self.ref_bins)
        self.last_d, self.last_crit = d, crit
        self.statsd.send(self.KS_METRIC, f"{d:.4f}", "g")
        if d > crit:
            self.statsd.send(self.ALERT_METRIC, "1", "c")


class EmbeddingDriftReporter:
    """Embedding-space drift on the StatsD surface (VERDICT r10 next
    #7): after each flush, report the accumulated linear-kernel MMD²
    of the loader-maintained per-dimension embedding moments
    (streaming/mmd.py) against pinned reference moments — and, ONLY
    when MMD² crosses the batch ``emb_drift_mmd`` operator's 2×-null
    line, an alert counter. PSI sees size mix, value-KS sees payload
    shape; an encoder version bump or domain shift moves the MEAN
    EMBEDDING first, and this gauge is where it lands.

    Compose exactly like ValueDriftReporter:

        acc = EmbeddingMomentAccumulator(state_dir)
        edrift = EmbeddingDriftReporter(statsd, acc, ref_moments)
        run_loader(..., accumulators=(acc,),
                   on_flush=lambda m: (statsd.report(m), edrift(m)))

    Driver-held dim-sized arithmetic per flush — no extra Spark work."""

    MMD_METRIC = "embedding_mmd2"  # gauge: the MMD² statistic
    RATIO_METRIC = "embedding_mmd_ratio"  # gauge: MMD² / null scale
    ALERT_METRIC = "embedding_mmd_alert"  # count: only past 2× null

    def __init__(self, statsd: StatsDClient, acc, ref_moments) -> None:
        self.statsd = statsd
        self.acc = acc
        self.ref = ref_moments
        self.last_mmd2: float | None = None  # test/inspection trail
        self.last_null: float | None = None
        self.last_drifted: bool | None = None

    def __call__(self, meta: BatchMeta) -> None:  # noqa: ARG002 - on_flush shape
        mmd2, null_scale, drifted = self.acc.mmd2_against(self.ref)
        self.last_mmd2, self.last_null, self.last_drifted = mmd2, null_scale, drifted
        self.statsd.send(self.MMD_METRIC, f"{mmd2:.8f}", "g")
        if null_scale not in (0.0, float("inf")):
            self.statsd.send(self.RATIO_METRIC, f"{mmd2 / null_scale:.4f}", "g")
        if drifted:
            self.statsd.send(self.ALERT_METRIC, "1", "c")


def init_sentry(cfg: MonitoringConfig) -> bool:
    """O20 DSN init (Monitoring.scala:75-77: ``Sentry.init(dsn)`` when
    monitoring.sentry is configured). Returns True when the SDK was
    actually initialized — False when no DSN is set or the SDK is
    absent (then ``capture_error`` degrades to logging, matching the
    reference's optional sentry client)."""
    if not cfg.sentry_dsn:
        return False
    if sentry_sdk is None:  # pragma: no cover - SDK not in the harness
        log.warning(
            "monitoring.sentry.dsn configured but sentry_sdk is not "
            "installed; crash reporting degrades to logging"
        )
        return False
    sentry_sdk.init(dsn=cfg.sentry_dsn)
    return True


def capture_error(error: BaseException) -> None:
    """O20 (Monitoring.captureError, Monitoring.scala:62-65)."""
    if sentry_sdk is not None:  # pragma: no cover
        sentry_sdk.capture_exception(error)
    log.exception("pipeline error", exc_info=error)


class LoaderListener(L.StreamingQueryListener):
    """O18/O19 on the streaming listener bus. ``statsd`` counts each
    progress report's input rows. ``tracker``, a started
    ``SnowplowTracker``, follows the first query that starts after the
    listener is registered (Spark calls onQueryStarted from inside
    ``start()``, so ``run_loader`` registers it just before starting its
    query). When that query ends, the listener sends
    ``storage_write_failed`` with the exception message if it failed,
    then stops the tracker: heartbeats off, ``app_shutdown`` sent
    (SnowplowTracking.scala:92-95,117-145). It does not report the
    failure to Sentry: ``python -m kinesis_s3_spark`` captures it once,
    where ``awaitTermination`` raises."""

    def __init__(
        self, statsd: StatsDClient | None = None, tracker: SnowplowTracker | None = None
    ) -> None:
        self.statsd = statsd
        self.tracker = tracker
        self._query_id: str | None = None

    def onQueryStarted(self, event: L.QueryStartedEvent) -> None:
        if self._query_id is None:
            self._query_id = str(event.id)

    def onQueryProgress(self, event: L.QueryProgressEvent) -> None:
        if self.statsd is not None:
            self.statsd.send("batch_rows", str(event.progress.numInputRows), "c")

    def onQueryIdle(self, event: L.QueryIdleEvent) -> None:
        pass

    def onQueryTerminated(self, event: L.QueryTerminatedEvent) -> None:
        if self.tracker is None or str(event.id) != self._query_id:
            return
        try:
            if event.exception:
                self.tracker.storage_write_failed(
                    last_retry_period_ms=0,
                    failure_count=1,
                    initial_failure_time_ms=self.tracker.now_ms(),
                    message=str(event.exception),
                )
            self.tracker.stop()
        except Exception as e:  # noqa: BLE001 — monitoring must not kill the query
            log.warning("snowplow tracker failed: %s", e)
