"""End-to-end streaming loader test: file source → micro-batches →
partitioned gzip output + checkpoint + monitoring listener (the
integration layer the reference never covers — SURVEY §5 gap)."""

from __future__ import annotations

import base64
import glob
import gzip
import json
import socket
import time

import pytest

from kinesis_s3_spark.config import from_dict
from kinesis_s3_spark.sinks.emitter import BatchMeta
from kinesis_s3_spark.streaming.loader import run_loader
from kinesis_s3_spark.streaming.monitoring import LoaderListener, StatsDClient
from kinesis_s3_spark.streaming.tracking import STORAGE_TYPE, SnowplowTracker
from kinesis_s3_spark.config import MonitoringConfig


def _write_input(spark, path, rows):
    spark.createDataFrame([(r,) for r in rows], "value string").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_end_to_end(spark, tmp_path):
    inp = str(tmp_path / "in")
    rows1 = [
        '{"schema":"iglu:com.acme1/example1/jsonschema/2-0-1","data":{"a":1}}',
        "junk-1",
    ]
    _write_input(spark, inp, rows1)

    cfg = from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {
                "s3": {"path": str(tmp_path / "out"), "compression": "GZIP"},
                "bad_path": str(tmp_path / "bad"),
            },
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )

    metas: list[BatchMeta] = []
    q = run_loader(spark, cfg, on_flush=metas.append, query_name="e2e-test")
    try:
        q.processAllAvailable()
        # second micro-batch: new file arrives mid-stream
        rows2 = ['{"schema":"iglu:com.acme2/other/jsonschema/1-0-0","data":2}']
        _write_input(spark, inp, rows2)
        q.processAllAvailable()
    finally:
        q.stop()

    assert sum(m.count for m in metas) == 3
    out_lines = []
    for f in glob.glob(str(tmp_path / "out" / "**" / "*.gz"), recursive=True):
        with gzip.open(f, "rt") as fh:
            out_lines.extend(fh.read().splitlines())
    assert sorted(out_lines) == sorted(rows1 + rows2)


def test_checkpoint_resume(spark, tmp_path):
    """Restarting the query from the same checkpoint must not re-emit
    already-committed batches (the KCL lease/checkpoint analogue)."""
    inp = str(tmp_path / "in")
    _write_input(spark, inp, ["r1", "r2"])
    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )
    q = run_loader(spark, cfg, query_name="resume-a")
    q.processAllAvailable()
    q.stop()

    q2 = run_loader(spark, cfg, query_name="resume-b")
    q2.processAllAvailable()
    q2.stop()

    lines = []
    for f in glob.glob(str(tmp_path / "out" / "**" / "*.gz"), recursive=True):
        with gzip.open(f, "rt") as fh:
            lines.extend(fh.read().splitlines())
    # RAW frames as base64 lines (byte-faithful contract); decode back
    payloads = sorted(base64.b64decode(x).decode() for x in lines)
    assert payloads == ["r1", "r2"]  # no duplicates after restart


def _loader_cfg(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_input(spark, inp, ["x"])
    return from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )


def _tracked_events(sent: list[dict]) -> list[tuple[str, dict | None]]:
    """(event name, data) of each payload_data envelope the tracker
    sent, once app_shutdown has arrived (the listener bus is async)."""
    deadline = time.time() + 10
    while True:
        events = []
        for envelope in list(sent):
            inner = json.loads(envelope["data"][0]["ue_pr"])["data"]
            events.append((inner["schema"].split("/")[1], inner["data"]))
        if events and events[-1][0] == "app_shutdown" or time.time() > deadline:
            return events
        time.sleep(0.2)


def test_listener_and_statsd(spark, tmp_path):
    """StatsD datagrams hit the wire in the reference format (O18), and
    the loader drives its Snowplow tracker (O19): app_initialized, then
    heartbeats while the query runs, then app_shutdown once it stops,
    after which the heartbeat thread is gone."""
    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    recv.settimeout(5)
    port = recv.getsockname()[1]

    statsd = StatsDClient(
        MonitoringConfig(
            statsd_host="127.0.0.1",
            statsd_port=port,
            statsd_prefix="snowplow.s3loader",
            statsd_tags={"app": "t"},
        )
    )
    listener = LoaderListener(statsd=statsd)
    spark.streams.addListener(listener)
    sent: list[dict] = []
    tracker = SnowplowTracker(None, "t", send=sent.append)
    try:
        q = run_loader(
            spark,
            _loader_cfg(spark, tmp_path),
            on_flush=statsd.report,
            query_name="mon-test",
            tracker=tracker,
        )
        q.processAllAvailable()
        q.stop()
        events = _tracked_events(sent)
    finally:
        spark.streams.removeListener(listener)

    names = [n for n, _ in events]
    assert names[0] == "app_initialized" and names[-1] == "app_shutdown", names
    assert set(names[1:-1]) == {"app_heartbeat"}, names
    tracker._heartbeat_thread.join(timeout=5)
    assert not tracker._heartbeat_thread.is_alive()

    datagrams = []
    recv.settimeout(1)
    try:
        while True:
            datagrams.append(recv.recvfrom(4096)[0].decode())
    except socket.timeout:
        pass
    recv.close()
    assert datagrams[0].startswith("snowplow.s3loader.count:1|c")
    assert datagrams[0].endswith("|#app:t")
    assert "snowplow.s3loader.batch_rows:1|c|#app:t" in datagrams


def test_tracker_reports_a_failed_query(spark, tmp_path):
    """A query that dies sends storage_write_failed with the exception
    message, then app_shutdown (SnowplowTracking.scala:117-145)."""
    import pytest
    from pyspark.errors import StreamingQueryException

    def refuse(meta):
        raise RuntimeError("s3 put refused")

    sent: list[dict] = []
    tracker = SnowplowTracker(None, "t", send=sent.append)
    q = run_loader(
        spark,
        _loader_cfg(spark, tmp_path),
        on_flush=refuse,
        query_name="mon-fail",
        tracker=tracker,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    events = _tracked_events(sent)

    names = [n for n, _ in events]
    assert names[0] == "app_initialized", names
    assert names[-2:] == ["storage_write_failed", "app_shutdown"], names
    failed = events[-2][1]
    assert "s3 put refused" in failed["message"]
    assert (failed["storage"], failed["failureCount"]) == (STORAGE_TYPE, 1)


def test_no_collector_starts_no_tracker(spark, tmp_path):
    """Without monitoring.snowplow.collector the loader registers no
    listener and starts no heartbeat thread."""
    import threading

    streams = spark._jsparkSession.streams()
    before = len(streams.listListeners())
    q = run_loader(spark, _loader_cfg(spark, tmp_path), query_name="mon-none")
    try:
        q.processAllAvailable()
        assert len(streams.listListeners()) == before
        assert not [t for t in threading.enumerate() if t.name == "snowplow-heartbeat"]
    finally:
        q.stop()


def test_kinesis_option_assembly_all_positions():
    """The kinesis source's connector option map, pinned for every
    initial position (the reference's Config surface) — testable
    without a connector because kinesis_options is pure."""
    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.loader import kinesis_options

    def cfg(**inp):
        return from_dict(
            {
                "purpose": "RAW",
                "input": {"stream_name": "ev", "kind": "kinesis", **inp},
                "output": {"s3": {"path": "/tmp/x", "compression": "GZIP"}},
            }
        ).input

    assert kinesis_options(cfg()) == {
        "kinesis.streamName": "ev",
        "kinesis.region": "us-east-1",
        "kinesis.consumerType": "GetRecords",
        "kinesis.startingPosition": "LATEST",
        "kinesis.maxFetchRecordsPerShard": "10000",
    }
    assert kinesis_options(
        cfg(position="TRIM_HORIZON", region="eu-west-1", max_records=500)
    ) == {
        "kinesis.streamName": "ev",
        "kinesis.region": "eu-west-1",
        "kinesis.consumerType": "GetRecords",
        "kinesis.startingPosition": "TRIM_HORIZON",
        "kinesis.maxFetchRecordsPerShard": "500",
    }
    at = kinesis_options(
        cfg(position="AT_TIMESTAMP", position_timestamp="2026-01-01T00:00:00Z")
    )
    assert at["kinesis.startingPosition"] == "AT_TIMESTAMP"
    assert at["kinesis.startingTimestamp"] == "2026-01-01T00:00:00Z"


def test_custom_endpoints_reach_the_connector_maps():
    """input.customEndpoint (Config.scala:108, PROP_KINESIS_ENDPOINT at
    S3Loader.scala:83) and output.s3.customEndpoint (Config.scala:137,
    buildS3Client at KinesisS3Pipeline.scala:54-62): a localstack/VPC
    config that the reference honors must not load with the fields
    silently vanishing (VERDICT r10 what's-missing #1)."""
    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.loader import kinesis_options, s3a_options

    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {
                "stream_name": "ev",
                "kind": "kinesis",
                "custom_endpoint": "http://localhost:4566",
            },
            "output": {
                "s3": {
                    "path": "/tmp/x",
                    "compression": "GZIP",
                    "custom_endpoint": "http://localhost:9000",
                }
            },
        }
    )
    assert cfg.input.custom_endpoint == "http://localhost:4566"
    assert kinesis_options(cfg.input)["kinesis.endpointUrl"] == "http://localhost:4566"
    assert s3a_options(cfg.output.s3) == {
        "fs.s3a.endpoint": "http://localhost:9000",
        "fs.s3a.path.style.access": "true",
    }
    # absent → absent (no stray option/conf keys)
    plain = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "ev", "kind": "kinesis"},
            "output": {"s3": {"path": "/tmp/x", "compression": "GZIP"}},
        }
    )
    assert "kinesis.endpointUrl" not in kinesis_options(plain.input)
    assert s3a_options(plain.output.s3) == {}


def test_size_psi_gauge_on_drifted_batch(spark, tmp_path):
    """VERDICT r5 task #7: the loader-maintained size histogram's PSI
    against a reference histogram reaches the StatsD wire as a gauge
    after a flush of drifted (much larger) records — the engine's
    drift signal on the reference's monitoring surface (O18)."""
    from kinesis_s3_spark.streaming.histogram import SizeHistogramAccumulator
    from kinesis_s3_spark.streaming.monitoring import SizeDriftReporter

    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    recv.settimeout(5)
    port = recv.getsockname()[1]
    statsd = StatsDClient(
        MonitoringConfig(
            statsd_host="127.0.0.1",
            statsd_port=port,
            statsd_prefix="snowplow.s3loader",
        )
    )

    # reference: yesterday's traffic was tiny records (bin 0)
    ref_bins = {0: 1000}
    hist = SizeHistogramAccumulator(str(tmp_path / "state"))
    drift = SizeDriftReporter(statsd, hist, ref_bins)

    inp = str(tmp_path / "in")
    _write_input(spark, inp, ["y" * 900 for _ in range(20)])  # bin 14
    cfg = from_dict(
        {
            "purpose": "RAW",
            "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
            "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
            "buffer": {"time_limit_ms": 250},
            "checkpoint_location": str(tmp_path / "ckpt"),
        }
    )
    q = run_loader(
        spark,
        cfg,
        accumulators=(hist,),
        on_flush=drift,
        query_name="psi-test",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    datagram = recv.recvfrom(4096)[0].decode()
    recv.close()
    name, rest = datagram.split(":", 1)
    value, kind = rest.split("|", 1)
    assert name == "snowplow.s3loader.size_psi"
    assert kind == "g"
    # total mix shift (bin 0 -> bin 14): PSI far above the 0.2 alarm
    assert float(value) > 0.2
    assert drift.last_psi is not None and drift.last_psi > 0.2


def test_value_ks_gauge_alerts_only_on_drift(spark, tmp_path):
    """VERDICT r7 task #6: the loader-maintained payload-VALUE
    histogram's two-sample KS against a reference reaches the StatsD
    wire after each flush; the alert counter fires ONLY when D exceeds
    the alpha=0.05 critical line (events_drift_ks coefficient). A
    drifted replay batch (values shifted far right) produces the alert
    datagram; an un-drifted batch does not."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.streaming.histogram import SizeHistogramAccumulator
    from kinesis_s3_spark.streaming.monitoring import ValueDriftReporter

    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    recv.settimeout(5)
    port = recv.getsockname()[1]
    statsd = StatsDClient(
        MonitoringConfig(
            statsd_host="127.0.0.1",
            statsd_port=port,
            statsd_prefix="snowplow.s3loader",
        )
    )
    # payload = "<id>\t<reading>"; the histogram bins field 1
    value_col = F.try_element_at(F.split(F.col("value"), "\t"), F.lit(2)).try_cast(
        "double"
    )

    def run_tranche(tag: str, payloads: list[str], ref_bins: dict[int, int]):
        hist = SizeHistogramAccumulator(
            str(tmp_path / f"state-{tag}"),
            value_col=value_col,
            bin_width=1.0,
            state_file="value_histogram.json",
        )
        vdrift = ValueDriftReporter(statsd, hist, ref_bins)
        inp = str(tmp_path / f"in-{tag}")
        _write_input(spark, inp, payloads)
        cfg = from_dict(
            {
                "purpose": "RAW",
                "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
                "output": {"s3": {"path": str(tmp_path / f"out-{tag}"), "compression": "GZIP"}},
                "buffer": {"time_limit_ms": 250},
                "checkpoint_location": str(tmp_path / f"ckpt-{tag}"),
            }
        )
        q = run_loader(spark, cfg, accumulators=(hist,), on_flush=vdrift, query_name=f"ks-{tag}")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return vdrift

    # reference: 200 readings in bins 2-3
    ref = {2: 100, 3: 100}

    # un-drifted tranche: same distribution -> gauge only, no alert
    ok = run_tranche("ok", [f"r{i}\t{2 + (i % 2)}.5" for i in range(200)], ref)
    d1 = recv.recvfrom(4096)[0].decode()
    assert d1.startswith("snowplow.s3loader.value_ks:") and d1.endswith("|g")
    assert ok.last_d is not None and ok.last_d <= ok.last_crit
    # drifted tranche: readings jump to bins 40+ -> gauge THEN alert
    bad = run_tranche("bad", [f"r{i}\t{40 + (i % 5)}.5" for i in range(200)], ref)
    d2 = recv.recvfrom(4096)[0].decode()
    d3 = recv.recvfrom(4096)[0].decode()
    recv.close()
    assert d2.startswith("snowplow.s3loader.value_ks:")
    assert d3 == "snowplow.s3loader.value_ks_alert:1|c"
    assert bad.last_d > bad.last_crit
    # malformed payloads (no field / non-numeric) were dropped, not binned
    assert ok.last_d < 0.05  # same-shape tranche stayed under noise


def test_ks_against_matches_bruteforce():
    """ks_against must equal the brute-force two-sample KS over the
    binned data (max CDF gap at bin edges — exact for step CDFs) and
    use the events_drift_ks critical coefficient. Pure driver-side
    arithmetic; no Spark."""
    import math
    import random

    from kinesis_s3_spark.streaming.histogram import SizeHistogramAccumulator

    rng = random.Random(3)
    for _ in range(25):
        cur = {rng.randrange(0, 20): rng.randrange(1, 500) for _ in range(rng.randrange(1, 12))}
        ref = {rng.randrange(0, 20): rng.randrange(1, 500) for _ in range(rng.randrange(1, 12))}
        acc = SizeHistogramAccumulator.__new__(SizeHistogramAccumulator)
        acc.bins = dict(cur)
        d, crit = acc.ks_against(ref)
        n1, n2 = sum(cur.values()), sum(ref.values())
        want = 0.0
        c1 = c2 = 0
        for b in sorted(set(cur) | set(ref)):
            c1 += cur.get(b, 0)
            c2 += ref.get(b, 0)
            want = max(want, abs(c1 / n1 - c2 / n2))
        assert abs(d - want) < 1e-12
        assert abs(crit - 1.358 * math.sqrt((n1 + n2) / (n1 * n2))) < 1e-12
    # empty sides never alert
    acc = SizeHistogramAccumulator.__new__(SizeHistogramAccumulator)
    acc.bins = {}
    d, crit = acc.ks_against({1: 5})
    assert d == 0.0 and crit == float("inf")


def test_streaming_ks_twin_matches_batch_drift_ks(spark, tmp_path):
    """VERDICT r9 next #7: tie the streaming value-KS arm to the BATCH
    events_drift_ks operator the way the minhash/attribution twins are
    tied. A value stream replays in three tranches over ONE shared
    histogram state; after each flush the batch operator runs on an
    events table holding exactly (reference rows as weekdays) ∪
    (stream-so-far as weekend rows). Asserts per tranche: the
    streaming D equals the batch ks_stat (same mass, mid-bin values →
    binned and exact CDFs coincide), the critical lines match, and
    the STREAMING alert datagram fires precisely on the tranche where
    the BATCH statistic first crosses its critical line."""
    import datetime

    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from kinesis_s3_spark.streaming.histogram import SizeHistogramAccumulator
    from kinesis_s3_spark.streaming.monitoring import ValueDriftReporter

    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    port = recv.getsockname()[1]
    statsd = StatsDClient(
        MonitoringConfig(
            statsd_host="127.0.0.1", statsd_port=port, statsd_prefix="snowplow.s3loader"
        )
    )
    value_col = F.try_element_at(F.split(F.col("value"), "\t"), F.lit(2)).try_cast(
        "double"
    )
    # mid-bin values (k + 0.5, bin_width 1.0): the binned step CDF and
    # the exact per-value CDF have identical gaps, so streaming D ==
    # batch D by construction, not approximately
    ref_vals = [2.5] * 200 + [3.5] * 200  # "weekday" reference mass
    ref_bins = {2: 200, 3: 200}
    tranches = [
        [2.5] * 50 + [3.5] * 50,  # same shape — no drift
        [2.5] * 50 + [3.5] * 50,  # still same — no drift
        [40.5] * 300,  # shape jump — crosses the critical line
    ]
    thursday = datetime.datetime(1970, 1, 1, 12, 0, 0)  # epoch day 0 → weekday arm
    saturday = datetime.datetime(1970, 1, 3, 12, 0, 0)  # epoch day 2 → weekend arm

    state_dir = str(tmp_path / "ks-twin-state")
    # ONE input dir + ONE checkpoint lineage: each tranche appends
    # files and restarts the query, so micro-batch ids keep advancing
    # and the accumulator's replay-skip (batch_id ≤ last applied)
    # guards re-delivery instead of eating fresh tranches
    inp = str(tmp_path / "ks-twin-in")
    streamed: list[float] = []
    first_alert_tranche = None
    batch_first_drift = None
    for t, vals in enumerate(tranches):
        hist = SizeHistogramAccumulator(
            state_dir, value_col=value_col, bin_width=1.0, state_file="vh.json"
        )
        vdrift = ValueDriftReporter(statsd, hist, ref_bins)
        _write_input(spark, inp, [f"r{t}-{i}\t{v}" for i, v in enumerate(vals)])
        cfg = from_dict(
            {
                "purpose": "RAW",
                "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
                "output": {"s3": {"path": str(tmp_path / "ks-twin-out"), "compression": "GZIP"}},
                "buffer": {"time_limit_ms": 250},
                "checkpoint_location": str(tmp_path / "ks-twin-ckpt"),
            }
        )
        q = run_loader(
            spark, cfg, accumulators=(hist,), on_flush=vdrift, query_name=f"ks-twin-{t}"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        streamed.extend(vals)
        # drain this tranche's datagrams: gauge always, alert iff fired
        recv.settimeout(1)
        pkts = []
        try:
            while True:
                pkts.append(recv.recvfrom(4096)[0].decode())
        except socket.timeout:
            pass
        assert pkts and pkts[0].startswith("snowplow.s3loader.value_ks:")
        alerted = any(p.startswith("snowplow.s3loader.value_ks_alert:") for p in pkts)
        if alerted and first_alert_tranche is None:
            first_alert_tranche = t

        # batch arm: the SAME two samples as an events table
        sf_dir = str(tmp_path / f"ks-twin-sf-{t}")
        rows = [(thursday, float(v)) for v in ref_vals] + [
            (saturday, float(v)) for v in streamed
        ]
        spark.createDataFrame(rows, "ts timestamp_ntz, value double").write.mode(
            "overwrite"
        ).parquet(f"{sf_dir}/events.parquet")
        b = em.queries()["events_drift_ks"](spark, sf_dir).collect()[0]
        if b["drifted"] and batch_first_drift is None:
            batch_first_drift = t
        assert alerted == b["drifted"], (t, vdrift.last_d, b)
        assert abs(vdrift.last_d - b["ks_stat"]) < 1e-5, (t, vdrift.last_d, b)
        assert abs(vdrift.last_crit - b["ks_critical"]) < 1e-5, (t, vdrift.last_crit, b)
    recv.close()
    # the two arms cross on the SAME tranche — the drifted one
    assert first_alert_tranche == batch_first_drift == 2


def test_mmd_dim_set_mismatch_forces_drift_alert(tmp_path):
    """ADVICE r11 (mmd.py:144): a dimension populated on only one of
    reference/current means the embedding space itself changed (encoder
    swap / truncation) — previously those dims were silently
    intersected away, shrinking MMD² toward 0 exactly when it should
    scream. Now a dim-set mismatch forces drifted=True; identical dim
    sets keep the pure 2×-null rule."""
    from decimal import Decimal

    from kinesis_s3_spark.streaming.mmd import EmbeddingMomentAccumulator

    def acc_with(dims: dict[int, tuple[int, float, float]]):
        # embed_col placeholder: mmd2_against is driver-pure, update()
        # (the only consumer of the column) is never called here
        a = EmbeddingMomentAccumulator(
            str(tmp_path / f"s{len(dims)}"), embed_col="unused"
        )
        a.moments = {
            p: [n, Decimal(str(s)), Decimal(str(s2))] for p, (n, s, s2) in dims.items()
        }
        return a

    # same dims, same distribution: no drift
    same = {0: (100, 50.0, 30.0), 1: (100, 10.0, 5.0)}
    cur = acc_with(same)
    mmd2, _null, drifted = cur.mmd2_against(acc_with(same).snapshot())
    assert mmd2 == 0.0 and not drifted
    # current gained a dim (8 -> 16-dim encoder swap): identical on the
    # intersection, so the statistic is still 0 — but the alert fires
    cur = acc_with({**same, 2: (100, 20.0, 9.0)})
    mmd2, _null, drifted = cur.mmd2_against(acc_with(same).snapshot())
    assert mmd2 == 0.0 and drifted
    # current LOST a dim (truncation): alert fires too
    cur = acc_with({0: same[0]})
    _mmd2, _null, drifted = cur.mmd2_against(acc_with(same).snapshot())
    assert drifted
    # an EMPTY side is "no data yet", not a space change — no alert
    cur = acc_with({})
    mmd2, null, drifted = cur.mmd2_against(acc_with(same).snapshot())
    assert (mmd2, null, drifted) == (0.0, float("inf"), False)


def test_streaming_mmd_twin_matches_batch_emb_drift(spark, tmp_path):
    """VERDICT r10 next #7: tie the streaming EMBEDDING-drift arm to
    the BATCH emb_drift_mmd operator the way the KS twin is tied. An
    embedding stream replays in three tranches over ONE shared
    per-dimension moment state (restart per tranche, one checkpoint
    lineage — replay-skip guards re-delivery); after each flush the
    batch operator runs on an embeddings table holding exactly
    (reference vectors as even vec_ids) ∪ (stream-so-far as odd
    vec_ids). Asserts per tranche: the streaming MMD²/null equal the
    batch mmd2/null_scale (identical decimal sums → identical doubles),
    and the STREAMING alert datagram fires precisely on the tranche
    where the BATCH statistic first crosses its 2×-null line."""
    import __spark_entry__ as em
    from kinesis_s3_spark.streaming.mmd import EmbeddingMomentAccumulator
    from kinesis_s3_spark.streaming.monitoring import EmbeddingDriftReporter

    dim = 8

    def vec(i: int, shift: float = 0.0) -> list[float]:
        # uniform residue grid: over any 100·k consecutive i the per-dim
        # mean is exactly 0.495 + shift, so unshifted tranches carry no
        # mean gap and the +5 tranche moves every dimension's mean
        return [((i * 7 + d * 13) % 100) / 100.0 + shift for d in range(dim)]

    ref_vecs = [vec(i) for i in range(200)]
    tranches = [
        [vec(1000 + i) for i in range(100)],  # same distribution — no drift
        [vec(2000 + i) for i in range(100)],  # still same — no drift
        [vec(3000 + i, shift=5.0) for i in range(300)],  # mean jump — drift
    ]

    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    port = recv.getsockname()[1]
    statsd = StatsDClient(
        MonitoringConfig(
            statsd_host="127.0.0.1", statsd_port=port, statsd_prefix="snowplow.s3loader"
        )
    )

    # reference moments: a SEPARATE accumulator fed the reference
    # vectors as one static batch (exercises the same update path)
    ref_dir = str(tmp_path / "mmd-ref-state")
    ref_acc = EmbeddingMomentAccumulator(ref_dir)
    ref_df = spark.createDataFrame(
        [(f"ref-{i}\t" + ",".join(repr(x) for x in v),) for i, v in enumerate(ref_vecs)],
        "value string",
    )
    ref_acc.update(ref_df, 0)
    ref_moments = ref_acc.snapshot()

    state_dir = str(tmp_path / "mmd-state")
    inp = str(tmp_path / "mmd-in")
    streamed: list[list[float]] = []
    first_alert_tranche = None
    batch_first_drift = None
    for t, vecs in enumerate(tranches):
        acc = EmbeddingMomentAccumulator(state_dir)
        edrift = EmbeddingDriftReporter(statsd, acc, ref_moments)
        _write_input(
            spark,
            inp,
            [f"r{t}-{i}\t" + ",".join(repr(x) for x in v) for i, v in enumerate(vecs)],
        )
        cfg = from_dict(
            {
                "purpose": "RAW",
                "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
                "output": {"s3": {"path": str(tmp_path / "mmd-out"), "compression": "GZIP"}},
                "buffer": {"time_limit_ms": 250},
                "checkpoint_location": str(tmp_path / "mmd-ckpt"),
            }
        )
        q = run_loader(
            spark, cfg, accumulators=(acc,), on_flush=edrift, query_name=f"mmd-twin-{t}"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        streamed.extend(vecs)
        # drain this tranche's datagrams: gauge always, alert iff fired
        recv.settimeout(1)
        pkts = []
        try:
            while True:
                pkts.append(recv.recvfrom(4096)[0].decode())
        except socket.timeout:
            pass
        assert pkts and pkts[0].startswith("snowplow.s3loader.embedding_mmd2:")
        alerted = any(p.startswith("snowplow.s3loader.embedding_mmd_alert:") for p in pkts)
        if alerted and first_alert_tranche is None:
            first_alert_tranche = t

        # batch arm: the SAME two samples as an embeddings table
        # (reference = even vec_ids = grp 0; stream-so-far = odd = grp 1)
        sf_dir = str(tmp_path / f"mmd-sf-{t}")
        rows = [(2 * i, v, 0) for i, v in enumerate(ref_vecs)] + [
            (2 * i + 1, v, 0) for i, v in enumerate(streamed)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        ).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
        b = em.queries()["emb_drift_mmd"](spark, sf_dir).collect()[0]
        if b["drifted"] and batch_first_drift is None:
            batch_first_drift = t
        assert alerted == b["drifted"], (t, edrift.last_mmd2, b)
        assert abs(edrift.last_mmd2 - b["mmd2"]) < 1e-8, (t, edrift.last_mmd2, b)
        assert abs(edrift.last_null - b["null_scale"]) < 1e-8, (t, edrift.last_null, b)
        assert edrift.last_drifted == b["drifted"]
    recv.close()
    # the two arms cross on the SAME tranche — the shifted one
    assert first_alert_tranche == batch_first_drift == 2


@pytest.mark.parametrize("collector", [None, "http://127.0.0.1:9"], ids=["no_collector", "collector"])
def test_a_failed_loader_is_captured_once(spark, tmp_path, monkeypatch, collector):
    """``python -m kinesis_s3_spark`` reports a failed query to Sentry
    exactly once, with or without a Snowplow collector configured."""
    import threading

    from pyspark.errors import StreamingQueryException

    from kinesis_s3_spark import __main__ as cli
    from kinesis_s3_spark.streaming import monitoring, tracking

    captured, sent = [], []

    class FakeSDK:
        @staticmethod
        def init(dsn=None):
            pass

        @staticmethod
        def capture_exception(error):
            captured.append(error)

    listeners, terminated = [], threading.Event()

    class Listener(LoaderListener):
        def __init__(self, **kw):
            super().__init__(**kw)
            listeners.append(self)

        def onQueryTerminated(self, event):
            super().onQueryTerminated(event)
            terminated.set()

    def refuse(self, meta):
        raise RuntimeError("s3 put refused")

    monkeypatch.setattr(monitoring, "sentry_sdk", FakeSDK)
    monkeypatch.setattr(monitoring.StatsDClient, "report", refuse)
    monkeypatch.setattr(tracking, "_http_send", lambda uri: sent.append)
    monkeypatch.setattr(cli, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(cli, "LoaderListener", Listener)
    inp = str(tmp_path / "in")
    _write_input(spark, inp, ["x"])
    monitoring_cfg = {"sentry_dsn": "https://key@sentry.invalid/1"}
    if collector:
        monitoring_cfg["snowplow"] = {"collector": collector}
    config = tmp_path / "config.json"
    config.write_text(
        json.dumps(
            {
                "purpose": "RAW",
                "input": {"stream_name": "t", "kind": "file", "path": inp, "format": "parquet"},
                "output": {"s3": {"path": str(tmp_path / "out"), "compression": "GZIP"}},
                "buffer": {"time_limit_ms": 250},
                "monitoring": monitoring_cfg,
                "checkpoint_location": str(tmp_path / "ckpt"),
            }
        )
    )
    try:
        with pytest.raises(StreamingQueryException):
            cli.main(["--config", str(config)])
        # wait until the listeners have handled the termination
        assert terminated.wait(timeout=10)
        if collector:
            assert [n for n, _ in _tracked_events(sent)][-1] == "app_shutdown"
    finally:
        for listener in listeners:
            spark.streams.removeListener(listener)
    assert len(captured) == 1, captured
    assert "s3 put refused" in str(captured[0])
