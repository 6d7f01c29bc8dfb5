"""stream_open_loop: the running loader, fed on a fixed schedule.

``streaming.loader.run_loader`` watches a directory through its file
source, with the trigger interval equal to ``buffer.time_limit_ms``.
Set-up pre-writes every input file; during the run one thread does
nothing but rename each file into the watched directory at its
scheduled time, whether or not the loader keeps up. Two rate phases run
one after the other: ``high`` (about 50% of emit_batch capacity, where
the sink's throughput sets latency), then ``low`` (about 5%, where the
trigger interval and per-batch fixed cost set it). Each phase starts
once the loader has flushed every earlier file, at the same point of
the trigger grid, so a slow ``high`` phase does not spill into ``low``.

A record's latency is the time ``on_flush`` returns for the batch that
holds its file, minus the file's scheduled release time. The
checkpoint's source log maps each file to its batch. Files due in the
first trigger interval of each phase are left out of the latency sample.
``on_flush`` reports each batch with ``StatsDClient.report`` to a UDP
socket the benchmark owns.

Per-batch durations come from the query's own progress reports
(``recentProgress``), read after the run, so a traced run adds nothing
to the loader's work while it is measured.
"""

from __future__ import annotations

import glob
import json
import math
import os
import socket
import statistics
import threading
import time
from datetime import datetime

import numpy as np

from harness import quantile, union_s
from records import ID_REGEX, RecordGen, write_parquet

TRIGGER_MS = 3000
RELEASE_HZ = 10  # files released per second, in both phases
RATES = {"low": 800, "high": 8_000}  # records per second; emit_batch runs ~16,500
TINY_RATES = {"low": 100, "high": 400}
# share of the run each phase takes
PHASES = (("high", 7 / 12), ("low", 5 / 12))
# warm-up batches, each one trigger interval's worth of the first
# phase's files
WARMUP_BATCHES = 2
STAGINGS = 3
DRAIN_TIMEOUT_S = 60.0
START_PHASE_S = 0.25  # phase start, after a trigger boundary
# a micro-batch's phases, in the order it runs them
PROGRESS_KEYS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
# phases spent in another layer than streaming: the source's, and emit()
CHILD_LAYER = {"latestOffset": "sources", "getBatch": "sources", "addBatch": "sinks"}
BYPASSED = ("functions.", "sources.read_", "sinks.", "operators.")


def plan_files(seconds: float, rates: dict) -> list[dict]:
    """The release schedule: phase, offset from the phase's start, record
    count."""
    files = []
    for phase, share in PHASES:
        per_file = max(1, round(rates[phase] / RELEASE_HZ))
        for j in range(int(share * seconds * RELEASE_HZ)):
            files.append(
                {"phase": phase, "offset": j / RELEASE_HZ, "n": per_file,
                 "measured": j / RELEASE_HZ >= TRIGGER_MS / 1000}
            )
    return files


def stage(staging: str, seed: int, files: list[dict]) -> list[dict]:
    """Write the warm-up files and every scheduled file; returns the
    warm-up batches of files, and fills each file's name and ids."""
    gen = RecordGen(seed)
    per_trigger = round(TRIGGER_MS / 1000 * RELEASE_HZ)
    warm = [[{"n": files[0]["n"]} for _ in range(per_trigger)] for _ in range(WARMUP_BATCHES)]
    for i, f in enumerate([f for batch in warm for f in batch] + files):
        first = gen.next_id
        values, _ = gen.batch(f["n"])
        f["name"] = f"f-{i:05d}.parquet"
        f["first_id"] = first
        f["null_ids"] = {first + j for j, v in enumerate(values) if v is None}
        write_parquet(values, os.path.join(staging, f["name"]))
    return warm


class StatsDSink:
    """The UDP endpoint the loader's StatsD client reports to."""

    def __init__(self) -> None:
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.settimeout(0.2)
        self.port = self.sock.getsockname()[1]
        self.datagrams: list[str] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                self.datagrams.append(self.sock.recv(65536).decode())
            except socket.timeout:
                continue

    def close(self) -> None:
        time.sleep(0.3)
        self._stop.set()
        self._thread.join(timeout=5)
        self.sock.close()

    def counted(self) -> int:
        return sum(
            int(d.split(":", 1)[1].split("|", 1)[0])
            for d in self.datagrams
            if d.split(":", 1)[0].endswith(".count")
        )


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's checkpoint log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def wait_for(cond, timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return True
        time.sleep(0.02)
    return cond()


def batch_progress(query) -> dict[int, dict]:
    """Batch id -> rows, durations and start of each batch that read
    rows, from the query's progress reports."""
    return {
        p.batchId: {"rows": p.numInputRows, "durations": dict(p.durationMs),
                    "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()}
        for p in query.recentProgress
        if p.numInputRows > 0
    }


def weighted(samples: list[tuple[float, int]]) -> list[float]:
    return [lat for lat, n in samples for _ in range(n)]


def run(ctx) -> dict:
    from kinesis_s3_spark.config import from_dict
    from kinesis_s3_spark.streaming.loader import run_loader
    from kinesis_s3_spark.streaming.monitoring import StatsDClient

    spark, tracer = ctx.spark, ctx.tracer
    rates = TINY_RATES if ctx.tiny else RATES
    trigger_s = TRIGGER_MS / 1000
    dirs = {d: os.path.join(ctx.work, d) for d in ("staging", "watched", "good", "bad", "ckpt")}
    stage_s = []
    for _ in range(STAGINGS):
        for d in ("staging", "watched"):
            os.makedirs(dirs[d], exist_ok=True)
        t0 = time.time()
        files = plan_files(ctx.seconds, rates)
        warm = stage(dirs["staging"], ctx.seed, files)
        stage_s.append(time.time() - t0)
    every = [f for batch in warm for f in batch] + files

    statsd_sink = StatsDSink()
    cfg = from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "perfbench", "kind": "file", "path": dirs["watched"],
                      "format": "parquet", "max_records": 100_000},
            "output": {"s3": {"path": dirs["good"], "compression": "GZIP"}, "bad_path": dirs["bad"]},
            "buffer": {"byte_limit": 64 * 1024 * 1024, "time_limit_ms": TRIGGER_MS},
            "monitoring": {"statsd_host": "127.0.0.1", "statsd_port": statsd_sink.port},
            "checkpoint_location": dirs["ckpt"],
        }
    )
    statsd = StatsDClient(cfg.monitoring)
    flushed: dict[int, float] = {}
    loaded = [0]
    report_s = [0.0]

    def on_flush(meta) -> None:
        t0 = time.time()
        statsd.report(meta)
        t1 = time.time()
        report_s[0] += t1 - t0
        loaded[0] += meta.count
        flushed[meta.batch_id] = t1

    def release(f) -> None:
        os.rename(os.path.join(dirs["staging"], f["name"]), os.path.join(dirs["watched"], f["name"]))

    t_setup = time.time()
    for f in warm[0]:
        release(f)
    with tracer.span("streaming.run_loader", "streaming"):
        query = run_loader(spark, cfg, on_flush=on_flush)
    try:
        sent = 0
        for k, batch in enumerate(warm):
            if k:
                for f in batch:
                    release(f)
            sent += sum(f["n"] for f in batch)
            wait_for(lambda: loaded[0] >= sent, DRAIN_TIMEOUT_S)
        warm_s = time.time() - t_setup
        setup_s = ctx.session_ready_s + statistics.median(stage_s) + warm_s

        # the generator: this thread only releases files on schedule;
        # the loader's batches and on_flush run on Spark's threads
        drained = True
        for phase, _ in PHASES:
            drained &= wait_for(lambda: loaded[0] >= sent, DRAIN_TIMEOUT_S)
            # processing-time triggers fire on multiples of the interval
            # since the epoch; starting each phase at a fixed point of
            # that grid keeps each run's batch boundaries in one place
            phase_start = (time.time() // trigger_s + 1) * trigger_s + START_PHASE_S
            for f in files:
                if f["phase"] != phase:
                    continue
                f["due"] = phase_start + f["offset"]
                delay = f["due"] - time.time()
                if delay > 0:
                    time.sleep(delay)
                release(f)
                f["released"] = time.time()
                sent += f["n"]
        drained &= wait_for(lambda: loaded[0] >= sent, DRAIN_TIMEOUT_S)
        end = time.time()
        # a batch's progress is reported after its on_flush returns
        last = max(flushed)
        wait_for(lambda: getattr(query.lastProgress, "batchId", -1) >= last, DRAIN_TIMEOUT_S)
        progress = batch_progress(query)
    finally:
        query.stop()
        statsd_sink.close()

    batch_of = source_log(dirs["ckpt"])
    for f in every:
        f["batch"] = batch_of.get(f["name"])
        f["flushed"] = flushed.get(f["batch"])
    samples = {"low": [], "high": []}
    for f in files:
        if f["measured"] and f["flushed"] is not None:
            samples[f["phase"]].append((f["flushed"] - f["due"], f["n"]))
    p50 = {ph: quantile(weighted(s), 0.5) for ph, s in samples.items() if s}
    # the batches that hold measured files
    batches = [progress[b] for b in sorted({f["batch"] for f in files if f["measured"]}) if b in progress]
    # from each phase's start to its last flush
    phase_s = sum(
        max(f["flushed"] or end for f in files if f["phase"] == ph)
        - min(f["due"] for f in files if f["phase"] == ph)
        for ph, _ in PHASES
    )

    bad_files = check_output(ctx, dirs, every)
    statsd_ok = statsd_sink.counted() == loaded[0] == sum(f["n"] for f in every)
    failed = len(bad_files) + (not statsd_ok) + (0 if drained else 1)

    layer = {}
    if tracer.enabled:
        layer = traced_layers(ctx, query, batches, files, end, trigger_s, samples)
        layer["monitoring.datagrams"] = len(statsd_sink.datagrams)
        added_s = sum(b["durations"].get("addBatch", 0) for b in progress.values()) / 1e3
        layer["monitoring.report_frac"] = report_s[0] / added_s
        # the traced run differs from an untraced one only before and
        # after the measured window
        layer["trace.overhead_frac"] = 0.0
    return {
        "attempted": len(every) + 1,
        "failed": failed,
        "setup_s": setup_s,
        "e2e": {
            # each phase weighs the same, whatever its record count
            "latency_s.p50": math.sqrt(p50["low"] * p50["high"]) if len(p50) == 2 else float("nan"),
            # offered-load goodput: it follows the schedule, and drops
            # when the loader falls behind it
            "rows_per_s": sum(f["n"] for f in files) / phase_s,
        },
        "layer": layer,
        "sample_unit": "file",
        "samples": [lat for lat, _ in samples["low"] + samples["high"]],
        "summary": (
            f"stream_open_loop: trigger {TRIGGER_MS} ms; "
            + "; ".join(
                f"{ph} {rates[ph]} rec/s: {len(samples[ph])} files measured, p50 {v:.3f} s"
                for ph, v in p50.items()
            )
            + f"; measured batches (rows, addBatch s) "
            + str([(b["rows"], b["durations"].get("addBatch", 0) / 1e3) for b in batches])
            + f"; generator max late {max(f['released'] - f['due'] for f in files):.4f} s"
            + f"; wrong files {len(bad_files)}, statsd ok {statsd_ok}, drained {drained}"
        ),
    }


def check_output(ctx, dirs: dict, every: list[dict]) -> list[str]:
    """Files whose records did not land exactly once across the good and
    the bad output."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.sources.archive import read_archive, read_bad_archive

    # run_loader writes under good/run=<12 hex digits>/. Read from inside
    # that directory: Spark's partition discovery parses an id such as
    # 207e90628546 as a decimal with an eight-digit exponent and stalls for
    # minutes, with type inference switched off too.
    (run_dir,) = glob.glob(os.path.join(dirs["good"], "run=*"))
    with ctx.tracer.span("sources.read_archive", "sources"):
        ids = (
            read_archive(ctx.spark, run_dir, "GZIP")
            .select(F.regexp_extract("value", ID_REGEX, 1).cast("long").alias("id"))
            .toPandas()["id"]
            .to_numpy()
        )
    with ctx.tracer.span("sources.read_bad_archive", "sources"):
        bad = {
            r["batch_id"]: (r["n"], r["odd"])
            for r in read_bad_archive(ctx.spark, dirs["bad"])
            .groupBy("batch_id")
            .agg(F.count("*").alias("n"),
                 F.sum((F.coalesce(F.col("payload"), F.lit("?")) != "").cast("int")).alias("odd"))
            .collect()
        }
    ids.sort()
    wrong, nulls_per_batch = [], {}
    for f in every:
        nulls_per_batch[f["batch"]] = nulls_per_batch.get(f["batch"], 0) + len(f["null_ids"])
        lo, hi = np.searchsorted(ids, [f["first_id"], f["first_id"] + f["n"]])
        got = ids[lo:hi]
        want = f["n"] - len(f["null_ids"])
        if f["batch"] is None or len(got) != want or len(np.unique(got)) != want or (
            f["null_ids"] & set(got.tolist())
        ):
            wrong.append(f["name"])
    wrong_batches = {b for b, n in nulls_per_batch.items() if bad.get(b, (0, 0)) != (n, 0)}
    wrong += [f["name"] for f in every if f["batch"] in wrong_batches and f["name"] not in wrong]
    return wrong


def traced_layers(ctx, query, measured, files, end, trigger_s, samples) -> dict:
    """Progress durations, backlog and job metrics of the measured batches."""
    tracer, meter = ctx.tracer, ctx.meter
    trig = [e["durations"].get("triggerExecution", 0) / 1e3 for e in measured]
    out = {}
    total_trigger = sum(trig) or 1.0
    for key in PROGRESS_KEYS:
        out[f"streaming.{key}_frac"] = sum(e["durations"].get(key, 0) for e in measured) / 1e3 / total_trigger
    out["streaming.trigger_over_interval"] = statistics.median(trig) / trigger_s if trig else 0.0
    out["streaming.batch_rows.p50"] = statistics.median(e["rows"] for e in measured) if measured else 0
    for e in measured:
        # derived spans: durations are exact, their order within the
        # trigger follows the micro-batch's own sequence
        d = {k: e["durations"].get(k, 0) / 1e3 for k in PROGRESS_KEYS}
        t = e["start"]
        sid = tracer.add("streaming.trigger", "streaming", t, t + sum(d.values()))
        for key in PROGRESS_KEYS:
            # the other phases stay in the trigger span's own (streaming) time
            if key in CHILD_LAYER:
                tracer.add(f"{CHILD_LAYER[key]}.{key}", CHILD_LAYER[key], t, t + d[key], sid)
            t += d[key]

    # backlog: files released but not yet flushed. A loader that keeps up
    # has flushed, at each trigger tick, every file released before the
    # tick one interval earlier; the files it has not ("carried") grow
    # from tick to tick when it falls behind
    def backlog_at(fs, t, age=0.0):
        return sum(1 for f in fs if f["released"] <= t - age and (f["flushed"] is None or f["flushed"] > t))

    for phase in ("low", "high"):
        ph = [f for f in files if f["phase"] == phase]
        # the phase's ticks, through one interval after its last release
        first, last = ph[0]["released"], min(ph[-1]["released"] + trigger_s, end)
        ticks = [k * trigger_s for k in range(math.ceil(first / trigger_s), math.floor(last / trigger_s) + 1)]
        carried = [backlog_at(ph, t, trigger_s) for t in ticks]
        out[f"streaming.{phase}.backlog_growth_files"] = carried[-1] - carried[0] if carried else 0
        out[f"streaming.{phase}.latency_over_interval"] = (
            quantile(weighted(samples[phase]), 0.5) / trigger_s if samples[phase] else 0.0
        )
    flush_times = sorted({f["flushed"] for f in files if f["flushed"] is not None})
    out["streaming.backlog_files.max"] = max((backlog_at(files, t) for t in flush_times), default=0)
    out["streaming.gen_late_over_interval"] = max(f["released"] - f["due"] for f in files) / trigger_s

    # Spark jobs of the measured batches: the stream runs its batches
    # under its own run id as job group
    spans = [(e["start"], e["start"] + t) for e, t in zip(measured, trig)]
    job_ids = ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    jobs = [
        j for j in job_ids
        if any(s <= meter.store.job(j).submissionTime().get().getTime() / 1e3 <= e for s, e in spans)
    ]
    rec = meter.collect(jobs, 0.0)
    nb = max(1, len(measured))
    intervals = []
    for j in jobs:
        jd = meter.store.job(j)
        if jd.completionTime().isDefined():
            intervals.append((jd.submissionTime().get().getTime() / 1e3,
                              jd.completionTime().get().getTime() / 1e3))
    rec["driver_gap_s"] = max(0.0, union_s(spans) - union_s(intervals))
    for k, v in rec.items():
        out[f"op.{k}"] = v / nb
    return out
