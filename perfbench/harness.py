"""Machinery the workloads share: process set-up, spans, per-call Spark
job metrics and summary statistics.

Everything here observes the package from outside. Spans wrap the
benchmark's own calls into each layer; job metrics come from the
status tracker and the status store of the running SparkContext.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYERS = ("session", "sources", "functions", "sinks", "streaming", "operators")
# percentiles a tail may take, lowest first
TAIL_LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(values) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile with at least ten
    samples beyond it, or None when the sample holds fewer than 20."""
    n = len(values)
    best = None
    for q in TAIL_LADDER:
        if n * (1 - q) >= 10:
            best = (q, quantile(values, q))
    return best


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def prepare_process(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable on Python workers.

    ``kinesis_s3_spark`` is not shipped to workers by ``run_loader`` or
    ``emit``, so a worker started outside the repository root cannot
    import it; PYTHONPATH is inherited by the JVM and its workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, cores: int):
    from kinesis_s3_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        # session.py's guidance for a cluster: 2-3x the total cores
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tracer:
    """Spans kept in memory: name, layer, start, end, parent, run id.
    Disabled, it records nothing and costs one branch per span."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None = None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "layer": layer, "start": start,
             "end": end, "parent": parent, "run": self.run_id}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, layer: str, on: bool = True):
        """Records the block as a span; ``on=False`` runs it untraced."""
        if not (self.enabled and on):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, layer, time.time(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_time(self) -> dict[str, float]:
        """Per layer: span durations minus the part their children cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered = union_s(children.get(s["id"], []))
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobMeter:
    """Spark work of one call: every metered call runs under a fresh job
    group (groups accumulate across calls, and AQE submits each query
    stage as its own job), then its jobs and stages are read back."""

    FIELDS = ("jobs", "stages", "tasks", "driver_gap_s", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.tracer = tracer

    @contextmanager
    def call(self, label: str, on: bool = True):
        """Yields a dict that holds the call's record after the block;
        ``on=False`` runs the block unmetered."""
        rec: dict = {}
        if not (self.tracer.enabled and on):
            yield rec
            return
        gid = f"perfbench-{label}-{uuid.uuid4().hex[:12]}"
        self.sc.setJobGroup(gid, label)
        t0 = time.time()
        try:
            yield rec
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self.collect(self.sc.statusTracker().getJobIdsForGroup(gid), t1 - t0))

    def collect(self, job_ids, wall_s: float) -> dict:
        self.bus.waitUntilEmpty(30_000)
        rec = dict.fromkeys(self.FIELDS, 0)
        intervals, stage_ids = [], set()
        for jid in job_ids:
            jd = self.store.job(jid)
            rec["jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (jd.submissionTime().get().getTime() / 1e3,
                     jd.completionTime().get().getTime() / 1e3)
                )
            seq = jd.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in stage_ids:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numTasks()
            rec["executor_run_s"] += sd.executorRunTime() / 1e3
            rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["gc_s"] += sd.jvmGcTime() / 1e3
            rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        rec["driver_gap_s"] = max(0.0, wall_s - union_s(intervals))
        return rec


def median_record(records: list[dict]) -> dict:
    """Field-wise median of job-metric records."""
    if not records:
        return dict.fromkeys(JobMeter.FIELDS, 0)
    return {k: statistics.median(r[k] for r in records) for k in JobMeter.FIELDS}


def overhead_frac(traced_s: float, untraced_s: float) -> float:
    """How much slower the same operation ran traced (spans and job
    meter on) than untraced, both measured in one run."""
    return traced_s / untraced_s - 1.0


def op_metrics(rec: dict) -> dict:
    """A job-metric record under the ``op.`` per-layer names."""
    return {f"op.{k}": rec[k] for k in JobMeter.FIELDS}
