"""Loader-first benchmark for kinesis_s3_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload emit_batch --seed 1 --seconds 10 --trace 0

Workloads: ``emit_batch``, ``stream_open_loop`` and ``query_mix`` (see
perfbench/README.md). Each run starts one Spark session at
``local[<cores>]``, generates its inputs from ``--seed``, measures for
``--seconds``, checks every output and prints, as the last line of
standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json; with ``--trace 1`` they are the ``per_layer`` list, from
a run that records spans and per-call Spark job metrics. Everything the
run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import uuid

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("emit_batch", "stream_open_loop", "query_mix")


class Context:
    """What a workload gets: the session, the tracer and job meter, and
    its run parameters."""

    def __init__(self, spark, tracer, meter, seed, seconds, work, tiny, session_ready_s, cores):
        self.spark = spark
        self.tracer = tracer
        self.meter = meter
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tiny = tiny
        self.session_ready_s = session_ready_s
        self.cores = cores


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test scale")
    return p.parse_args(argv)


def stop_session(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def metric_values(spec, res, trace, tracer, wall_s, session_s, bypassed):
    """The printed metrics: every end-to-end metric, or every per-layer
    one, in the units BENCHMARK.json gives them. A per-layer metric
    whose name starts with one of ``bypassed`` (the layers the workload
    does not load) reads 0; any other missing metric is an error."""
    from harness import LAYERS

    if not trace:
        values = dict(res["e2e"], setup_s=res["setup_s"])
        return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    values = dict(res["layer"])
    values["session.start_s"] = session_s
    values["session.peak_rss_mb"] = res["peak_rss_mb"]
    self_s = tracer.self_time()
    for layer in LAYERS:
        values[f"{layer}.self_frac"] = self_s.get(layer, 0.0) / wall_s
        values[f"{layer}.calls"] = sum(1 for s in tracer.spans if s["layer"] == layer)
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name not in values:
            if not name.startswith(bypassed):
                raise RuntimeError(f"workload produced no value for per-layer metric {name}")
            values[name] = 0
        out[name] = {"value": values[name], "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kinesis_s3_spark", "__init__.py")):
        print("perfbench: kinesis_s3_spark is not in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    import harness

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(HERE, "_work", run_id)
    os.makedirs(work)
    harness.prepare_process(work)
    workload = importlib.import_module(args.workload)
    # the CPUs this process may run on, as nproc counts them
    cores = len(os.sched_getaffinity(0))
    tracer = harness.Tracer(bool(args.trace), run_id)
    t0 = time.time()
    spark = harness.start_session(work, cores)
    t1 = time.time()
    if tracer.enabled:
        tracer.add("session.get_spark", "session", t0, t1)
    try:
        ctx = Context(
            spark, tracer, harness.JobMeter(spark, tracer), args.seed, args.seconds,
            work, args.tiny, t1 - T_PROCESS, cores,
        )
        res = workload.run(ctx)
        res["peak_rss_mb"] = harness.vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        ) + harness.vm_hwm_mb("self")
        metrics = metric_values(
            spec, res, args.trace, tracer, time.time() - T_PROCESS, t1 - t0, workload.BYPASSED
        )
    finally:
        stop_session(spark)
        if tracer.enabled:
            tracer.write(os.path.join(HERE, "_work", f"trace-{run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)
    tail = harness.tail(res["samples"])
    print(res["summary"])
    print(
        f"{args.workload}: {len(res['samples'])} {res['sample_unit']} samples; tail "
        + (f"p{tail[0] * 100:g} = {tail[1]:.4f} s" if tail else "not resolvable (< 20 samples)")
    )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
