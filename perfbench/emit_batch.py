"""emit_batch: closed loop, one caller.

Back-to-back micro-batches go through ``sinks.emitter.emit``, the
foreachBatch body the streaming loader calls, with the reference's
defaults (SELF_DESCRIBING, GZIP, a 64 MiB byte limit). Afterwards the
output is read back with ``sources.archive`` and every batch is checked
against what was generated.

A traced run traces and meters every other pair of emits (one of each
staged batch) and leaves the others as an untraced run has them; the
ratio of the two medians is what tracing costs.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
import traceback

from harness import median_record, op_metrics, overhead_frac, quantile
from records import ID_REGEX, RecordGen, write_parquet

BATCH_RECORDS = 50_000
STAGED = 2  # distinct staged batches, emitted in turn
STAGINGS = 3  # set-up repeats; set-up time reports their median
WARMUP_EMITS = 2  # the first warm emit still runs about 15% slow
MIN_TRACED_EMITS = 4 * STAGED  # each staged batch twice traced, twice not
BYPASSED = ("streaming.", "monitoring.", "operators.")


def stage(in_dir: str, seed: int, n: int) -> list[dict]:
    gen = RecordGen(seed)
    staged = []
    for k in range(STAGED):
        values, expected = gen.batch(n)
        path = os.path.join(in_dir, f"batch-{k}.parquet")
        write_parquet(values, path)
        good_bytes = sum(len(v.encode()) + 1 for v in values if v is not None)
        staged.append({"path": path, "expected": expected, "good_bytes": good_bytes})
    return staged


def loader_config(work: str):
    from kinesis_s3_spark.config import from_dict

    return from_dict(
        {
            "purpose": "SELF_DESCRIBING",
            "input": {"stream_name": "perfbench"},
            "output": {
                "s3": {"path": f"{work}/good", "compression": "GZIP"},
                "bad_path": f"{work}/bad",
            },
            "buffer": {"byte_limit": 64 * 1024 * 1024},
        }
    )


def read_back(ctx) -> tuple[dict, dict, dict]:
    """Per (batch, row type): rows and distinct ids; per batch: bad rows
    and bad rows whose payload is not the empty NULL payload."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.sources.archive import read_archive, read_bad_archive

    timing = {}
    with ctx.tracer.span("sources.read_archive", "sources"):
        t0 = time.time()
        rows = (
            read_archive(ctx.spark, f"{ctx.work}/good", "GZIP")
            .groupBy("batch_id", "row_type")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct(F.regexp_extract("value", ID_REGEX, 1)).alias("ids"),
            )
            .collect()
        )
        timing["good"] = (time.time() - t0, sum(r["n"] for r in rows))
    with ctx.tracer.span("sources.read_bad_archive", "sources"):
        t0 = time.time()
        bad = (
            read_bad_archive(ctx.spark, f"{ctx.work}/bad")
            .groupBy("batch_id")
            .agg(
                F.count("*").alias("n"),
                F.sum((F.coalesce(F.col("payload"), F.lit("?")) != "").cast("int")).alias("odd"),
            )
            .collect()
        )
        timing["bad"] = (time.time() - t0, sum(r["n"] for r in bad))
    good = {(r["batch_id"], r["row_type"]): (r["n"], r["ids"]) for r in rows}
    return good, {r["batch_id"]: (r["n"], r["odd"]) for r in bad}, timing


def batch_ok(bid: int, expected, good: dict, bad: dict) -> bool:
    want = {(bid, rt): (n, n) for rt, n in expected.items() if rt is not None}
    got = {key: v for key, v in good.items() if key[0] == bid}
    return got == want and bad.get(bid, (0, 0)) == (expected.get(None, 0), 0)


def output_files(work: str, bid: int) -> tuple[int, int]:
    files = glob.glob(f"{work}/good/batch_id={bid}/**/*.gz", recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from kinesis_s3_spark.functions.badrows import bad_row_json_col
    from kinesis_s3_spark.functions.schema_key import row_type_col
    from kinesis_s3_spark.sinks.emitter import emit

    spark, tracer, meter = ctx.spark, ctx.tracer, ctx.meter
    n = 2_000 if ctx.tiny else BATCH_RECORDS
    in_dir = os.path.join(ctx.work, "input")
    os.makedirs(in_dir, exist_ok=True)
    stage_s = []
    for _ in range(STAGINGS):
        t0 = time.time()
        staged = stage(in_dir, ctx.seed, n)
        stage_s.append(time.time() - t0)
    cfg = loader_config(ctx.work)
    plan = {}  # batch id -> staged batch
    t0 = time.time()
    for bid in range(WARMUP_EMITS):
        plan[bid] = bid % STAGED
        emit(spark.read.parquet(staged[plan[bid]]["path"]), bid, cfg)
    warm_s = time.time() - t0
    setup_s = ctx.session_ready_s + statistics.median(stage_s) + warm_s

    times, traced, recs, errors = [], [], [], 0
    start = time.time()
    deadline = start + ctx.seconds
    min_emits = MIN_TRACED_EMITS if tracer.enabled else 0
    while time.time() < deadline or len(times) < min_emits:
        bid = len(plan)
        k = plan[bid] = bid % STAGED
        on = tracer.enabled and (len(times) // STAGED) % 2 == 0
        t0 = time.time()
        with tracer.span("sinks.emit", "sinks", on), meter.call(f"emit-{bid}", on) as rec:
            try:
                emit(spark.read.parquet(staged[k]["path"]), bid, cfg)
            except Exception:  # noqa: BLE001 - a failed emit is counted, not fatal
                traceback.print_exc()
                errors += 1
        times.append(time.time() - t0)
        traced.append(on)
        if on:
            recs.append((k, rec))

    layer: dict = {}
    if tracer.enabled:
        src = spark.read.parquet(staged[0]["path"])
        probes = {
            "row_type_col": row_type_col(F.col("value"), is_failed=F.col("value").isNull()),
            "bad_row_json_col": bad_row_json_col(
                F.coalesce(F.col("value").cast("binary"), F.lit(b"")),
                F.array(F.lit("Cannot deserialize record")),
            ),
        }
        for name, col in probes.items():
            with tracer.span(f"functions.{name}", "functions"):
                t0 = time.time()
                src.select(col.alias("c")).write.format("noop").mode("overwrite").save()
                layer[f"functions.{name}_over_emit"] = (time.time() - t0) / statistics.median(times)

    good, bad, timing = read_back(ctx)
    wrong = [bid for bid, k in plan.items() if not batch_ok(bid, staged[k]["expected"], good, bad)]
    failed = errors + len(wrong)

    files = [output_files(ctx.work, bid) for bid in plan if bid >= WARMUP_EMITS]
    gz_bytes = sum(b for _, b in files)
    in_bytes = sum(staged[k]["good_bytes"] for bid, k in plan.items() if bid >= WARMUP_EMITS)
    layer.update(
        {
            "sinks.files_per_batch": statistics.median(f for f, _ in files),
            "sinks.bytes_out_per_batch": statistics.median(b for _, b in files),
            "sinks.compress_ratio": in_bytes / gz_bytes if gz_bytes else 0.0,
            "sources.read_archive_rows_per_s": timing["good"][1] / timing["good"][0],
            "sources.read_bad_archive_rows_per_s": timing["bad"][1] / timing["bad"][0],
        }
    )
    if tracer.enabled:
        layer.update(op_metrics(median_record([r for _, r in recs])))
        layer["trace.overhead_frac"] = overhead_frac(
            statistics.median(t for t, on in zip(times, traced) if on),
            statistics.median(t for t, on in zip(times, traced) if not on),
        )
        # the same staged input must give the same job, stage, task and
        # shuffle counts on every emit
        by_input: dict = {}
        for k, r in recs:
            by_input.setdefault(k, []).append(
                (r["jobs"], r["stages"], r["tasks"], r["shuffle_write_bytes"])
            )
        repeated = [set(v) for v in by_input.values() if len(v) > 1]
        layer["sinks.emit.counts_repeat"] = int(bool(repeated) and all(len(v) == 1 for v in repeated))

    return {
        "attempted": len(plan),
        "failed": failed,
        "setup_s": setup_s,
        "e2e": {
            "latency_s.p50": statistics.median(times),
            "rows_per_s": n * len(times) / sum(times),
        },
        "layer": layer,
        "sample_unit": "emit",
        "samples": times,
        "summary": (
            f"emit_batch: {len(times)} timed emits of {n} records, "
            f"p50 {quantile(times, 0.5):.3f} s, max {max(times):.3f} s; "
            f"wrong batches {wrong}"
        ),
    }
