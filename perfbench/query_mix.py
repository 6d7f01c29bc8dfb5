"""query_mix: closed loop, one client, over two registry queries.

Set-up generates the input tables from the seed and checks each query
once against its DuckDB oracle (``tools/check_correctness.compare``);
that pass is the warm-up. The timed part then runs whole passes of the
queries, in mix order, through the noop sink until the run time is
spent, and at least three: the first pass through the noop sink still
runs about 15% slow, and each query's median drops it.

A traced run traces and meters every other pass and leaves the others
as an untraced run has them, with at least three of each; the ratio of
the two pass times is what tracing costs.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from harness import ROOT, JobMeter, median_record, op_metrics, overhead_frac
import tables

QUERIES = {
    # query -> the tables it reads
    "q5_region_revenue": ("orders", "lineitem", "nation", "region", "supplier", "customer"),
    "graph_pagerank": ("events",),
}
SF, TINY_SF = 0.1, 0.001
STAGINGS = 3
MIN_ROUNDS = 3  # so each query's median drops one slow pass
BYPASSED = ("functions.", "sources.read_", "sinks.", "streaming.", "monitoring.")


def run(ctx) -> dict:
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry
    from check_correctness import compare

    spark, tracer, meter = ctx.spark, ctx.tracer, ctx.meter
    data = os.path.join(ctx.work, "data")
    stage_s = []
    for _ in range(STAGINGS):
        t0 = time.time()
        rows = tables.generate(data, ctx.seed, TINY_SF if ctx.tiny else SF)
        stage_s.append(time.time() - t0)
    queries, oracles = entry.queries(), entry.oracle_sql()

    t0 = time.time()
    con = duckdb.connect()
    for name in rows:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
    failed = 0
    for q in QUERIES:
        try:
            r = compare(q, queries[q](spark, data), oracles[q], con)
            ok = r["rows_match"] and r["cols_match"] and r["values_match"]
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"query_mix: {q} does not match its oracle", file=sys.stderr)
        failed += not ok
    con.close()
    setup_s = ctx.session_ready_s + statistics.median(stage_s) + time.time() - t0

    # per query, its times in untraced and in traced passes
    times: dict[bool, dict[str, list]] = {on: {q: [] for q in QUERIES} for on in (False, True)}
    recs: dict[str, list] = {q: [] for q in QUERIES}
    attempted = len(QUERIES)
    start = time.time()
    deadline = start + ctx.seconds
    min_rounds = 2 * MIN_ROUNDS if tracer.enabled else MIN_ROUNDS
    rounds, passes = 0, []
    while rounds < min_rounds or time.time() < deadline:
        on = tracer.enabled and rounds % 2 == 0
        t_round = time.time()
        for q in QUERIES:
            attempted += 1
            t0 = time.time()
            with tracer.span(f"operators.{q}", "operators", on), meter.call(q, on) as rec:
                try:
                    queries[q](spark, data).write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001
                    traceback.print_exc()
                    failed += 1
            times[on][q].append(time.time() - t0)
            if on:
                recs[q].append(rec)
        passes.append(time.time() - t_round)
        rounds += 1

    med = {q: statistics.median(t) for q, t in times[False].items()}
    pass_s = sum(med.values())
    rows_per_pass = sum(rows[t] for q in QUERIES for t in QUERIES[q])
    layer = {}
    if tracer.enabled:
        traced_med = {q: statistics.median(t) for q, t in times[True].items()}
        traced_pass_s = sum(traced_med.values())
        layer["trace.overhead_frac"] = overhead_frac(traced_pass_s, pass_s)
        per_q = {q: median_record(r) for q, r in recs.items()}
        layer.update(op_metrics({k: sum(r[k] for r in per_q.values()) for k in JobMeter.FIELDS}))
        for q, r in per_q.items():
            t = traced_med[q]
            layer[f"operators.{q}.share"] = t / traced_pass_s
            layer[f"operators.{q}.jobs"] = r["jobs"]
            layer[f"operators.{q}.driver_gap_frac"] = r["driver_gap_s"] / t
            layer[f"operators.{q}.cpu_util"] = r["executor_cpu_s"] / (t * ctx.cores)
            layer[f"operators.{q}.shuffle_write_bytes"] = r["shuffle_write_bytes"]
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "e2e": {"latency_s.p50": pass_s, "rows_per_s": rows_per_pass / pass_s},
        "layer": layer,
        "sample_unit": "pass",
        "samples": passes,
        "summary": (
            f"query_mix: {rounds} rounds, pass {pass_s:.3f} s (sum of per-query medians); "
            + ", ".join(f"{q} {t:.3f}" for q, t in med.items()) + f"; passes {[round(p, 2) for p in passes]}"
        ),
    }
