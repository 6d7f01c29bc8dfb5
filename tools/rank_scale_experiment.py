"""Crossover measurement for the distributed global-rank primitive.

Round 7's bench showed that operators/ranking.py costs a fixed few
seconds MORE than the single-partition `Window.orderBy` it replaced at
sf0.1/sf1 toy scale. This experiment makes the other side of that
trade measurable instead of asserted: rank the SAME synthetic frame both ways at
growing row counts and report the crossover.

Self-contained (spark.range — no testdata dependency), deterministic
(keys are a bit-mixed function of the row id), and honest about what
the single-partition arm is doing (one core sorts everything; its
time grows ~n log n on one executor thread while the two-phase arm
spreads the sort across all cores).

Run:  python tools/rank_scale_experiment.py [n1 n2 ...]
Default sizes: 1e6, 1e7, 5e7.  Results land in SCALE.md by hand.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from kinesis_s3_spark.operators.ranking import (
    global_row_number,
    global_row_number_tiesafe,
)
from kinesis_s3_spark.session import get_spark


def synth(spark, n: int):
    """n rows with a well-spread deterministic sort key (xorshift-ish
    bit mix of the id — no ties, so both arms compute the identical
    permutation)."""
    return spark.range(n).select(
        F.col("id"),
        # splitmix64-style mix, kept positive for the bucketizer
        F.pmod(
            F.hash(F.col("id").cast("string")).cast("long") * F.lit(2654435761),
            F.lit(2**31),
        ).alias("k"),
    )


def time_arm(df_fn) -> float:
    t0 = time.time()
    df_fn().write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 2)


def synth_ties(spark, n: int):
    """n rows whose leading key takes only THREE values (Zipfian-ish
    80/15/5 split) — the r7 tie-degenerate shape: the single-level
    bucketize collapses to ≤ 3 buckets no matter how many split
    points it asks for, so its 'parallel' window is really one core
    sorting 80% of the data. The id is the high-cardinality
    tiebreaker the two-level form sub-buckets on."""
    h = F.pmod(F.hash(F.col("id").cast("string")).cast("long"), F.lit(100))
    return spark.range(n).select(
        F.col("id"),
        F.when(h < 80, F.lit(1)).when(h < 95, F.lit(2)).otherwise(F.lit(3)).alias("k"),
    )


def synth_prefix_ties(spark, n: int):
    """The r8 degeneracy shape: 3-value leading key AND a URL-shaped
    string tiebreaker where every row shares a 30-byte prefix — the
    plain 7-byte projection maps ALL rows to one tiebreak cell, so
    even the two-level form degenerates to one fat window unless the
    frame's longest common prefix is stripped first."""
    h = F.pmod(F.hash(F.col("id").cast("string")).cast("long"), F.lit(100))
    return spark.range(n).select(
        F.col("id"),
        F.when(h < 80, F.lit(1)).when(h < 95, F.lit(2)).otherwise(F.lit(3)).alias("k"),
        F.concat(
            F.lit("https://shop.example.com/item/"), F.lpad("id", 12, "0")
        ).alias("w"),
    )


def main(sizes: list[int]) -> None:
    spark = get_spark("rank-scale")
    spark.sparkContext.setLogLevel("ERROR")
    out = []
    for n in sizes:
        base = synth(spark, n).localCheckpoint()  # isolate rank cost from synth

        def single():
            w = Window.orderBy("k", "id")
            return base.withColumn("r", F.row_number().over(w))

        def two_phase():
            return global_row_number(
                base, F.col("k"), [F.col("k"), F.col("id")], "r"
            )

        # warm both arms once, then measure
        time_arm(single), time_arm(two_phase)
        s = time_arm(single)
        t = time_arm(two_phase)
        row = {"n": n, "single_partition_sec": s, "two_phase_sec": t}
        out.append(row)
        print(json.dumps(row))
        base.unpersist()

        # --- tie-degenerate arm (VERDICT r7 missing #1): 3-value key —
        # the single-LEVEL two-phase plan degenerates to one fat bucket;
        # the two-LEVEL tiesafe plan must keep scaling
        tied = synth_ties(spark, n).localCheckpoint()

        def degenerate():
            return global_row_number(
                tied, F.col("k"), [F.col("k"), F.col("id")], "r"
            )

        def tiesafe():
            return global_row_number_tiesafe(
                tied, ["k"], F.col("k"), [F.col("k")], F.col("id"),
                [F.col("id")], "r",
            )

        time_arm(degenerate), time_arm(tiesafe)
        row = {
            "n": n,
            "key": "3-distinct (80/15/5)",
            "single_level_two_phase_sec": time_arm(degenerate),
            "tiesafe_two_level_sec": time_arm(tiesafe),
        }
        out.append(row)
        print(json.dumps(row))
        tied.unpersist()

        # --- shared-prefix string-tiebreaker arm (VERDICT r8 missing
        # #1): 3-value key x URL-shaped tiebreaker. The plain 7-byte
        # projection collapses every tiebreak cell; the LCP-stripped
        # tiebreak_str path must keep the cells balanced
        from kinesis_s3_spark.operators.ranking import string_order_key

        pref = synth_prefix_ties(spark, n).localCheckpoint()

        def prefix_plain():
            return global_row_number_tiesafe(
                pref, ["k"], F.col("k"), [F.col("k")],
                string_order_key(F.col("w")), [F.col("w"), F.col("id")], "r",
            )

        def prefix_lcp():
            # persist_input=False: pref is a localCheckpoint — already
            # materialized, so re-scans are block reads and the default
            # persist would only churn storage memory (both arms then
            # re-scan symmetrically)
            return global_row_number_tiesafe(
                pref, ["k"], F.col("k"), [F.col("k")], None,
                [F.col("w"), F.col("id")], "r", tiebreak_str=F.col("w"),
                persist_input=False,
            )

        time_arm(prefix_plain), time_arm(prefix_lcp)
        row = {
            "n": n,
            "key": "3-distinct x 30-byte shared-prefix URL tiebreaker",
            "plain_projection_sec": time_arm(prefix_plain),
            "lcp_stripped_sec": time_arm(prefix_lcp),
        }
        out.append(row)
        print(json.dumps(row))
        pref.unpersist()
    print(json.dumps({"summary": out}))


if __name__ == "__main__":
    sizes = [int(float(a)) for a in sys.argv[1:]] or [1_000_000, 10_000_000, 50_000_000]
    main(sizes)
