"""Isolated warm-probe protocol (SCALE.md): fresh SparkSession, one
cold run, then N warm runs per query; report cold, warm median, and
warm spread. In-suite bench numbers carry GC/cache pressure from
neighbours (VERDICT r6/r7 root-causing showed 2-5x in-suite inflation
on heavy queries), so a query's own time is read from an isolated probe.

Usage:
  python tools/probe.py SF_DIR q1,q2,...        # 1 cold + 3 warm each
  python tools/probe.py SF_DIR q1 --warm 5
Prints one JSON object {query: {cold, median, spread, runs}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from kinesis_s3_spark.session import get_spark


def probe(spark, fn, sf_dir: str, warm: int) -> dict:
    def one() -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    cold = one()
    runs = [one() for _ in range(warm)]
    return {
        "cold": cold,
        "median": round(statistics.median(runs), 3),
        "spread": round(max(runs) - min(runs), 3),
        "runs": runs,
    }


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2].split(",")
    warm = int(sys.argv[sys.argv.index("--warm") + 1]) if "--warm" in sys.argv else 3
    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    q = entrymod.queries()
    out = {n: probe(spark, q[n], sf_dir, warm) for n in names}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
