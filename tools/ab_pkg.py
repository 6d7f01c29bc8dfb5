"""Interleaved single-session A/B of FULL QUERIES: old (renamed package
copy from a pinned worktree) vs new (the tree), ABAB warm rounds in ONE
SparkSession so host-window drift hits both arms equally.

It covers query families whose implementation spans several modules
(ann.py + embeddings.py + graph.py): the old arm is a complete package
copy with every internal import rewritten to a distinct top-level name,
so the two implementations coexist with separate registries and both
ship to the Python workers as separate zips.

Setup (done once by the session, recorded in OPTIMIZATION_r13.md):
  git worktree add /tmp/wt_pre10 <commit>
  cp -r /tmp/wt_pre10/kinesis_s3_spark /tmp/oldpkg/root/ks3old
  sed -i 's/kinesis_s3_spark/ks3old/g' all .py files; zip to ks3old.zip

Usage:
  python tools/ab_pkg.py SF_DIR q1,q2 [rounds]
"""

from __future__ import annotations

import statistics
import sys
import time

import os

OLD_ROOT = os.environ.get("AB_OLD_ROOT", "/tmp/oldpkg/root")
OLD_PKG = os.environ.get("AB_OLD_PKG", "ks3old")
OLD_ZIP = os.environ.get("AB_OLD_ZIP", "/tmp/oldpkg/ks3old.zip")

sys.path.insert(0, "/root/repo")
sys.path.insert(0, OLD_ROOT)

import __spark_entry__ as entrymod  # noqa: E402  (imports ALL new operator modules)
from kinesis_s3_spark.operators.registry import QUERIES as NEW_Q  # noqa: E402
from kinesis_s3_spark.session import get_spark  # noqa: E402

for _m in [m.replace("kinesis_s3_spark", OLD_PKG) for m in entrymod._OPTIONAL_MODULES]:
    try:
        __import__(_m)
    except ImportError:
        pass
OLD_Q = __import__(f"{OLD_PKG}.operators.registry", fromlist=["QUERIES"]).QUERIES  # noqa: E402

SF = sys.argv[1]
NAMES = sys.argv[2].split(",")
ROUNDS = int(sys.argv[3]) if len(sys.argv) > 3 else 4

spark = get_spark("ab_pkg")
spark.sparkContext.setLogLevel("ERROR")
entrymod._ship_package(spark)
spark.sparkContext.addPyFile(OLD_ZIP)


def timed(fn) -> float:
    t0 = time.time()
    fn(spark, SF).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


for name in NAMES:
    old_fn, new_fn = OLD_Q[name], NEW_Q[name]
    spark.sparkContext.setJobDescription(f"ab:{name}")
    timed(old_fn)
    timed(new_fn)  # one cold warmup each
    olds, news = [], []
    for _ in range(ROUNDS):
        olds.append(timed(old_fn))
        news.append(timed(new_fn))
    print(
        f"{name}: old median {statistics.median(olds)} {olds} | "
        f"new median {statistics.median(news)} {news}",
        flush=True,
    )
