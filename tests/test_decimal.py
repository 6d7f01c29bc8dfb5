"""The driver-side mirrors of Spark's double rounding and double →
decimal cast (operators/_decimal.py), pinned to Spark itself on seeded
doubles, on values placed at half points, and on the r·w products
PageRank's driver rounds form."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from kinesis_s3_spark.operators._decimal import round_half_up, to_decimal


def _doubles() -> list[float]:
    rng = random.Random(20261020)
    xs = [rng.uniform(-1.0, 1.0) for _ in range(4_000)]
    xs += [rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-18, 12) for _ in range(6_000)]
    for _ in range(1_000):  # at a half point of the 14th / 4th decimal
        sign = rng.choice(("", "-"))
        xs.append(float(f"{sign}0.{rng.randrange(10**14):014d}5"))
        xs.append(float(f"{sign}{rng.randrange(10**6)}.{rng.randrange(10**4):04d}5"))
    for _ in range(2_000):  # PageRank's round(r * w, 14), w = n / out_n
        out_n = rng.randint(1, 10**6)
        w = float(rng.randint(1, out_n)) / float(out_n)
        xs.append(round_half_up(rng.random(), 14) * w)
    return xs + [0.0, -0.0, 1e-15, -1e-15, 5e-15, -5e-15, 0.00005, -0.00005]


def test_driver_rounding_is_sparks(spark):
    xs = _doubles()
    got = (
        spark.createDataFrame(list(enumerate(xs)), "i int, x double")
        .repartition(2)  # no local-relation folding: the generated-code path
        .select(
            "i",
            F.round("x", 14).alias("r14"),
            F.round("x", 4).alias("r4"),
            F.col("x").cast("decimal(28,14)").alias("d14"),
        )
        .collect()
    )
    assert len(got) == len(xs)
    for i, r14, r4, d14 in got:
        x = xs[i]
        assert repr(r14) == repr(round_half_up(x, 14)), x
        assert repr(r4) == repr(round_half_up(x, 4)), x
        assert d14 == to_decimal(x, 14), x
