"""Embedding utility operators: invariants beyond the oracle gate, and
the k-center queries against the oracle on inputs without a seed."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entrymod
from kinesis_s3_spark.operators.embeddings import (
    emb_label_centroids,
    emb_normalize_quantize,
)
from tests.conftest import SF_SMOKE

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_correctness import compare  # noqa: E402


def test_quantize_norm_and_digest(spark):
    rows = emb_normalize_quantize(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.5 < r["l2_norm"] < 2.0  # corpus vectors are ~unit norm
        assert 0 < r["max_abs"] <= 1.0
        assert len(r["q_digest"]) == 32
    # deterministic across runs
    again = {r["vec_id"]: r["q_digest"] for r in emb_normalize_quantize(spark, SF_SMOKE).collect()}
    assert {r["vec_id"]: r["q_digest"] for r in rows} == again


def test_label_centroids_shape(spark):
    rows = emb_label_centroids(spark, SF_SMOKE).collect()
    labels = {r["label"] for r in rows}
    # every (label, pos) cell present exactly once, dim = 64
    assert len(rows) == len(labels) * 64
    n_by_label = {r["label"]: r["n"] for r in rows}
    assert all(n >= 1 for n in n_by_label.values())
    assert all(-1.0 <= r["centroid"] <= 1.0 for r in rows)


def test_kmeans_partitions_all_vectors(spark):
    """Every vector gets exactly one cluster; clusters come from the
    seeded id range; the result is a genuine partition (sizes sum to
    N) and non-degenerate (more than one non-empty cluster)."""
    from kinesis_s3_spark.operators.embeddings import K_CLUSTERS, emb_kmeans

    rows = emb_kmeans(spark, SF_SMOKE).collect()
    n_vecs = len({r["vec_id"] for r in rows})
    assert len(rows) == n_vecs  # one assignment per vector
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(K_CLUSTERS))
    assert len(clusters) > 1
    assert all(r["dist"] >= 0.0 for r in rows)


def test_kmeans_iterations_reduce_inertia(spark):
    """Lloyd's guarantee: total within-cluster distance under the
    final centroids is no worse than under the seed assignment (each
    step is a local improvement; rounding noise bounded by 1e-3)."""
    from kinesis_s3_spark.operators import embeddings as E

    final = sum(r["dist"] for r in E.emb_kmeans(spark, SF_SMOKE).collect())
    vv = (
        E.load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", E._vec_d(E.F.col("embedding")).alias("e"))
        .withColumn("ee", E._dot(E.F.col("e"), E.F.col("e")))
    )
    seeds = [
        (int(r["vec_id"]), [float(x) for x in r["e"]])
        for r in vv.filter(E.F.col("vec_id") < E.K_CLUSTERS).select("vec_id", "e").collect()
    ]
    seed_total = sum(
        r["dist"] for r in E._km_assign(vv, seeds, with_dist=True).collect()
    )
    assert final <= seed_total + 1e-3, (final, seed_total)


def test_power_iteration_matches_numpy(spark):
    """The engine's 2-round power iterate must match an independent
    NumPy implementation of the same algorithm (same seed, same
    per-round 6-dp rounding) to 1e-4 per component, and be unit-norm."""
    import numpy as np
    import pandas as pd

    from kinesis_s3_spark.operators.embeddings import (
        POWER_ITERS,
        _power_seed,
        emb_power_iteration,
    )
    from tests.conftest import SF_CORRECT

    got = {
        r["pos"]: r["component"]
        for r in emb_power_iteration(spark, SF_CORRECT).collect()
    }
    X = np.stack(
        pd.read_parquet(f"{SF_CORRECT}/embeddings.parquet")["embedding"].to_numpy()
    ).astype(np.float64)
    v = np.array(_power_seed())
    for _ in range(POWER_ITERS):
        w = np.round(X.T @ (X @ v), 6)
        v = np.round(w / np.round(np.sqrt((w * w).sum()), 6), 6)
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-4
    for p, comp in got.items():
        assert abs(comp - v[p]) < 1e-4, (p, comp, v[p])


def test_prototype_prune_drops_exactly_the_farthest_fifth(spark):
    """Per label: prune count == floor(0.2 * n), the pruned set is
    exactly the top-|prune| by (dist2 desc, vec_id), and every vector
    appears exactly once."""
    import math
    from collections import defaultdict

    import __spark_entry__ as entrymod
    from kinesis_s3_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    Q = entrymod.queries()
    rows = Q["emb_prototype_prune"](spark, SF_CORRECT).collect()
    n_vecs = load_table(spark, SF_CORRECT, "embeddings").count()
    assert len(rows) == n_vecs
    by_label = defaultdict(list)
    for r in rows:
        by_label[r["label"]].append(r)
    for lab, rs in by_label.items():
        k = math.floor(len(rs) * 0.2)
        pruned = [r for r in rs if r["prune"] == 1]
        assert len(pruned) == k, (lab, len(pruned), k)
        rs.sort(key=lambda r: (-r["dist2"], r["vec_id"]))
        assert all(r["prune"] == 1 for r in rs[:k])
        assert all(r["prune"] == 0 for r in rs[k:])


def test_kcenter_coreset_greedy_properties(spark):
    """k-center-greedy invariants on the real table: picks distinct,
    the coverage radius closed per round is NON-INCREASING (the
    farthest point can only get closer as centers accumulate), and
    every pick is genuinely the farthest point from its predecessor
    set (re-verified directly for round 1)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_CORRECT

    rows = sorted(
        entrymod.queries()["emb_kcenter_coreset"](spark, SF_CORRECT).collect(),
        key=lambda r: r["sel_order"],
    )
    assert [r["sel_order"] for r in rows] == list(range(len(rows)))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    radii = [r["radius_before"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    # round-1 pick == argmax rounded dist to the seed, min-id tie-break
    from pyspark.sql import functions as F

    from kinesis_s3_spark.operators.embeddings import _kc_dist, _vec_d
    from kinesis_s3_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    vv = emb.select("vec_id", _vec_d(F.col("embedding")).alias("e"))
    seed = vv.filter(F.col("vec_id") == 0).collect()[0]["e"]
    far = (
        vv.withColumn("d", _kc_dist(F.col("e"), [float(x) for x in seed]))
        .orderBy(F.col("d").desc(), F.col("vec_id"))
        .first()
    )
    assert far["vec_id"] == ids[1] and abs(far["d"] - rows[1]["radius_before"]) < 1e-9


def test_kc_min_dist_batch_equals_least_fold(spark):
    """The array-of-centers form (r9 plan fix) must equal the
    per-center _kc_dist LEAST fold bit-for-bit: same rounded per-term
    distances, min associative — a flip here would silently change
    every batched k-center pick."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.operators.embeddings import (
        _dot,
        _kc_dist,
        _kc_min_dist_batch,
    )

    dim = 16
    vecs = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                F.pmod(
                    F.hash(F.concat(F.col("id"), F.lit("_"), j)).cast("long"),
                    F.lit(2001),
                )
                - 1000
            ).cast("double")
            / 1000.0,
        ).alias("e"),
    )
    centers = [
        [((i * 37 + j * 11) % 2001 - 1000) / 1000.0 for j in range(dim)]
        for i in range(5)
    ]
    base = vecs.withColumn("ee", _dot(F.col("e"), F.col("e")))
    fold = None
    for c in centers:
        t = _kc_dist(F.col("e"), c)
        fold = t if fold is None else F.least(fold, t)
    got = base.select(
        "vec_id",
        _kc_min_dist_batch(F.col("e"), F.col("ee"), centers).alias("a"),
        fold.alias("b"),
    ).collect()
    for r in got:
        assert r["a"] == r["b"], (r["vec_id"], r["a"], r["b"])


def test_kc_min_dist_arrow_equals_batch(spark):
    """The r12 blocked Arrow kernel must reproduce the catalyst
    array-of-centers form value-for-value (same rounded per-center
    distances, same min) — the parity that lets the k-center queries
    ride numpy without moving a single pick."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.operators.embeddings import (
        _dot,
        _kc_min_dist_arrow,
        _kc_min_dist_batch,
    )

    dim = 16
    vecs = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                F.pmod(
                    F.hash(F.concat(F.col("id"), F.lit("_"), j)).cast("long"),
                    F.lit(2001),
                )
                - 1000
            ).cast("double")
            / 1000.0,
        ).alias("e"),
    )
    centers = [
        [((i * 37 + j * 11) % 2001 - 1000) / 1000.0 for j in range(dim)]
        for i in range(5)
    ]
    base = vecs.withColumn("ee", _dot(F.col("e"), F.col("e")))
    want = {
        r["vec_id"]: r["m"]
        for r in base.select(
            "vec_id", _kc_min_dist_batch(F.col("e"), F.col("ee"), centers).alias("m")
        ).collect()
    }
    got = {
        r["vec_id"]: r["mind"]
        for r in _kc_min_dist_arrow(vecs, centers).collect()
    }
    assert got == want


def test_kcenter_driver_round_matches_spark_round():
    """Driver rounding must mirror Catalyst's F.round (BigDecimal.valueOf
    HALF_UP on the double's shortest repr) on adversarial values — the
    batched k-center re-greedy compares driver-rounded against
    oracle-rounded values."""
    from kinesis_s3_spark.operators._decimal import round_half_up

    def r4(x: float) -> float:
        return round_half_up(x, 4)

    # known HALF_UP behaviors incl. repr-boundary doubles
    assert r4(0.00005) == 0.0001  # repr('5e-05') rounds up
    assert r4(0.12344999999999999) == 0.1234
    assert r4(2.5e-5) == 0.0
    assert r4(-0.00005) == -0.0001  # away from zero, like BigDecimal HALF_UP
    assert r4(123.456789) == 123.4568


def test_emb_drift_mmd_null_split(spark):
    """emb_drift_mmd on the even/odd vec_id split of ONE corpus: the
    two slices are draws from the same distribution, so the linear-
    kernel MMD^2 must sit at its null scale — not flagged as drifted."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["emb_drift_mmd"](spark, SF_SMOKE).collect()[0]
    assert row["n_a"] + row["n_b"] > 0
    assert abs(row["n_a"] - row["n_b"]) <= 1
    assert row["mmd2"] >= 0
    assert row["drifted"] is False
    assert row["drift_ratio"] < 2.0


def test_lloyd_round_means_are_exact_decimal(spark):
    """Pin the r13 posexplode mean-update path (the r12 wide-aggregate
    form was bisected as a 2x local regression and reverted): one Lloyd
    round's centroid means must equal the exact DECIMAL(38,12) mean of
    the assigned vectors — HALF_UP cast per element, exact decimal sum
    (order-free), double divide, ROUND 6 — for every dim."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.operators._decimal import to_decimal
    from kinesis_s3_spark.operators.embeddings import _dot, lloyd_centroids

    vecs = {
        0: [0.1, 0.2, -0.3],
        1: [0.25, -0.125, 0.5],
        2: [0.11, 0.19, -0.29],
        3: [0.26, -0.13, 0.52],
        4: [0.09, 0.21, -0.31],
    }
    vv = (
        spark.createDataFrame(
            [(k, v) for k, v in vecs.items()], "vec_id long, e array<double>"
        )
        .withColumn("ee", _dot(F.col("e"), F.col("e")))
        .cache()
    )
    cents = lloyd_centroids(vv, 2, 1)

    # replicate the assignment (rounded squared distance, cid tie-break)
    def d2(a, b):
        import math

        ee = sum(x * x for x in a)
        cc = sum(x * x for x in b)
        dot = sum(x * y for x, y in zip(a, b))
        v = ee - 2 * dot + cc
        return math.trunc(v * 1e4 + math.copysign(0.5, v)) / 1e4

    seeds = {0: vecs[0], 1: vecs[1]}
    assign = {
        vid: min(seeds, key=lambda c: (d2(v, seeds[c]), c)) for vid, v in vecs.items()
    }
    for cid, got in cents:
        members = [vecs[vid] for vid, a in assign.items() if a == cid]
        for pos, got_x in enumerate(got):
            s = sum(to_decimal(m[pos], 12) for m in members)
            import math

            mean = float(s) / len(members)
            want = math.trunc(mean * 1e6 + math.copysign(0.5, mean)) / 1e6
            assert got_x == want, (cid, pos, got_x, want)


@pytest.mark.parametrize(
    "where", ["false", "vec_id <> 0"], ids=["empty", "no_vec_id_0"]
)
@pytest.mark.parametrize("name", ["emb_kcenter_coreset", "emb_kcenter_batched"])
def test_kcenter_matches_oracle_without_a_seed(spark, tmp_path, name, where):
    """Both k-center queries seed with vec_id 0. Without it they answer
    as the oracle does: the coreset selects nothing, the batched query
    keeps its first pick with no corpus radius."""
    con = duckdb.connect()
    path = f"{tmp_path}/embeddings.parquet"
    con.execute(f"COPY (SELECT * FROM '{SF_SMOKE}/embeddings.parquet' WHERE {where}) TO '{path}'")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    out = compare(name, entrymod.queries()[name](spark, str(tmp_path)), entrymod.oracle_sql()[name], con)
    assert out["rows_match"] and out["cols_match"] and out["values_match"], out
