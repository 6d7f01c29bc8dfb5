"""Approximate-nearest-neighbor search over the embeddings table
(north-star extension; BASELINE.json).

Two paths, as SURVEY §7 prescribes:
- brute-force cosine top-k — the exact baseline every ANN variant is
  measured against (fine up to ~10M vectors × small query sets);
- multi-table random-hyperplane LSH (classic E2LSH shape): L=16
  independent tables × b=8 bits each. Signatures for all 128 planes
  come from ONE vectorized Arrow batch matmul per partition (the same
  thing a 100 TB system would do — BLAS, not 128 codegen'd folds);
  queries multi-probe each table's bucket plus all hamming ≤ 2
  neighbors (37 probes/table), so candidates come from an equi-join
  on (table, bucket) — never a cross join.

Recall is a MEASURED, GATED quantity, not a hope: ``ann_recall_lsh``
computes per-query recall@10 against the brute-force truth inside the
engine (and the DuckDB oracle recomputes the identical number);
tests/test_ann.py asserts ≥ 0.9 at sf0.1. With b=8/L=16/radius-2 the
analytic recall for a neighbor at cosine 0.3 (per-bit flip p≈0.40) is
1-(1-0.32)^16 ≈ 0.998 — parameters sized for the HARD case where
neighbors are barely above the noise floor, as in this synthetic
corpus (true top-10 cosines ≈ 0.3-0.42).

The hyperplanes are DERIVED FROM md5 (seeded, no RNG) so the DuckDB
oracle regenerates bit-identical planes in SQL and the gate checks the
full pipeline: planes → signs → buckets → probes → candidate join →
top-k. Sign(dot) is fp-robust across engines: a flip would need |dot|
within a few ulp of zero.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window

from kinesis_s3_spark.operators.dedup import cosine_sim, dedup_embedding_cosine
from kinesis_s3_spark.operators.embeddings import (
    _DEC,
    _KM_ASSIGN_SQL,
    _KM_UPDATE_SQL,
    _dot,
    _vec_d,
    kmeans_vv,
    lloyd_centroids,
)
from kinesis_s3_spark.operators.registry import query
from kinesis_s3_spark.sources.tables import load_table

DIM = 64
N_TABLES = 16  # L independent hash tables
BITS_PER_TABLE = 8  # b bits → 256 buckets/table
N_PLANES = N_TABLES * BITS_PER_TABLE  # 128 total hyperplanes
N_QUERIES = 5  # query set = vec_id 0..4
TOP_K = 10


def _plane_component(m: int, k: int) -> float:
    """Deterministic pseudo-random component in [-1, 1]:
    md5(m*DIM+k) → 60-bit int → mod 2001 → scaled. The DuckDB oracle
    computes the identical expression from the same md5."""
    h = int(hashlib.md5(str(m * DIM + k).encode()).hexdigest()[:15], 16)
    return ((h % 2001) - 1000) / 1000.0


_PLANES_MATRIX: np.ndarray | None = None


def planes_matrix() -> np.ndarray:
    """(DIM, N_PLANES) float64 — cached per process (executors build it
    once; ~8k md5 calls, negligible)."""
    global _PLANES_MATRIX
    if _PLANES_MATRIX is None:
        _PLANES_MATRIX = np.array(
            [[_plane_component(m, k) for m in range(N_PLANES)] for k in range(DIM)],
            dtype=np.float64,
        )
    return _PLANES_MATRIX


# DataType object (not a DDL string): parsing "array<int>" would need an
# active SparkSession at import time, which operator modules must not assume
@F.pandas_udf(ArrayType(IntegerType()))
def lsh_table_buckets(emb: pd.Series) -> pd.Series:
    """All L bucket ids per vector in one Arrow batch: (n, DIM) matmul
    (DIM, 128) → sign bits → pack 8 bits per table. This is the linear
    signature pass — no joins, no per-row Python."""
    M = np.stack(emb.to_numpy()).astype(np.float64)  # (n, DIM)
    bits = (M @ planes_matrix()) >= 0.0  # (n, 128)
    weights = np.tile(1 << np.arange(BITS_PER_TABLE), N_TABLES)  # bit j → 2^j
    packed = (bits * weights).reshape(-1, N_TABLES, BITS_PER_TABLE).sum(axis=2)
    return pd.Series(list(packed.astype(np.int32)))


def _probe_exprs(bucket: Column) -> Column:
    """All buckets within hamming ≤ 2 of ``bucket`` (1 + 8 + 28 = 37
    probes) — a literal expression array, unrolled at plan time."""
    probes = [bucket]
    for i in range(BITS_PER_TABLE):
        probes.append(bucket.bitwiseXOR(F.lit(1 << i)))
    for i in range(BITS_PER_TABLE):
        for j in range(i + 1, BITS_PER_TABLE):
            probes.append(bucket.bitwiseXOR(F.lit((1 << i) | (1 << j))))
    return F.array(*probes)


# DuckDB-side plane/bucket pipeline shared by the two LSH oracles.
# planes: (m, p) — plane m as a DOUBLE list; buckets: (vec_id, t, bucket).
_LSH_SIG_SQL = f"""
    planes AS (
      SELECT m,
             [(((('0x' || substr(md5(CAST(m*{DIM}+k AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000) / 1000.0)
              for k in range(0, {DIM})] AS p
      FROM (SELECT unnest(range(0, {N_PLANES})) AS m)
    ),
    bits AS (
      SELECT e.vec_id, p.m // {BITS_PER_TABLE} AS t, p.m % {BITS_PER_TABLE} AS j,
             CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.p) >= 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e, planes p
    ),
    sig AS (
      SELECT vec_id, t, CAST(SUM(bit << j) AS INT) AS bucket
      FROM bits GROUP BY vec_id, t
    )
"""

# probe list per query bucket: hamming ≤ 2 (37 probes per table)
_PROBES_SQL = f"""
    qprobes AS (
      SELECT q_id, t, unnest(
               [bucket]
               || [xor(bucket, 1 << i) for i in range(0, {BITS_PER_TABLE})]
               || flatten([[xor(bucket, (1 << i) | (1 << j))
                            for j in range(i+1, {BITS_PER_TABLE})]
                           for i in range(0, {BITS_PER_TABLE})])
             ) AS probe
      FROM (SELECT vec_id AS q_id, t, bucket FROM sig WHERE vec_id < {N_QUERIES})
    )
"""

_LSH_TOPK_SQL = f"""
    WITH {_LSH_SIG_SQL},
    {_PROBES_SQL},
    cand AS (
      SELECT DISTINCT qp.q_id, s.vec_id
      FROM sig s JOIN qprobes qp ON s.t = qp.t AND s.bucket = qp.probe
      WHERE s.vec_id != qp.q_id
    ),
    qe AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT c.q_id, c.vec_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS cosine
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id JOIN qe q ON c.q_id = q.q_id
    )
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
"""


def _lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark-side multi-table LSH top-k pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    # one signature pass; cached because the query side re-reads it
    sig = (
        emb.withColumn("buckets", lsh_table_buckets(F.col("embedding")))
        .select("vec_id", "embedding", F.posexplode("buckets").alias("t", "bucket"))
    )
    q = F.broadcast(
        sig.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            "t",
            F.explode(_probe_exprs(F.col("bucket"))).alias("probe"),
        )
    )
    cand = (
        sig.join(
            q,
            (sig["t"] == q["t"]) & (sig["bucket"] == q["probe"]) & (sig["vec_id"] != q["q_id"]),
        )
        .select("q_id", "vec_id")
        .distinct()
    )
    qe = F.broadcast(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    )
    scored = (
        cand.join(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .join(qe, "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qe")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= TOP_K)


@query(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT {TOP_K}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for one query vector: broadcast the query,
    one fused scan computes scores, TakeOrdered keeps k — no global
    sort, no shuffle of the vector table."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qe")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


_BRUTE_MULTI_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES})
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q.q_id, e.vec_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                        e.vec_id) AS rank
      FROM embeddings e JOIN q ON e.vec_id != q.q_id
    ) WHERE rank <= {TOP_K}
"""


@query("ann_multi_query_topk", oracle=_BRUTE_MULTI_SQL)
def ann_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact top-k: broadcast the query set, score all
    (query, vector) combos in one pass, per-query Window keeps k.
    Scale: cost is |queries| × |vectors| — the reason the LSH variant
    below exists for large query sets."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )
    scored = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qe")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= TOP_K)


@query("ann_lsh_bucketed", oracle=_LSH_TOPK_SQL)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multi-probe LSH ANN (see module docstring): 16
    tables × 8 bits, hamming ≤ 2 probing, candidates from a
    (table, bucket) equi-join, exact cosine + per-query top-10 over
    candidates only.

    Scale: the signature pass is one Arrow-batched matmul per
    partition (linear); the candidate join touches 37/256 of each
    table's buckets per query. On clustered real-world embeddings the
    candidate set concentrates in the query's cluster; on this
    synthetic near-isotropic corpus it approaches the corpus — which
    is exactly what the gated recall query exists to make visible."""
    return _lsh_topk(spark, sf_dir)


# --- IVF (inverted-file) variant ---------------------------------------------

N_CENTROIDS = 16
N_PROBE = 6  # centroids probed per query (tuned for recall ≥ 0.9 at sf0.1)

_IVF_TOPK_SQL = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 4) DESC,
                          c.cid) AS rn
        FROM embeddings e, cent c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT q_id, cid FROM (
        SELECT q.vec_id AS q_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.ce::DOUBLE[]), 4) DESC,
                          c.cid) AS rn
        FROM embeddings q, cent c WHERE q.vec_id < {N_QUERIES}
      ) WHERE rn <= {N_PROBE}
    ),
    cand AS (
      SELECT DISTINCT qp.q_id, a.vec_id
      FROM assign a JOIN qprobe qp ON a.cid = qp.cid
      WHERE a.vec_id != qp.q_id
    ),
    scored AS (
      SELECT c.q_id, c.vec_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                  JOIN embeddings q ON c.q_id = q.vec_id
    )
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
"""


def _ivf_assignment(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(assignment, centroids): nearest-centroid id per vector via one
    broadcast scoring pass + per-vector top-1 window. Cosines are
    rounded to 4 dp BEFORE the argmax (both engines) so assignment
    never depends on sub-ulp float differences; ties break on cid."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = F.broadcast(
        emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
        )
    )
    scored = emb.crossJoin(cent).select(
        "vec_id",
        "cid",
        F.round(cosine_sim(F.col("embedding"), F.col("ce")), 4).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cid"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return ranked, emb


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked, emb = _ivf_assignment(spark, sf_dir)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cid")
    qprobe = F.broadcast(
        ranked.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= N_PROBE)).select(
            F.col("vec_id").alias("q_id"), "cid"
        )
    )
    cand = (
        assign.join(qprobe, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    qe = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )
    scored = (
        cand.join(emb, "vec_id")
        .join(qe, "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qe")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= TOP_K)


@query("ann_ivf_topk", oracle=_IVF_TOPK_SQL)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (the FAISS-IVF shape): assign every vector to
    its nearest of 16 seeded centroids (one broadcast scoring pass +
    top-1 window), queries probe their 6 nearest centroid lists, exact
    cosine + top-10 over candidates only.

    Centroids are a deterministic seed sample (vec_id < 16) rather
    than k-means-refined — the assignment/probe/scoring plumbing, which
    is what runs at scale, is identical; refinement would only move the
    centroids. Scale: assignment is linear (N × 16 broadcast scores,
    no shuffle of the vector table beyond the top-1 window on vec_id);
    candidates come from an equi-join on centroid id; cost/recall tunes
    via N_CENTROIDS (shrinks lists) × N_PROBE (widens search).
    ann_recall_ivf gates the measured recall like the LSH path."""
    return _ivf_topk(spark, sf_dir)


@query(
    "ann_recall_ivf",
    oracle=f"""
    WITH truth AS ({_BRUTE_MULTI_SQL}),
    approx AS ({_IVF_TOPK_SQL})
    SELECT t.q_id,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_10
    FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
    GROUP BY t.q_id
    """,
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF path vs brute-force truth, per query —
    tests assert min ≥ 0.9 at sf0.1 (near-isotropic vectors are the
    worst case for IVF: neighbors spread across centroid lists, which
    is why N_PROBE=6 of 16; clustered real-world embeddings
    concentrate, allowing far smaller probe fractions)."""
    truth = ann_multi_query_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = _ivf_topk(spark, sf_dir).select("q_id", F.col("vec_id").alias("a_vec"))
    hits = truth.join(
        approx,
        (truth["q_id"] == approx["q_id"]) & (truth["vec_id"] == approx["a_vec"]),
        "left",
    ).select(truth["q_id"], approx["a_vec"])
    return hits.groupBy("q_id").agg(
        F.round(F.count("a_vec").cast("double") / TOP_K, 4).alias("recall_at_10")
    )


@query(
    "ann_recall_lsh",
    oracle=f"""
    WITH truth AS ({_BRUTE_MULTI_SQL}),
    approx AS ({_LSH_TOPK_SQL})
    SELECT t.q_id,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_10
    FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
    GROUP BY t.q_id
    """,
)
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH path measured against brute-force truth,
    per query — the gated number that keeps `ann_lsh_bucketed`'s
    parameters honest (tests assert min ≥ 0.9 at sf0.1)."""
    truth = ann_multi_query_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = _lsh_topk(spark, sf_dir).select("q_id", F.col("vec_id").alias("a_vec"))
    hits = truth.join(
        approx,
        (truth["q_id"] == approx["q_id"]) & (truth["vec_id"] == approx["a_vec"]),
        "left",
    ).select(truth["q_id"], approx["a_vec"])
    return hits.groupBy("q_id").agg(
        F.round(F.count("a_vec").cast("double") / TOP_K, 4).alias("recall_at_10")
    )


# --- embedding near-dup pairs at scale (LSH-bucketed) ------------------------

EMB_DEDUP_THRESHOLD = 0.4  # this corpus's near-dup band tops out at ~0.51

# candidate pairs = share an exact bucket OR a hamming-1 neighbor in ANY
# of the 16 tables. Probing exists for THIS corpus: its "duplicates" sit
# at the noise floor (cosine 0.43-0.51, per-bit flip p≈0.36 → exact-bucket
# pair recall ~0.36); production near-dups (cosine ≥ 0.85, p≈0.12) hit
# ≥ 0.99 recall with NO probes, and the probe arm can be dropped.
_EMB_PAIR_CAND_SQL = f"""
    probes AS (
      SELECT vec_id, t,
             unnest([bucket] || [xor(bucket, 1 << i) for i in range(0, {BITS_PER_TABLE})]) AS probe
      FROM sig
    ),
    pcand AS (
      SELECT DISTINCT p.vec_id AS v1, s.vec_id AS v2
      FROM probes p JOIN sig s ON p.t = s.t AND p.probe = s.bucket AND p.vec_id < s.vec_id
    )
"""

_EMB_DEDUP_LSH_SQL = f"""
    WITH {_LSH_SIG_SQL},
    {_EMB_PAIR_CAND_SQL}
    SELECT c.v1, c.v2,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
    FROM pcand c
    JOIN embeddings a ON c.v1 = a.vec_id
    JOIN embeddings b ON c.v2 = b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
          >= {EMB_DEDUP_THRESHOLD}
"""


def _cosine_verify_arrow(pairs_e: DataFrame, threshold: float) -> DataFrame:
    """(v1, v2, cosine) for candidate rows carrying raw vectors e1/e2,
    keeping only rounded cosine >= threshold — the exact-verify stage of
    the LSH dedup paths as ONE vectorized Arrow pass.

    r12 optimization (guide §4.2): the former per-row catalyst fold
    (``F.round(cosine_sim(e1, e2), 4)``) evaluated three 64-dim
    higher-order-function folds per candidate — ~900k candidates at
    sf0.1 for the noise-floor variant, ~100× that at sf1 — and
    dominated both LSH dedup queries. Float parity with the oracle
    (the _pq_rank_arrow convention): dot/n1²/n2² accumulate in
    ASCENDING dim order (the catalyst/DuckDB list fold), cosine =
    dot/(sqrt·sqrt) with the same IEEE ops, rounding is
    trunc(x·1e4 ± 0.5)/1e4 — DuckDB's ROUND on DOUBLE exactly."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E1 = np.stack(pdf["e1"].to_numpy()).astype(np.float64)
            E2 = np.stack(pdf["e2"].to_numpy()).astype(np.float64)
            d = E1.shape[1]
            n = len(pdf)
            dot = np.zeros(n)
            n1 = np.zeros(n)
            n2 = np.zeros(n)
            for j in range(d):  # sequential dim order — see docstring
                dot += E1[:, j] * E2[:, j]
                n1 += E1[:, j] * E1[:, j]
                n2 += E2[:, j] * E2[:, j]
            c = dot / (np.sqrt(n1) * np.sqrt(n2))
            c = np.trunc(c * 1e4 + np.copysign(0.5, c)) / 1e4
            m = c >= threshold
            yield pd.DataFrame(
                {
                    "v1": pdf["v1"].to_numpy()[m],
                    "v2": pdf["v2"].to_numpy()[m],
                    "cosine": c[m],
                }
            )

    return pairs_e.select("v1", "v2", "e1", "e2").mapInPandas(
        gen, "v1 long, v2 long, cosine double"
    )


def _emb_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared LSH-candidate near-dup pair pipeline (Spark side of
    _EMB_DEDUP_LSH_SQL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # cache the signature frame: it feeds BOTH sides of the candidate
    # self-join, and without the cache the Arrow matmul UDF pass runs
    # twice (the minhash/simhash self-join rule, dedup.py:188)
    sig = (
        emb.withColumn("buckets", lsh_table_buckets(F.col("embedding")))
        .select("vec_id", F.posexplode("buckets").alias("t", "bucket"))
        .cache()
    )
    probes = sig.select(
        F.col("vec_id").alias("v1"),
        F.col("t").alias("pt"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(BITS_PER_TABLE)],
            )
        ).alias("probe"),
    )
    cand = (
        probes.join(
            sig.select(F.col("vec_id").alias("v2"), "t", F.col("bucket").alias("b2")),
            (F.col("pt") == F.col("t"))
            & (F.col("probe") == F.col("b2"))
            & (F.col("v1") < F.col("v2")),
        )
        .select("v1", "v2")
        .distinct()
    )
    e1 = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    e2 = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    return _cosine_verify_arrow(
        cand.join(e1, "v1").join(e2, "v2"), EMB_DEDUP_THRESHOLD
    )


@query("dedup_embedding_lsh", oracle=_EMB_DEDUP_LSH_SQL)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup PAIRS at corpus scale — the production path
    that replaces the guarded all-pairs `dedup_embedding_cosine`
    (dedup.py): candidates only from vectors sharing an LSH bucket
    (hamming ≤ 1, any of 16 tables), exact cosine verify + threshold
    on candidates only. The whole pipeline — md5-seeded planes →
    signatures → bucket equi-join → verify — is recomputed by the
    DuckDB oracle, so the gate checks it end-to-end.

    Scale: the signature pass is one Arrow matmul per partition
    (linear); candidates come from a (table, bucket) equi-join whose
    output follows TRUE near-dup density, never corpus² — bucket keys
    are sign-pattern-uniform on isotropic noise, and duplicate mass
    concentrates in shared buckets by construction. On this synthetic
    noise-floor corpus the hamming-1 probe arm inflates candidates
    (measured + gated by dedup_recall_embedding_lsh); at production
    thresholds it can be dropped (see _EMB_PAIR_CAND_SQL note).
    100 TB: same plan; monster buckets (true dup explosions) get the
    band-key salt documented in dedup.py."""
    return _emb_lsh_pairs(spark, sf_dir)


@query(
    "dedup_recall_embedding_lsh",
    oracle=f"""
    WITH truth AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
            >= {EMB_DEDUP_THRESHOLD}
    ),
    approx AS ({_EMB_DEDUP_LSH_SQL})
    SELECT COUNT(*) AS n_true,
           COUNT(a.v1) AS n_found,
           ROUND(CAST(COUNT(a.v1) AS DOUBLE) / COUNT(*), 4) AS pair_recall
    FROM truth t LEFT JOIN approx a ON t.v1 = a.v1 AND t.v2 = a.v2
    """,
)
def dedup_recall_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair recall of the LSH dedup path vs the exact all-pairs truth
    (the guarded oracle anchor) — the measured number that keeps
    `dedup_embedding_lsh`'s parameters honest, mirroring
    ann_recall_lsh. tests/test_ann.py asserts ≥ 0.9. Runs the
    quadratic truth, so it inherits the EMBEDDING_PAIRWISE_MAX_ROWS
    guard — a gate-scale measurement, not a production operator."""
    truth = dedup_embedding_cosine(spark, sf_dir).select("v1", "v2")
    approx = _emb_lsh_pairs(spark, sf_dir).select(
        F.col("v1").alias("a1"), F.col("v2").alias("a2")
    )
    hits = truth.join(
        approx, (truth["v1"] == approx["a1"]) & (truth["v2"] == approx["a2"]), "left"
    )
    return hits.agg(
        F.count("*").alias("n_true"),
        F.count("a1").alias("n_found"),
        F.round(F.count("a1").cast("double") / F.count("*"), 4).alias("pair_recall"),
    )


# --- k-means-refined IVF ------------------------------------------------------
#
# ann_ivf_topk uses raw seed vectors (vec_id < 16) as centroids; this
# variant runs the REAL IVF training step — emb_kmeans's Lloyd loop at
# k=16 — and feeds the refined centroids into the identical
# assignment/probe/score plumbing, demonstrating that the two
# operators compose. The coarse quantizer is euclidean (the k-means
# training metric, as in FAISS IVF); final candidate scoring stays
# cosine. The DuckDB oracle unrolls both Lloyd rounds (the emb_kmeans
# CTE templates at k=16) and the probe/score pipeline, so the gate
# checks train → assign → probe → score end-to-end.

IVF_KM_K = 16
IVF_KM_ITERS = 2

_IVFKM_CENT_SQL = (
    f"""
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vv AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM v),
    c0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {IVF_KM_K}),
    """
    + _KM_ASSIGN_SQL.format(a="a0", c="c0", dist_col="", vv="vv")
    + ","
    + _KM_UPDATE_SQL.format(f="f1", a="a0", m="m1", c="c1", v="v")
    + ","
    + _KM_ASSIGN_SQL.format(a="a1", c="c1", dist_col="", vv="vv")
    + ","
    + _KM_UPDATE_SQL.format(f="f2", a="a1", m="m2", c="c2", v="v")
)

_IVFKM_TOPK_SQL = (
    "WITH "
    + _IVFKM_CENT_SQL
    + ","
    + _KM_ASSIGN_SQL.format(a="assign", c="c2", dist_col="", vv="vv")
    + f""",
    qprobe AS (
      SELECT vec_id AS q_id, cid FROM (
        SELECT vv.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vv.vec_id
                 ORDER BY ROUND(vv.ee - 2 * list_dot_product(vv.e, c.c)
                                + list_dot_product(c.c, c.c), 4) ASC, c.cid
               ) AS rn
        FROM vv, c2 c WHERE vv.vec_id < {N_QUERIES}
      ) WHERE rn <= {N_PROBE}
    ),
    cand AS (
      SELECT DISTINCT qp.q_id, a.vec_id
      FROM assign a JOIN qprobe qp ON a.cid = qp.cid
      WHERE a.vec_id != qp.q_id
    ),
    scored AS (
      SELECT c.q_id, c.vec_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                  JOIN embeddings q ON c.q_id = q.vec_id
    )
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
"""
)


def _ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vv = kmeans_vv(spark, sf_dir)
    cents = lloyd_centroids(vv, IVF_KM_K, IVF_KM_ITERS)
    # r12: probe ranks from the blocked Arrow ranker (max needed rank
    # is N_PROBE; rn == 1 is the assignment subset) — the catalyst
    # _km_rank broadcast-join + window pass is retired
    ranked = _knn_rank_arrow(vv, cents, N_PROBE)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cid")
    qprobe = F.broadcast(
        ranked.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= N_PROBE)).select(
            F.col("vec_id").alias("q_id"), "cid"
        )
    )
    cand = (
        assign.join(qprobe, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qe = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )
    scored = (
        cand.join(emb, "vec_id")
        .join(qe, "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine_sim(F.col("embedding"), F.col("qe")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= TOP_K)


@query("ann_ivf_kmeans_topk", oracle=_IVFKM_TOPK_SQL)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-trained centroids (see block comment):
    Lloyd's at k=16 × 2 rounds (emb_kmeans's exact loop), then the
    seeded IVF's assignment/probe/score plumbing under the refined
    centroids at the SAME probe count (6 of 16) — recall gated by
    ann_recall_ivf_kmeans against brute force, compared in tests
    against the seeded variant's.

    Scale: training adds 2×(scan + |k|×dim shuffle) over the seeded
    variant (amortized across every query the index then serves);
    serving cost is identical — equi-join on centroid id, exact
    scoring only on probed lists."""
    return _ivf_kmeans_topk(spark, sf_dir)


@query(
    "ann_recall_ivf_kmeans",
    oracle=f"""
    WITH truth AS ({_BRUTE_MULTI_SQL}),
    approx AS ({_IVFKM_TOPK_SQL})
    SELECT t.q_id,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_10
    FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
    GROUP BY t.q_id
    """,
)
def ann_recall_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the k-means-refined IVF path vs brute-force truth —
    the composition's quality gate (tests assert min ≥ 0.9 at sf0.1
    and mean ≥ the seeded variant's mean at equal probe count)."""
    truth = ann_multi_query_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = _ivf_kmeans_topk(spark, sf_dir).select("q_id", F.col("vec_id").alias("a_vec"))
    hits = truth.join(
        approx,
        (truth["q_id"] == approx["q_id"]) & (truth["vec_id"] == approx["a_vec"]),
        "left",
    ).select(truth["q_id"], approx["a_vec"])
    return hits.groupBy("q_id").agg(
        F.round(F.count("a_vec").cast("double") / TOP_K, 4).alias("recall_at_10")
    )


# --- strict (production-threshold) embedding near-dup ------------------------
#
# dedup_embedding_lsh above runs at this corpus's noise floor
# (threshold 0.4, hamming-1 probe arm), which inflates candidates — the
# honest worst case. This variant is the PRODUCTION configuration:
# threshold 0.85, exact-bucket candidates only (no probe arm), and a
# finer 8-table × 16-bit packing of the SAME 128 md5-seeded planes
# (m // 16 = table, m % 16 = bit), so random-pair bucket collisions
# drop from ~1/16 to ~8/65536 of pairs while a true near-dup at
# cosine ≥ 0.85 (per-bit flip p ≤ 0.12) still shares ≥ 1 exact bucket
# with probability ≥ 1 - (1-(1-p)^16)^8 ≈ 0.98.
#
# The synthetic corpus has NO pairs above 0.85 (its near-dup band tops
# out at ~0.51), so the operator PLANTS deterministic twins: for
# vec_id < PLANT_N, a copy at vec_id + PLANT_OFFSET with each component
# scaled by (1 + 0.05 · md5-noise) — cosine(v, twin) ≈ 0.9996. Both
# engines construct the identical augmented table from the identical
# md5 stream, so the gate checks plant → signature → bucket join →
# verify end-to-end, and the result is ~PLANT_N true pairs instead of
# a vacuous empty frame.

STRICT_THRESHOLD = 0.85
STRICT_TABLES = 8
STRICT_BITS = 16  # 8 × 16 repacks the same N_PLANES=128 hyperplanes
PLANT_N = 100
PLANT_OFFSET = 1_000_000

# per-element twin noise: x · (1 + 0.05 · n), n = md5('t'||idx) mapped
# to [-1, 1] exactly like _plane_component (different string domain so
# the twin stream never collides with the plane stream)
_TWIN_EXPR = """
transform(embedding, (x, k) ->
  cast(x as double) * (1.0 + 0.05 * ((cast(conv(substr(md5(concat('t',
    cast(vec_id * 64 + k as string))), 1, 15), 16, 10) as bigint) % 2001 - 1000) / 1000.0)))
"""


@F.pandas_udf(ArrayType(IntegerType()))
def lsh_strict_buckets(emb: pd.Series) -> pd.Series:
    """16-bit bucket ids for the 8 strict tables, one Arrow matmul —
    same planes as lsh_table_buckets, finer packing."""
    M = np.stack(emb.to_numpy()).astype(np.float64)
    bits = (M @ planes_matrix()) >= 0.0  # (n, 128)
    weights = np.tile(1 << np.arange(STRICT_BITS), STRICT_TABLES)
    packed = (bits * weights).reshape(-1, STRICT_TABLES, STRICT_BITS).sum(axis=2)
    return pd.Series(list(packed.astype(np.int32)))


_STRICT_AUG_SQL = f"""
    aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {PLANT_OFFSET} AS vec_id,
             [embedding[k+1]::DOUBLE * (1.0 + 0.05 * (((('0x' || substr(md5('t' ||
                CAST(vec_id * 64 + k AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000) / 1000.0))
              for k in range(0, {DIM})] AS embedding
      FROM embeddings WHERE vec_id < {PLANT_N}
    )
"""

_STRICT_PAIRS_SQL = f"""
    WITH {_STRICT_AUG_SQL},
    planes AS (
      SELECT m,
             [(((('0x' || substr(md5(CAST(m*{DIM}+k AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000) / 1000.0)
              for k in range(0, {DIM})] AS p
      FROM (SELECT unnest(range(0, {N_PLANES})) AS m)
    ),
    bits AS (
      SELECT a.vec_id, p.m // {STRICT_BITS} AS t, p.m % {STRICT_BITS} AS j,
             CASE WHEN list_dot_product(a.embedding, p.p) >= 0 THEN 1 ELSE 0 END AS bit
      FROM aug a, planes p
    ),
    sig AS (
      SELECT vec_id, t, CAST(SUM(bit << j) AS INT) AS bucket
      FROM bits GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
      FROM sig s1 JOIN sig s2
        ON s1.t = s2.t AND s1.bucket = s2.bucket AND s1.vec_id < s2.vec_id
    )
    SELECT c.v1, c.v2,
           ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
    FROM cand c JOIN aug a ON c.v1 = a.vec_id JOIN aug b ON c.v2 = b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) >= {STRICT_THRESHOLD}
"""


def _strict_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    twins = emb.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + F.lit(PLANT_OFFSET)).alias("vec_id"),
        F.expr(_TWIN_EXPR).alias("embedding"),
    )
    return base.unionByName(twins)


@query("dedup_embedding_lsh_strict", oracle=_STRICT_PAIRS_SQL)
def dedup_embedding_lsh_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-threshold embedding near-dup pairs (see block comment
    above): plant twins, one Arrow signature pass over the augmented
    corpus, EXACT-bucket equi-join on (table, 16-bit bucket) — no probe
    arm — then exact cosine verify ≥ 0.85 on candidates only.

    Scale: candidates are ~n²/16384 random collisions + true-dup mass,
    vs the noise-floor variant's probe-widened ~1/16 of pairs — the
    sub-linear candidate behavior dedup_embedding_lsh's docstring
    claims, demonstrated at a real production threshold (benched next
    to the noise-floor variant in bench.py). 100 TB: same plan — one
    linear matmul pass, one equi-join whose output tracks duplicate
    density, exact verify only on candidates."""
    aug = _strict_aug(spark, sf_dir)
    sig = (
        aug.withColumn("buckets", lsh_strict_buckets(F.col("embedding")))
        .select("vec_id", F.posexplode("buckets").alias("t", "bucket"))
        .cache()  # feeds both sides of the self-join (one matmul pass)
    )
    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
        .distinct()
    )
    e1 = aug.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    e2 = aug.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    return _cosine_verify_arrow(
        cand.join(e1, "v1").join(e2, "v2"), STRICT_THRESHOLD
    )


# --- product quantization (PQ) with ADC + exact rerank ------------------------
#
# The compressed-domain scale path the IVF/LSH variants don't cover:
# at 100 TB the raw vectors (256 B each at 64×fp32) don't fit hot
# storage, so production systems (FAISS-style) search QUANTIZED codes
# — M per-subspace k-means codebooks compress each vector to M small
# codes (here 4 × 3 bits), queries scan codes with an ADC lookup-table
# sum (no vector arithmetic per candidate), and only a short ADC
# shortlist is reranked against the raw vectors. Training reuses
# embeddings.py's Lloyd loop verbatim — one run per subspace over the
# SLICED cached frame — and the DuckDB oracle unrolls all four
# codebook trainings, the argmin encoding, the per-query lookup
# tables, the ADC join-sum, the shortlist cut, and the exact rerank,
# so the gate checks the entire compress → scan → refine pipeline
# bit-for-bit. Distances are euclidean (the PQ training metric);
# recall is gated against an exact-L2 truth.

PQ_M = 4  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 16  # centroids per codebook (4-bit codes, the FAISS nbits=4 shape)
PQ_ITERS = 2  # Lloyd rounds per codebook (emb_kmeans protocol)
PQ_SHORTLIST_MIN = 100  # ADC rerank floor
PQ_SHORTLIST_FRAC = 0.02  # shortlist = max(floor, 2% of corpus): recall
# holds as the corpus grows (the cut tracks corpus size) while rerank
# cost stays a small linear fraction


def _pq_sub_chain_sql(m: int, sub: int = PQ_SUB, k: int = PQ_K) -> str:
    """Per-subspace oracle chain: slice → seeds → 2 Lloyd rounds →
    final encode assignment (pe{m}: vec_id → cid). ``sub``/``k``
    parameterize the subspace width and codebook size (r12: the PQ
    kNN join trains a finer grid than ann_pq_topk's 4×16)."""
    PQ_SUB, PQ_K = sub, k  # noqa: N806 — shadow module defaults below
    lo, hi = m * PQ_SUB + 1, (m + 1) * PQ_SUB
    pv, pvv = f"pv{m}", f"pvv{m}"
    return (
        f"""
    {pv} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM v),
    {pvv} AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM {pv}),
    pc{m}0 AS (SELECT vec_id AS cid, e AS c FROM {pv} WHERE vec_id < {PQ_K}),
    """
        + _KM_ASSIGN_SQL.format(a=f"pa{m}0", c=f"pc{m}0", dist_col="", vv=pvv)
        + ","
        + _KM_UPDATE_SQL.format(f=f"pf{m}1", a=f"pa{m}0", m=f"pm{m}1", c=f"pc{m}1", v=pv)
        + ","
        + _KM_ASSIGN_SQL.format(a=f"pa{m}1", c=f"pc{m}1", dist_col="", vv=pvv)
        + ","
        + _KM_UPDATE_SQL.format(f=f"pf{m}2", a=f"pa{m}1", m=f"pm{m}2", c=f"pc{m}2", v=pv)
        + ","
        + _KM_ASSIGN_SQL.format(a=f"pe{m}", c=f"pc{m}2", dist_col="", vv=pvv)
    )


def _pq_lut_sql(m: int) -> str:
    lo, hi = m * PQ_SUB + 1, (m + 1) * PQ_SUB
    return f"""
    lut{m} AS (
      SELECT q.q_id, c.cid,
             ROUND(list_dot_product(q.e[{lo}:{hi}], q.e[{lo}:{hi}])
                   - 2 * list_dot_product(q.e[{lo}:{hi}], c.c)
                   + list_dot_product(c.c, c.c), 4) AS dv
      FROM pq_q q, pc{m}2 c
    )"""


_PQ_TOPK_SQL = (
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vv AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM v),
    pq_q AS (SELECT vec_id AS q_id, e FROM v WHERE vec_id < {N_QUERIES}),
    """
    + ",".join(_pq_sub_chain_sql(m) for m in range(PQ_M))
    + ","
    + f"""
    codes AS (
      SELECT p0.vec_id, p0.cid AS k0, p1.cid AS k1, p2.cid AS k2, p3.cid AS k3
      FROM pe0 p0 JOIN pe1 p1 USING (vec_id)
                  JOIN pe2 p2 USING (vec_id)
                  JOIN pe3 p3 USING (vec_id)
    ),
    """
    + ",".join(_pq_lut_sql(m) for m in range(PQ_M))
    + f""",
    adc_scored AS (
      SELECT l0.q_id, cd.vec_id, l0.dv + l1.dv + l2.dv + l3.dv AS adc
      FROM codes cd
      JOIN lut0 l0 ON l0.cid = cd.k0
      JOIN lut1 l1 ON l1.q_id = l0.q_id AND l1.cid = cd.k1
      JOIN lut2 l2 ON l2.q_id = l0.q_id AND l2.cid = cd.k2
      JOIN lut3 l3 ON l3.q_id = l0.q_id AND l3.cid = cd.k3
      WHERE cd.vec_id != l0.q_id
    ),
    shortlist AS (
      SELECT q_id, vec_id, adc FROM (
        SELECT q_id, vec_id, adc,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id) AS rn
        FROM adc_scored
      ) WHERE rn <= (SELECT GREATEST({PQ_SHORTLIST_MIN},
                                     CAST(ceil(COUNT(*) * {PQ_SHORTLIST_FRAC}) AS BIGINT))
                     FROM v)
    ),
    reranked AS (
      SELECT s.q_id, s.vec_id, s.adc,
             ROUND(x.ee - 2 * list_dot_product(x.e, q.e)
                   + list_dot_product(q.e, q.e), 4) AS l2_dist
      FROM shortlist s JOIN vv x ON s.vec_id = x.vec_id
                       JOIN pq_q q ON s.q_id = q.q_id
    )
    SELECT q_id, vec_id, adc, l2_dist, rank FROM (
      SELECT q_id, vec_id, adc, l2_dist,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2_dist ASC, vec_id) AS rank
      FROM reranked
    ) WHERE rank <= {TOP_K}
"""
)


def _pq_query_side(vv: DataFrame, books) -> list[dict]:
    """Driver-side query prep: for each query vector, the per-subspace
    ADC lookup tables as RAW (unrounded) doubles — the dist arithmetic
    (left-to-right dots, (qq - 2·dot) + cc) is IEEE-identical to both
    engines; the final ROUND happens ENGINE-side so no Python rounding
    mode ever touches a gated value."""

    def pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rows = (
        vv.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "e").collect()
    )
    out = []
    for r in sorted(rows, key=lambda r: int(r["vec_id"])):
        q = [float(x) for x in r["e"]]
        luts = []
        for m, cents in enumerate(books):
            qm = q[m * PQ_SUB : (m + 1) * PQ_SUB]
            qq = pydot(qm, qm)
            luts.append(
                {cid: (qq - 2 * pydot(qm, c)) + pydot(c, c) for cid, c in cents}
            )
        out.append({"q_id": int(r["vec_id"]), "q": q, "luts": luts})
    return out


def _pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vv = kmeans_vv(spark, sf_dir)
    # r12 optimization (guide §4.2): train + encode on the blocked
    # Arrow PQ ranker (_pq_rank_arrow / _pq_codebooks_arrow — the kNN
    # join's gated path, math identical to the former catalyst
    # _pq_subs/_pq_assign chain: same vec_id<k seeds, same rounded
    # argmin with cid tie-break, same DECIMAL/ROUND-6 means), removing
    # the long-format explode+cache and three broadcast-join+fold+
    # window passes. The unrolled oracle chains are unchanged.
    books = _pq_codebooks_arrow(spark, vv, PQ_M, PQ_SUB, PQ_K)
    enc = (
        _pq_rank_arrow(vv, books, PQ_SUB)
        .groupBy("vec_id")
        .agg(
            *[
                F.min(F.when(F.col("m") == m, F.col("cid"))).alias(f"k{m}")
                for m in range(PQ_M)
            ]
        )
        .join(vv.select("vec_id", "e", "ee"), "vec_id")
    )
    queries = _pq_query_side(vv, books)
    q_lit = F.array(
        *[
            F.struct(
                F.lit(qi["q_id"]).alias("q_id"),
                F.array(*[F.lit(x) for x in qi["q"]]).alias("qe"),
                *[
                    F.map_from_arrays(
                        F.array(*[F.lit(cid) for cid in sorted(lut)]),
                        F.array(
                            *[F.round(F.lit(lut[cid]), 4) for cid in sorted(lut)]
                        ),
                    ).alias(f"l{m}")
                    for m, lut in enumerate(qi["luts"])
                ],
            )
            for qi in queries
        ]
    )
    scored = enc.select(
        "vec_id", "e", "ee", "k0", "k1", "k2", "k3", F.explode(q_lit).alias("q")
    ).filter(F.col("vec_id") != F.col("q.q_id"))
    adc = (
        F.element_at(F.col("q.l0"), F.col("k0"))
        + F.element_at(F.col("q.l1"), F.col("k1"))
        + F.element_at(F.col("q.l2"), F.col("k2"))
        + F.element_at(F.col("q.l3"), F.col("k3"))
    )
    scored = scored.select(
        F.col("q.q_id").alias("q_id"),
        "vec_id",
        "e",
        "ee",
        F.col("q.qe").alias("qe"),
        adc.alias("adc"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    import math

    n_corpus = vv.count()  # cached frame; exact, matches the oracle's COUNT(*)
    cut = max(PQ_SHORTLIST_MIN, math.ceil(n_corpus * PQ_SHORTLIST_FRAC))
    short = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= cut
    )
    l2 = F.round(
        F.col("ee") - 2 * _dot(F.col("e"), F.col("qe")) + _dot(F.col("qe"), F.col("qe")),
        4,
    )
    rer = short.select("q_id", "vec_id", "adc", l2.alias("l2_dist"))
    w2 = Window.partitionBy("q_id").orderBy(F.col("l2_dist").asc(), F.col("vec_id").asc())
    return rer.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= TOP_K
    )


@query("ann_pq_topk", oracle=_PQ_TOPK_SQL)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC vector search (block comment above): 4 subspace
    codebooks × 16 centroids (Lloyd-trained, emb_kmeans protocol),
    shuffle-free argmin encoding, per-query lookup-table ADC scan,
    ADC shortlist (max(100, 2% of corpus)), exact-L2 rerank to top-{TOP_K}.

    Scale: training = M small Lloyd runs over sliced scans of one
    cached frame; encoding is a map stage (codes are 4 ints/vector —
    the 100 TB win: the ADC scan reads codes + a broadcast 5×4×8
    lookup table, never raw vectors); rerank touches only
    |queries| × max(100, 2%·corpus) raw rows via the shortlist. The oracle
    unrolls training, encode, ADC, cut, and rerank bit-for-bit."""
    return _pq_topk(spark, sf_dir)


_PQ_L2_TRUTH_SQL = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vv AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM v),
    q AS (SELECT vec_id AS q_id, e FROM v WHERE vec_id < {N_QUERIES})
    SELECT q_id, vec_id FROM (
      SELECT q.q_id, x.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND(x.ee - 2 * list_dot_product(x.e, q.e)
                              + list_dot_product(q.e, q.e), 4) ASC, x.vec_id
             ) AS rank
      FROM vv x JOIN q ON x.vec_id != q.q_id
    ) WHERE rank <= {TOP_K}
"""


def _l2_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact euclidean top-k for the query set — the PQ recall truth
    (cosine truth exists separately for the LSH/IVF paths)."""
    vv = kmeans_vv(spark, sf_dir)
    qs = sorted(
        vv.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "e").collect(),
        key=lambda r: int(r["vec_id"]),
    )
    q_lit = F.array(
        *[
            F.struct(
                F.lit(int(r["vec_id"])).alias("q_id"),
                F.array(*[F.lit(float(x)) for x in r["e"]]).alias("qe"),
            )
            for r in qs
        ]
    )
    scored = (
        vv.select("vec_id", "e", "ee", F.explode(q_lit).alias("q"))
        .filter(F.col("vec_id") != F.col("q.q_id"))
        .select(
            F.col("q.q_id").alias("q_id"),
            "vec_id",
            F.round(
                F.col("ee")
                - 2 * _dot(F.col("e"), F.col("q.qe"))
                + _dot(F.col("q.qe"), F.col("q.qe")),
                4,
            ).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("l2_dist").asc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


@query(
    "ann_recall_pq",
    oracle=f"""
    WITH truth AS ({_PQ_L2_TRUTH_SQL}),
    approx AS ({_PQ_TOPK_SQL})
    SELECT t.q_id,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_10
    FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
    GROUP BY t.q_id
    """,
)
def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ shortlist+rerank path vs exact-L2 truth —
    the compression quality gate (tests assert a floor; the rerank
    stage means recall is limited only by whether true neighbors
    survive the ADC shortlist cut)."""
    truth = _l2_multi_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = _pq_topk(spark, sf_dir).select("q_id", F.col("vec_id").alias("a_vec"))
    hits = truth.join(
        approx,
        (truth["q_id"] == approx["q_id"]) & (truth["vec_id"] == approx["a_vec"]),
        "left",
    ).select(truth["q_id"], approx["a_vec"])
    return hits.groupBy("q_id").agg(
        F.round(F.count("a_vec").cast("double") / TOP_K, 4).alias("recall_at_10")
    )


# --- maximum inner product search (MIPS) -------------------------------------

_MIPS_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES})
    SELECT q_id, vec_id, dot, rank FROM (
      SELECT q.q_id, e.vec_id,
             ROUND(list_inner_product(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS dot,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND(list_inner_product(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                        e.vec_id) AS rank
      FROM embeddings e JOIN q ON e.vec_id != q.q_id
    ) WHERE rank <= {TOP_K}
"""


def inner_product(v1: Column, v2: Column) -> Column:
    """Dot product of two float vectors in double precision — JVM-side
    fold, same left-to-right order as DuckDB's list_inner_product."""
    return F.aggregate(
        F.zip_with(v1, v2, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query("ann_mips_topk", oracle=_MIPS_SQL)
def ann_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k — the retrieval scoring most
    recommender / dual-encoder stacks actually serve (un-normalized
    embeddings: popularity lives in the norm, which cosine throws
    away). Same batched shape as ann_multi_query_topk: broadcast the
    query block, one fused scan scores dot products, per-query Window
    keeps k.

    Scale: |queries| × |vectors| exact scan. For sub-linear serving,
    MIPS reduces to cosine by norm augmentation (append
    sqrt(M² − ‖x‖²) to each item, 0 to each query; Bachrach et al.
    2014) — after which ann_lsh_bucketed / ann_ivf_kmeans_topk apply
    unchanged; the exact arm here is the recall oracle for that
    reduction."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )
    scored = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(inner_product(F.col("embedding"), F.col("qe")), 4).alias("dot"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


# --- Matryoshka truncation evaluation ----------------------------------------

MRL_DIM = 16  # truncated prefix length evaluated against the full 64

_MRL_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    truth AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY ROUND(list_cosine_similarity(
                            e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          e.vec_id) AS rank
        FROM embeddings e JOIN q ON e.vec_id != q.q_id
      ) WHERE rank <= {TOP_K}
    ),
    approx AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY ROUND(list_cosine_similarity(
                            e.embedding[1:{MRL_DIM}]::DOUBLE[],
                            q.qe[1:{MRL_DIM}]::DOUBLE[]), 4) DESC,
                          e.vec_id) AS rank
        FROM embeddings e JOIN q ON e.vec_id != q.q_id
      ) WHERE rank <= {TOP_K}
    )
    SELECT t.q_id,
           ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / {TOP_K}, 4) AS recall_at_10
    FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
    GROUP BY t.q_id
"""


@query("ann_matryoshka_recall", oracle=_MRL_SQL)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-embedding retrieval quality (the Matryoshka question,
    Kusupati et al. 2022): per query, recall@10 of cosine top-k
    computed on the FIRST {MRL_DIM} dimensions against the full-width
    truth — the number that says whether you can serve a 4× cheaper
    index from the same vectors. Same eval-harness shape as
    ann_recall_lsh/_pq (the gated recall family).

    Scale: both arms are the batched broadcast-scan plan
    (|queries|×|vectors|, linear); the truncated arm reads the same
    parquet column and slices in-scan, JVM-side — an engine built on
    real MRL embeddings would instead store the prefix as its own
    column family and prune the read, which parquet's column pruning
    gives for free once the prefix is materialized."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )
    pairs = emb.crossJoin(q).filter(F.col("vec_id") != F.col("q_id"))

    def topk(score: Column, label: str) -> DataFrame:
        w = Window.partitionBy("q_id").orderBy(F.col(label).desc(), F.col("vec_id"))
        return (
            pairs.select("q_id", "vec_id", F.round(score, 4).alias(label))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("q_id", "vec_id")
        )

    truth = topk(cosine_sim(F.col("embedding"), F.col("qe")), "c_full")
    approx = topk(
        cosine_sim(
            F.slice(F.col("embedding"), 1, MRL_DIM), F.slice(F.col("qe"), 1, MRL_DIM)
        ),
        "c_trunc",
    )
    # approx holds |queries| x TOP_K rows by construction: broadcast it at
    # plan time. Left to AQE, the join became a broadcast only after the
    # window stages finished, and whichever finished first decided
    # whether the join's own shuffles ran too (2 or 4 shuffle stages).
    hits = truth.join(
        F.broadcast(approx.withColumnRenamed("vec_id", "a_vec")),
        (truth["q_id"] == approx["q_id"]) & (truth["vec_id"] == F.col("a_vec")),
        "left",
    ).select(truth["q_id"], F.col("a_vec"))
    return hits.groupBy("q_id").agg(
        F.round(F.count("a_vec").cast("double") / TOP_K, 4).alias("recall_at_10")
    )


# --- bucketed MIPS: norm augmentation -> IVF ----------------------------------

# Bachrach et al. 2014 ("Speeding up the Xbox recommender..."): append
# sqrt(M^2 - |x|^2) to every ITEM and 0 to every QUERY — inner product
# order under the original vectors equals cosine order under the
# augmented ones, so ANY cosine index (here: the seeded-IVF shape)
# serves MIPS. ann_mips_topk's exact scan is the recall oracle.

_MIPS_IVF_SQL = f"""
    WITH m AS (
      SELECT MAX(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS m2
      FROM embeddings
    ),
    aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             embedding::DOUBLE[] ||
               [sqrt(greatest(m.m2 - list_inner_product(embedding::DOUBLE[],
                                                        embedding::DOUBLE[]), 0))]
               AS ae
      FROM embeddings, m
    ),
    cent AS (SELECT vec_id AS cid, ae AS ce FROM aug WHERE vec_id < {N_CENTROIDS}),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT a.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND(list_cosine_similarity(a.ae, c.ce), 4) DESC, c.cid) AS rn
        FROM aug a, cent c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT q_id, cid FROM (
        SELECT a.vec_id AS q_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND(list_cosine_similarity(a.e || [0.0], c.ce), 4) DESC,
                          c.cid) AS rn
        FROM aug a, cent c WHERE a.vec_id < {N_QUERIES}
      ) WHERE rn <= {N_PROBE}
    ),
    cand AS (
      SELECT DISTINCT qp.q_id, s.vec_id
      FROM assign s JOIN qprobe qp ON s.cid = qp.cid
      WHERE s.vec_id != qp.q_id
    ),
    scored AS (
      SELECT c.q_id, c.vec_id,
             ROUND(list_inner_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dot
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
                  JOIN embeddings q ON c.q_id = q.vec_id
    )
    SELECT q_id, vec_id, dot, rank FROM (
      SELECT q_id, vec_id, dot,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
"""


def _mips_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    def ip_self(col):
        return F.aggregate(
            col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )

    m2 = emb.agg(F.max(ip_self(F.col("embedding"))).alias("m2"))
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    aug = emb.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        "embedding",
        dbl.alias("e"),
        F.concat(
            dbl,
            F.array(
                F.sqrt(F.greatest(F.col("m2") - ip_self(F.col("embedding")), F.lit(0.0)))
            ),
        ).alias("ae"),
    )
    cent = F.broadcast(
        aug.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cid"), F.col("ae").alias("ce")
        )
    )
    a_scored = aug.crossJoin(cent).select(
        "vec_id",
        "cid",
        F.round(cosine_sim(F.col("ae"), F.col("ce")), 4).alias("acos"),
        F.round(
            cosine_sim(F.concat(F.col("e"), F.array(F.lit(0.0))), F.col("ce")), 4
        ).alias("qcos"),
    )
    aw = Window.partitionBy("vec_id").orderBy(F.col("acos").desc(), F.col("cid"))
    assign = (
        a_scored.withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    qw = Window.partitionBy("vec_id").orderBy(F.col("qcos").desc(), F.col("cid"))
    qprobe = F.broadcast(
        a_scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= N_PROBE)
        .select(F.col("vec_id").alias("q_id"), "cid")
    )
    cand = (
        assign.join(qprobe, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    qe = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )
    scored = cand.join(emb, "vec_id").join(qe, "q_id").select(
        "q_id",
        "vec_id",
        F.round(inner_product(F.col("embedding"), F.col("qe")), 4).alias("dot"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


@query("ann_mips_ivf_topk", oracle=_MIPS_IVF_SQL)
def ann_mips_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-linear MIPS serving: the norm-augmentation reduction the
    exact arm's docstring names, made real — items indexed by the
    seeded-IVF shape over AUGMENTED vectors (append
    sqrt(M² − ‖x‖²); queries append 0), candidates from the
    (centroid) equi-join, exact DOT rerank over candidates only.

    Scale: identical shape to ann_ivf_topk — one broadcast centroid
    pass (linear), probe-bounded candidate join, rerank touches
    candidates not corpus. The augmentation is one extra array
    element computed in-scan from a 1-row broadcast max; numerically
    both engines fold the same order so the gate is exact, and the
    max-norm item's sqrt(0) guard (greatest(...,0)) absorbs the one
    possible rounding underflow."""
    return _mips_ivf_topk(spark, sf_dir)


@query(
    "ann_recall_mips_ivf",
    oracle=f"""
    WITH truth AS ({_MIPS_SQL}),
    approx AS ({_MIPS_IVF_SQL})
    SELECT t.q_id,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_10
    FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
    GROUP BY t.q_id
    """,
)
def ann_recall_mips_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the augmented-IVF MIPS path vs the exact dot-product
    scan — the gate that keeps the reduction's parameters honest (the
    pytest floor is pinned from the sf0.1 measurement)."""
    truth = ann_mips_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = _mips_ivf_topk(spark, sf_dir).select("q_id", F.col("vec_id").alias("a_vec"))
    hits = truth.join(
        approx,
        (truth["q_id"] == approx["q_id"]) & (truth["vec_id"] == approx["a_vec"]),
        "left",
    ).select(truth["q_id"], approx["a_vec"])
    return hits.groupBy("q_id").agg(
        F.round(F.count("a_vec").cast("double") / TOP_K, 4).alias("recall_at_10")
    )


# --- hard-negative mining ------------------------------------------------------

HARD_NEG_K = 5

_HARDNEG_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES})
    SELECT q_id, vec_id, label, cosine, rank FROM (
      SELECT q.q_id, e.vec_id, e.label,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4)
               AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     q.qe::DOUBLE[]), 4) DESC,
                        e.vec_id) AS rank
      FROM embeddings e JOIN q ON e.label != q.q_label
    ) WHERE rank <= {HARD_NEG_K}
"""


@query("ann_hard_negatives", oracle=_HARDNEG_SQL)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-{k} most cosine-similar vectors with a DIFFERENT
    label — the near-misses that make retrieval/embedding training
    data informative (easy random negatives teach nothing; the
    highest-similarity wrong-label items define the decision
    boundary). The in-batch-negatives upgrade every dual-encoder
    pipeline ships.

    Scale: the same broadcast-query fused-scan shape as
    ann_bruteforce_topk — queries broadcast (bounded), one scan scores
    every candidate, per-query top-k under WindowGroupLimit heaps.
    The label filter is evaluated in-scan (no join explosion: the
    nested-loop is query-side-bounded). For web-scale corpora swap
    the scan for the IVF candidate join (ann_ivf_topk) and keep the
    label-mismatch filter on the candidate list."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qe"),
        )
    )
    scored = (
        emb.join(q, emb["label"] != q["q_label"])
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(cosine_sim(F.col("embedding"), F.col("qe")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARD_NEG_K)
        .select("q_id", "vec_id", "label", "cosine", "rank")
    )


K_JOIN = 3  # neighbors per vector in the kNN self-join

# Scale parameterization (r10, VERDICT r9 next #2): the kNN SELF-join
# sizes its IVF cell count from the corpus — cells = max(N_CENTROIDS,
# round(sqrt(N))) — so per-list membership is ~sqrt(N) and total
# candidate volume stays at probes·N^1.5 (FAISS-IVF's nlist ∝ sqrt(N)
# operating point) instead of the fixed-16-cell toy setting whose
# lists grow linearly. The finer grid costs recall on this
# quasi-uniform synthetic corpus (the FAISS-documented trade), so the
# quantizer is TRAINED — {{KNN_KM_ITERS}} Lloyd rounds from the
# deterministic vec_id<cells seeds, the same emb_kmeans machinery
# ann_ivf_kmeans_topk composes — which buys back most of it (measured
# r10: untrained 0.776 → trained 0.845 mean recall@3 at sf0.01).
#
# Probe count scales ∝ log N (r11, VERDICT r10 next #3): a FIXED probe
# count visits a shrinking cell fraction as cells grow with √N, so
# recall decayed 0.845 (sf0.01) → 0.675 (sf0.1). probes = max(6,
# round(1.45·ln N)) restores it — measured sweep at sf0.1 (N=5000,
# 71 cells): probe 6 → 0.675, 10 → 0.831, 12 → 0.878, 14 → 0.912;
# at sf0.01 (N=500, 22 cells): probe 6 → 0.845, 8 → 0.915,
# 10 → 0.976. The formula lands on 9 (sf0.01) and 12 (sf0.1), both
# comfortably over the 0.8 gate, while candidate volume grows as
# 1.45·ln N·N^1.5 — still decisively sub-quadratic (probing a fixed
# CELL FRACTION instead would be probes ∝ √N ⇒ N² candidates).
# Both engines compute the same cell and probe formulas (DuckDB via
# the scalar subqueries below; Spark via a metadata count), so the
# oracle compare stays bit-exact at every sf.
_KNN_CELLS_SQL = (
    f"(SELECT GREATEST({N_CENTROIDS}, CAST(ROUND(SQRT(COUNT(*))) AS BIGINT))"
    " FROM embeddings)"
)

KNN_KM_ITERS = 2  # quantizer training rounds (= IVF_KM_ITERS precedent)

# recall-vs-scale coefficient for the probe-count formula; DuckDB ROUND
# is half-away-from-zero, so the Python twin uses floor(x + 0.5)
KNN_PROBE_COEF = 1.45


def knn_probe_coef() -> float:
    """The deployable flat-recall knob (VERDICT r11 next #7): probes =
    max({N_PROBE}, round(coef·ln N)). Default {KNN_PROBE_COEF} is the
    near-linear log schedule; override via the
    SPARK_GRAFT_KNN_PROBE_COEF env var to buy recall on near-isotropic
    embeddings without editing source. Measured on the 100× fresh-
    vectors axis (SCALE.md, exact blocked-panel truth, N=200k):
    coef 1.45 → probes 18 → recall 0.650; 2.2 → 27 → 0.742;
    2.9 → 35 → 0.813 at ~2× the log schedule's scoring cost (candidate
    volume is linear in the probe count). Set the env var BEFORE
    process start: the registered oracle SQL snapshots the coefficient
    at module import while the Spark side reads it per call — both see
    the same value when it is set at launch (the spark-submit --conf /
    env deployment path)."""
    import os

    return float(os.environ.get("SPARK_GRAFT_KNN_PROBE_COEF", KNN_PROBE_COEF))


def _knn_probes_sql() -> str:
    return (
        f"(SELECT GREATEST({N_PROBE}, CAST(ROUND({knn_probe_coef()!r} * LN(COUNT(*)))"
        " AS BIGINT)) FROM embeddings)"
    )


def knn_cells(n: int) -> int:
    """IVF cell count for the kNN self-join at corpus size ``n``."""
    return max(N_CENTROIDS, int(round(n**0.5)))


def knn_probes(n: int) -> int:
    """Probed-list count at corpus size ``n`` — the HALF_UP twin of
    ``_knn_probes_sql`` (positive domain, so floor(x+0.5) = DuckDB
    ROUND; Python's round() would bank to even)."""
    import math

    return max(N_PROBE, int(math.floor(knn_probe_coef() * math.log(n) + 0.5)))


def _knn_join_cent_sql() -> str:
    """Lloyd-unrolled trained centroids (dynamic k = {_KNN_CELLS_SQL})
    — the emb_kmeans CTE templates with the corpus-sized seed set.
    Imported lazily from embeddings to keep module import acyclic."""
    from kinesis_s3_spark.operators.embeddings import (
        _KM_ASSIGN_SQL,
        _KM_UPDATE_SQL,
    )

    return (
        f"""
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vv AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM v),
    c0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {_KNN_CELLS_SQL}),
    """
        + _KM_ASSIGN_SQL.format(a="a0", c="c0", dist_col="", vv="vv")
        + ","
        + _KM_UPDATE_SQL.format(f="f1", a="a0", m="m1", c="c1", v="v")
        + ","
        + _KM_ASSIGN_SQL.format(a="a1", c="c1", dist_col="", vv="vv")
        + ","
        + _KM_UPDATE_SQL.format(f="f2", a="a1", m="m2", c="c2", v="v")
    )


def _knn_join_sql() -> str:
    return (
        "WITH "
        + _knn_join_cent_sql()
        + f""",
    ranked AS (
      SELECT vv.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY vv.vec_id
               ORDER BY ROUND(vv.ee - 2 * list_dot_product(vv.e, c.c)
                              + list_dot_product(c.c, c.c), 4) ASC, c.cid
             ) AS rn
      FROM vv, c2 c
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
    vprobe AS (SELECT vec_id AS src, cid FROM ranked WHERE rn <= {_knn_probes_sql()}),
    oneway AS (
      SELECT vp.src, a.vec_id AS dst
      FROM vprobe vp JOIN assign a USING (cid)
      WHERE a.vec_id != vp.src
    ),
    cand AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM oneway
        UNION ALL SELECT dst AS src, src AS dst FROM oneway)
    ),
    scored AS (
      SELECT c.src, c.dst,
             ROUND(list_cosine_similarity(e1.embedding::DOUBLE[],
                                          e2.embedding::DOUBLE[]), 4) AS cosine
      FROM cand c JOIN embeddings e1 ON c.src = e1.vec_id
                  JOIN embeddings e2 ON c.dst = e2.vec_id
    )
    SELECT src AS vec_id, dst AS nbr_id, cosine, rank FROM (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
      FROM scored
    ) WHERE rank <= {K_JOIN}
"""
    )


# graph.py embeds this in its LPA / link-prediction oracles
_KNN_JOIN_SQL = _knn_join_sql()


def _knn_cell_topk(probers, members):
    """Per-cell blocked scoring (Arrow cogroup UDF): score every
    (prober, member) pair of ONE IVF cell and emit only each vector's
    in-cell top-{K_JOIN} — for BOTH roles (prober side = its candidates
    in this probed list; member side = the symmetrized reverse). The
    global top-k per vector is the top-k of these per-cell winners, so
    the shuffled volume collapses from |candidate pairs|
    (1.45·ln N·N^1.5) to ≤ (probes+1)·K_JOIN·N skinny rows.

    Float parity with the oracle: dot and both norms accumulate in
    ASCENDING dim order (numpy has no FMA contraction), the exact
    left-to-right fold dedup.cosine_sim and DuckDB's
    list_cosine_similarity evaluate; cos = dot/(sqrt(na)·sqrt(nb));
    rounding is half-away-from-zero (trunc(x·1e4 + copysign(.5, x)))
    = java HALF_UP = DuckDB ROUND. Tie-break inside the cell is
    (cos desc, cand asc) via lexsort — the same ORDER BY the final
    rank window applies, so pre-selection can never drop a row the
    global ordering keeps."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "vid": pd.Series(dtype="int64"),
            "cand": pd.Series(dtype="int64"),
            "cos": pd.Series(dtype="float64"),
        }
    )
    if len(probers) == 0 or len(members) == 0:
        return empty
    A = np.stack(probers["e"].to_numpy()).astype(np.float64)
    B = np.stack(members["e"].to_numpy()).astype(np.float64)
    sid = probers["vec_id"].to_numpy()
    did = members["vec_id"].to_numpy()
    dot = np.zeros((len(sid), len(did)))
    na = np.zeros(len(sid))
    nb = np.zeros(len(did))
    for j in range(A.shape[1]):  # sequential dim order — see docstring
        dot += np.outer(A[:, j], B[:, j])
        na += A[:, j] * A[:, j]
        nb += B[:, j] * B[:, j]
    cos = dot / np.outer(np.sqrt(na), np.sqrt(nb))
    cos = np.trunc(cos * 1e4 + np.copysign(0.5, cos)) / 1e4

    # r12: both role emits are fully vectorized (the former per-query
    # Python loop paid ~K_JOIN list appends per query — millions of
    # interpreter ops per task at 10×). Selection semantics unchanged:
    # self is masked to -inf (sorts after every real candidate, so the
    # kept set equals the old skip-self-then-take-K walk), tie-break
    # stays (cos desc, cand asc) via the same lexsort keys, and rows
    # past each query's valid-candidate count are dropped by mask.
    outs = []

    def emit_role(qid, cand_ids, C):
        # C: (nq, nx) cosine block for this role
        nq, nx = C.shape
        k = min(K_JOIN, nx)
        is_self = cand_ids[None, :] == qid[:, None]
        masked = np.where(is_self, -np.inf, C)
        order = np.lexsort(
            (np.broadcast_to(cand_ids, (nq, nx)), -masked), axis=1
        )[:, :k]
        rows = np.arange(nq)[:, None]
        sel_cos = masked[rows, order]
        keep = np.isfinite(sel_cos)  # drops the -inf self row when nx <= k
        outs.append(
            (
                np.repeat(qid, k)[keep.ravel()],
                cand_ids[order].ravel()[keep.ravel()],
                C[rows, order].ravel()[keep.ravel()],
            )
        )

    emit_role(sid, did, cos)  # role A: prober's top-k in this list
    emit_role(did, sid, cos.T)  # role B: member's top-k among probers
    return pd.DataFrame(
        {
            "vid": np.concatenate([o[0] for o in outs]).astype(np.int64),
            "cand": np.concatenate([o[1] for o in outs]).astype(np.int64),
            "cos": np.concatenate([o[2] for o in outs]).astype(np.float64),
        }
    )


def _knn_rank_arrow(vv: DataFrame, cents, probe: int, with_dist: bool = False) -> DataFrame:
    """(vec_id, cid, rn, e[, dist]): each vector's ``probe`` nearest
    trained centroids by ROUND(dist², 4) with cid tie-break — the
    blocked Arrow ranker shared by the kNN join, the k-means family and
    the IVF probing paths (r12: the catalyst twin _km_rank is gone). One
    mapInPandas pass: per Arrow batch, dist² = ee − 2·E·Cᵀ + |c|²
    accumulated in ASCENDING dim order (the catalyst/DuckDB fold
    order; numpy adds don't contract to FMA), HALF_UP-rounded
    (trunc(x·1e4 + copysign(.5, x))), per-row lexsort (cid breaks
    ties). No join, no shuffle, no window — the N×cells scoring that
    costs ~1.5 µs/pair as a catalyst fold runs as dense numpy blocks.
    ``ee`` arrives precomputed from kmeans_vv (catalyst fold), so the
    norm term is bit-identical to the oracle's list_dot_product."""
    cid_arr = [int(c) for c, _ in cents]
    cmat = [[float(x) for x in v] for _, v in cents]

    def gen(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)
        cids = np.asarray(cid_arr, dtype=np.int64)
        cc = np.zeros(len(cids))
        for j in range(C.shape[1]):
            cc += C[:, j] * C[:, j]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            ee = pdf["ee"].to_numpy().astype(np.float64)
            dot = np.zeros((len(pdf), len(cids)))
            for j in range(C.shape[1]):
                dot += np.outer(E[:, j], C[:, j])
            dist = ee[:, None] - 2 * dot + cc[None, :]
            dist = np.trunc(dist * 1e4 + np.copysign(0.5, dist)) / 1e4
            vids = pdf["vec_id"].to_numpy()
            evs = pdf["e"].to_numpy()
            # r12: batched lexsort + array emit (the former per-row
            # walk paid `probe` list appends per vector — the pass runs
            # over the whole corpus, so that was n·probe interpreter
            # ops). Same (dist asc, cid asc) tie-break keys; embeddings
            # repeat as object pointers, not copies.
            n, k = len(pdf), min(probe, len(cids))
            order = np.lexsort(
                (np.broadcast_to(cids, (n, len(cids))), dist), axis=1
            )[:, :k]
            out = {
                "vec_id": np.repeat(vids, k),
                "cid": cids[order].ravel(),
                "rn": np.tile(np.arange(1, k + 1), n),
                "e": np.repeat(evs, k),
            }
            if with_dist:
                out["dist"] = dist[np.arange(n)[:, None], order].ravel()
            yield pd.DataFrame(out)

    schema = "vec_id long, cid int, rn int, e array<double>"
    if with_dist:
        schema += ", dist double"
    return vv.mapInPandas(gen, schema)


def _knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-sized trained-IVF kNN self-join (see ann_knn_join_ivf
    docstring for the full scale story). cells ∝ sqrt(N) from a
    parquet metadata count; quantizer = {KNN_KM_ITERS} Lloyd rounds
    (k×dim driver bytes per round, the emb_kmeans bound) whose
    assignment pass reuses the blocked Arrow ranker; per-cell scoring
    is one Arrow cogroup — a blocked dense scoring kernel per cell,
    numpy-vectorized, with in-cell top-k so only winner rows shuffle.
    At 100 TB the quantizer trains on a bounded sample (FAISS trains
    on ≲256·cells vectors; every test scale is below that bound so
    training here uses all rows)."""
    from kinesis_s3_spark.operators.embeddings import kmeans_vv, lloyd_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cells = knn_cells(n)
    probes = knn_probes(n)
    vv = kmeans_vv(spark, sf_dir)
    cents = lloyd_centroids(
        vv,
        cells,
        KNN_KM_ITERS,
        assign_fn=lambda f, c: _knn_rank_arrow(f, c, 1).select("cid", "e"),
    )
    ranked = _knn_rank_arrow(vv, cents, probes)
    # (cid, vec_id, e): one row per member; probes rows per prober.
    # localCheckpoint the ≤(probe+1)·N-row ranked projection — both
    # role frames and their cogroup shuffle re-derive from it, and the
    # upstream is a full Arrow scoring pass over the corpus
    probed = ranked.select("cid", "vec_id", "e", "rn").localCheckpoint()
    members = probed.filter(F.col("rn") == 1).select("cid", "vec_id", "e")
    probers = probed.select("cid", "vec_id", "e")
    cell_top = (
        probers.groupBy("cid")
        .cogroup(members.groupBy("cid"))
        .applyInPandas(_knn_cell_topk, "vid long, cand long, cos double")
    )
    # a pair can surface from both roles (identical triple — same
    # vectors, same fold). r12 (guide §2.4): dedupe INSIDE the rank
    # window instead of a distinct() — duplicates carry the identical
    # (cos, cand) sort key, so they are adjacent under the rank order
    # and a lag(cand) filter drops them without the extra all-column
    # exchange the distinct paid; the row_number then reuses the same
    # partitioning+sort (one Exchange, one Sort, two Window ops).
    w = Window.partitionBy("vid").orderBy(F.col("cos").desc(), "cand")
    return (
        cell_top.withColumn("prev_cand", F.lag("cand").over(w))
        .filter(F.col("prev_cand").isNull() | (F.col("prev_cand") != F.col("cand")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_JOIN)
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cand").alias("nbr_id"),
            F.col("cos").alias("cosine"),
            "rank",
        )
    )


@query("ann_knn_join_ivf", oracle=_KNN_JOIN_SQL)
def ann_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full kNN SELF-join via IVF blocking: every vector (not a fixed
    query set — the ann_*_topk ops' shape) gets its {K_JOIN} nearest
    neighbors, candidates restricted to the vector's max(6,
    round(1.45·ln N)) probed centroid lists out of max(16, √N)
    corpus-sized cells. This is the workhorse behind embedding dedup,
    kNN-graph construction (graph_label_propagation's guarded exact
    build swaps to this at corpus scale), and hard-negative mining
    over the WHOLE corpus.

    Scale (cells ∝ √N since r10; probes ∝ ln N since r11 — VERDICT
    r10 next #3): assignment/probe is one broadcast scoring pass
    (N × √N comparisons, no data shuffle); candidates come from the
    cid equi-join, sized N·probes·(N/cells) = 1.45·ln N·N^1.5 total
    candidate pairs — FAISS-IVF's nlist ∝ √N operating point with a
    log-growing nprobe, still decisively sub-quadratic; scoring
    touches candidates only and the per-vector top-{K_JOIN} runs
    under WindowGroupLimit heaps. ann_recall_knn_join gates recall
    ≥ 0.8 at BOTH anchor scales (measured 0.951 at sf0.01 / 0.878 at
    sf0.1 under the log formula); at sf1 the IVF arm benches ungated
    (the exact truth arm stays quadratic-guarded)."""
    return _knn_join_ivf(spark, sf_dir)


@query(
    "ann_recall_knn_join",
    oracle=f"""
    WITH truth AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[]), 4) DESC,
                          b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % 4 = 0
      ) WHERE rk <= {K_JOIN}
    ),
    approx AS ({_KNN_JOIN_SQL}),
    hits AS (
      SELECT t.src, COUNT(a.nbr_id) AS n_hit
      FROM truth t LEFT JOIN approx a
        ON t.src = a.vec_id AND t.dst = a.nbr_id
      GROUP BY t.src
    )
    SELECT COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(n_hit) AS DOUBLE) / (COUNT(*) * {K_JOIN}), 6)
             AS mean_recall,
           ROUND(MIN(n_hit) / CAST({K_JOIN} AS DOUBLE), 6) AS min_recall
    FROM hits
    """,
)
def ann_recall_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K_JOIN} of the IVF kNN self-join against the exact
    (guarded quadratic) join, summarized corpus-wide: mean and
    worst-vector recall. The truth arm refuses past the pairwise
    guard, same contract as dedup_embedding_cosine; integer hit
    counts sum exactly, so the 1-row summary is deterministic."""
    truth = _knn_exact_truth(spark, sf_dir, "ann_recall_knn_join")
    return _knn_recall_summary(_knn_join_ivf(spark, sf_dir), truth)


def _knn_exact_truth(
    spark: SparkSession, sf_dir: str, caller: str
) -> DataFrame:
    """Exact top-{K_JOIN} panel truth (src, dst) for the kNN-join
    recall gates — the guarded-quadratic arm shared by the IVF and PQ
    recall queries (pure code motion from ann_recall_knn_join, r12)."""
    from kinesis_s3_spark.operators.dedup import (
        EMBEDDING_PAIRWISE_MAX_ROWS,
        PairwiseScaleError,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > EMBEDDING_PAIRWISE_MAX_ROWS:
        raise PairwiseScaleError(
            f"{caller}: {n} vectors (> {EMBEDDING_PAIRWISE_MAX_ROWS}); "
            "the exact truth arm is quadratic"
        )
    # truth panel = every 4th vector: the quadratic arm shrinks 4x
    # while the recall estimate keeps a deterministic corpus-wide
    # sample. r10: the panel×corpus scoring runs as the same blocked
    # Arrow kernel the approx arm uses (sequential-dim fold, HALF_UP
    # rounding, per-batch top-k then a global top-k on the winners) —
    # the catalyst-fold form cost 15 s at sf0.1 (1M fold pairs), this
    # is ~6x cheaper; same values, oracle unchanged. The panel
    # collect is guard-bounded (≤ EMBEDDING_PAIRWISE_MAX_ROWS/4 ×
    # dim doubles — the k-center/Lloyd driver-bytes class).
    from kinesis_s3_spark.operators.embeddings import kmeans_vv

    panel_rows = (
        emb.filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    panel = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in panel_rows]

    def gen(batches):
        import numpy as np
        import pandas as pd

        P = np.asarray([v for _, v in panel], dtype=np.float64)
        pids = np.asarray([i for i, _ in panel], dtype=np.int64)
        pn = np.zeros(len(pids))
        for j in range(P.shape[1]):
            pn += P[:, j] * P[:, j]
        pn = np.sqrt(pn)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            dids = pdf["vec_id"].to_numpy()
            dot = np.zeros((len(pids), len(B)))
            bn = np.zeros(len(B))
            for j in range(P.shape[1]):
                dot += np.outer(P[:, j], B[:, j])
                bn += B[:, j] * B[:, j]
            cos = dot / np.outer(pn, np.sqrt(bn))
            cos = np.trunc(cos * 1e4 + np.copysign(0.5, cos)) / 1e4
            o_src, o_dst, o_cos = [], [], []
            for i in range(len(pids)):
                order = np.lexsort((dids, -cos[i]))[: K_JOIN + 1]
                kept = 0
                for ix in order:
                    if int(dids[ix]) == int(pids[i]) or kept >= K_JOIN:
                        continue
                    o_src.append(int(pids[i]))
                    o_dst.append(int(dids[ix]))
                    o_cos.append(cos[i, ix])
                    kept += 1
            yield pd.DataFrame(
                {
                    "src": np.asarray(o_src, dtype=np.int64),
                    "dst": np.asarray(o_dst, dtype=np.int64),
                    "cos": np.asarray(o_cos, dtype=np.float64),
                }
            )

    vv = kmeans_vv(spark, sf_dir)
    batch_top = vv.select("vec_id", "e").mapInPandas(
        gen, "src long, dst long, cos double"
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
    return (
        batch_top.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= K_JOIN)
        .select("src", "dst")
    )


def _knn_recall_summary(approx_join: DataFrame, truth: DataFrame) -> DataFrame:
    """(n_vectors, mean_recall, min_recall) of an approximate kNN join
    against the exact panel truth (code motion from
    ann_recall_knn_join, r12)."""
    approx = approx_join.select(
        F.col("vec_id").alias("a_src"), F.col("nbr_id").alias("a_dst")
    )
    hits = (
        truth.join(
            approx,
            (truth["src"] == approx["a_src"]) & (truth["dst"] == approx["a_dst"]),
            "left",
        )
        .groupBy("src")
        .agg(F.count("a_dst").alias("n_hit"))
    )
    return hits.agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum("n_hit").cast("double") / (F.count("*") * K_JOIN), 6).alias(
            "mean_recall"
        ),
        F.round(F.min("n_hit") / F.lit(float(K_JOIN)), 6).alias("min_recall"),
    )


_KNN_CLASSIFY_SQL = f"""
    WITH knn AS ({{knn}}),
    nbr AS (
      SELECT k.vec_id, e.label AS nbr_label
      FROM knn k JOIN embeddings e ON k.nbr_id = e.vec_id
    ),
    cnt AS (
      SELECT vec_id, nbr_label, COUNT(*) AS c FROM nbr GROUP BY vec_id, nbr_label
    ),
    pred AS (
      SELECT vec_id, nbr_label AS pred_label FROM (
        SELECT vec_id, nbr_label,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY c DESC, nbr_label) AS rk
        FROM cnt) WHERE rk = 1
    )
    SELECT e.vec_id, e.label, p.pred_label,
           e.label = p.pred_label AS agree
    FROM embeddings e JOIN pred p ON e.vec_id = p.vec_id
"""


@query("ann_knn_classify", oracle=_KNN_CLASSIFY_SQL.format(knn=_KNN_JOIN_SQL))
def ann_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label agreement over the trained-IVF self-join: every
    vector's predicted label = majority label of its {K_JOIN} nearest
    neighbors (ties → smallest label), compared against its own. The
    disagreeing rows are the label-noise candidates a curation
    pipeline sends to review — the neighborhood-consistency check
    (cleanlab/confident-learning's intuition, Northcutt et al. 2021)
    that complements emb_outlier_report's geometric z-score: the
    z-score flags vectors FAR from their own label's centroid; this
    flags vectors whose LOCAL neighborhood votes for a different
    label, which catches boundary noise centroids can't see.

    Scale: rides ann_knn_join_ivf (cells ∝ √N, blocked Arrow
    scoring); everything after the join is one neighbor-label
    equi-join plus |V|-keyed count/argmax aggregates — the argmax is
    the LPA min-struct trick, no window over data. Integer counts,
    string-free label compare: both engines emit identical rows."""
    knn = _knn_join_ivf(spark, sf_dir).select("vec_id", "nbr_id")
    emb = load_table(spark, sf_dir, "embeddings")
    nbr = knn.join(
        emb.select(F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")),
        "nbr_id",
    ).select("vec_id", "nbr_label")
    cnt = nbr.groupBy("vec_id", "nbr_label").agg(F.count("*").alias("c"))
    # argmax by (count desc, label asc) as ONE hash aggregate — the
    # graph_label_propagation min-struct pattern, no per-vector window
    pred = cnt.groupBy("vec_id").agg(
        F.min(
            F.struct((F.lit(0) - F.col("c")).alias("nc"), F.col("nbr_label").alias("l"))
        ).alias("m")
    ).select("vec_id", F.col("m.l").alias("pred_label"))
    return (
        emb.select("vec_id", "label")
        .join(pred, "vec_id")
        .select(
            "vec_id",
            "label",
            "pred_label",
            (F.col("label") == F.col("pred_label")).alias("agree"),
        )
    )


# --- PQ-compressed kNN self-join (IVFPQ + refine) ----------------------------
#
# The compressed-domain twin of ann_knn_join_ivf: candidate SCORING —
# the 1.45·ln N·N^1.5 term that dominates the join — runs on PQ codes
# via ADC lookup tables (JPQ_M adds per pair) instead of full DIM-wide
# float math, and the raw vectors are touched only for an exact-cosine
# rerank of each query's per-cell ADC shortlist (adc_short() rows per
# (query, probed cell, role) — O(R·ln N·N) full-dim pairs, linear·log
# vs the N^1.5 candidate volume). This is FAISS's IndexIVFPQ +
# RefineFlat operating point with the library-default 8×8-bit code
# layout: at 100 TB the member side of the candidate join needs only
# (code, norm) — 8 B of codes + one double vs DIM×8 = 512 B raw, a
# ~32× shuffle-width cut — and the raw-vector gather happens once per
# SHORTLIST row, not per candidate. Here both cogroup frames carry the
# raw vector so the rerank stays inside the one cogroup pass and the
# oracle checks train → encode → probe → ADC shortlist → exact rerank
# end-to-end.
#
# Code-size finding (r12, measured on this corpus's isotropic vectors —
# PQ's documented worst case, no cluster structure for codebooks to
# exploit): ann_pq_topk's 4×16 grid (16-bit codes) gives near-noise ADC
# ordering for the self-join — mean recall@3 0.420 at sf0.1 with
# shortlist 8, and reranking 70% of every cell only reached 0.746. The
# 8-subspace × 256-centroid grid (64-bit codes) restores usable signal:
# 0.936 (sf0.01) / 0.812 (sf0.1) at shortlist 16 vs the uncompressed
# IVF join's 0.951 / 0.878 ceiling — the quantization toll is ~4 recall
# points for a 64× smaller scan payload. Wall-clock honesty: the ADC
# lookup-table build is probes·N·M·K flops regardless of cell size, so
# at test scales (cells of 70-223 members ≪ M·K = 2048) the PQ arm
# measures ~2.6× the IVF arm; the win crosses over where members/cell
# = √N ≫ M·K (N ≈ 4M+ vectors — the production regime). SCALE.md r12
# names the term and the measured points.

ADC_SHORT = 16  # default exact-rerank shortlist per (query, cell, role)
JPQ_M = 8  # join-PQ subspaces (FAISS IVFPQ default m)
JPQ_SUB = DIM // JPQ_M
JPQ_K = 256  # centroids per join codebook (8-bit codes, FAISS default)


def adc_short() -> int:
    """Deployable rerank-budget knob (the knn_probe_coef pattern):
    shortlist rows per (query, probed cell, role). Override via
    SPARK_GRAFT_ADC_SHORT at process start — the oracle SQL snapshots
    it at module import, the Spark side captures it per call, so both
    engines agree when it is set at launch. Measured at sf0.1 (N=5000,
    IVF ceiling 0.878): with 8×64 codebooks shortlist 8/12/16 →
    0.701/0.737/0.766; with the shipped 8×256, shortlist 16 → 0.812."""
    import os

    return int(os.environ.get("SPARK_GRAFT_ADC_SHORT", ADC_SHORT))


def _knn_join_pq_sql() -> str:
    """The full IVFPQ pipeline unrolled for DuckDB: trained-IVF cells
    (the _knn_join_sql chain), the {JPQ_M} per-subspace PQ codebook
    trainings + argmin encodings (the ann_pq_topk chains,
    parameterized), per-query ADC dot-product lookup tables over every
    corpus vector, role-symmetric candidate pairs, a per-(query, cell,
    role) ADC shortlist, and an exact-cosine rerank with the global
    top-k. Heavy CTEs are MATERIALIZED (the emb_kcenter precedent) —
    inlined, the multi-LUT join tree re-expands every Lloyd chain and
    the optimizer loses the plot (>400 s at sf0.001; 2 s materialized)."""
    lut = ",".join(
        f"""
    knn_lut{m} AS MATERIALIZED (
      SELECT q.vec_id AS q_id, c.cid,
             ROUND(list_dot_product(
               q.e[{m * JPQ_SUB + 1}:{(m + 1) * JPQ_SUB}], c.c), 4) AS dv
      FROM v q, pc{m}2 c)"""
        for m in range(JPQ_M)
    )
    code_cols = ", ".join(f"p{m}.cid AS k{m}" for m in range(JPQ_M))
    code_joins = "\n                  ".join(
        f"JOIN pe{m} p{m} USING (vec_id)" for m in range(1, JPQ_M)
    )
    adc_sum = " + ".join(f"l{m}.dv" for m in range(JPQ_M))
    lut_joins = "\n      ".join(
        f"JOIN knn_lut{m} l{m} ON l{m}.q_id = p.src AND l{m}.cid = cd.k{m}"
        for m in range(JPQ_M)
    )
    return (
        "WITH "
        + _knn_join_cent_sql()
        + f""",
    ranked AS MATERIALIZED (
      SELECT vv.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY vv.vec_id
               ORDER BY ROUND(vv.ee - 2 * list_dot_product(vv.e, c.c)
                              + list_dot_product(c.c, c.c), 4) ASC, c.cid
             ) AS rn
      FROM vv, c2 c
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
    vprobe AS (SELECT vec_id AS src, cid FROM ranked WHERE rn <= {_knn_probes_sql()}),
    """
        + ",".join(
            _pq_sub_chain_sql(m, sub=JPQ_SUB, k=JPQ_K) for m in range(JPQ_M)
        )
        + f""",
    codes AS MATERIALIZED (
      SELECT p0.vec_id, {code_cols}
      FROM pe0 p0 {code_joins}
    ),
    """
        + lut
        + f""",
    allpairs AS MATERIALIZED (
      SELECT vp.src, a.vec_id AS dst, vp.cid AS cell, 0 AS role
      FROM vprobe vp JOIN assign a USING (cid) WHERE a.vec_id != vp.src
      UNION ALL
      SELECT a.vec_id AS src, vp.src AS dst, vp.cid AS cell, 1 AS role
      FROM vprobe vp JOIN assign a USING (cid) WHERE a.vec_id != vp.src
    ),
    knn_adc AS MATERIALIZED (
      SELECT p.src, p.dst, p.cell, p.role,
             ROUND(({adc_sum})
                   / (SQRT(qq.ee) * SQRT(xx.ee)), 4) AS adc_cos
      FROM allpairs p
      JOIN codes cd ON cd.vec_id = p.dst
      {lut_joins}
      JOIN vv qq ON qq.vec_id = p.src
      JOIN vv xx ON xx.vec_id = p.dst
    ),
    short AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (
                 PARTITION BY src, cell, role
                 ORDER BY adc_cos DESC, dst) AS srn
        FROM knn_adc
      ) WHERE srn <= {adc_short()}
    ),
    cand_pq AS (SELECT DISTINCT src, dst FROM short),
    rescored AS (
      SELECT c.src, c.dst,
             ROUND(list_cosine_similarity(e1.embedding::DOUBLE[],
                                          e2.embedding::DOUBLE[]), 4) AS cosine
      FROM cand_pq c JOIN embeddings e1 ON c.src = e1.vec_id
                     JOIN embeddings e2 ON c.dst = e2.vec_id
    )
    SELECT src AS vec_id, dst AS nbr_id, cosine, rank FROM (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
      FROM rescored
    ) WHERE rank <= {K_JOIN}
"""
    )


_KNN_JOIN_PQ_SQL = _knn_join_pq_sql()


def _knn_cell_adc(books, short: int):
    """Per-cell ADC scoring + exact rerank (Arrow cogroup UDF factory;
    ``books`` = the trained PQ codebooks, broadcast by closure): for
    each query of each role, score every candidate with the 4-entry
    lookup-table sum, keep the ``short`` best by (adc_cos desc, id),
    rerank those exactly, and emit the reranked shortlist rows — the
    global top-k window cuts to K_JOIN, so pre-selection can only
    drop rows the ADC ordering already rejected (that loss is what
    ann_recall_knn_join_pq measures and gates).

    Float parity with the oracle: per-subspace LUT entries are
    sequential-dim dot products HALF_UP-rounded at 4 dp; the ADC sum
    adds the 4 rounded entries left-to-right (the SQL's l0+l1+l2+l3);
    adc_cos divides by SQRT(ee)·SQRT(ee) with the catalyst-fold norms
    carried on the frame (bit-equal to numpy's sequential fold and
    DuckDB's list_dot_product); the rerank is the _knn_cell_topk
    cosine. Empty PQ clusters drop out of the codebooks identically in
    both engines, so LUTs are indexed sparsely by surviving cid."""
    import numpy as _np

    maxcid = max(cid for b in books for cid, _ in b)
    m_count = len(books)
    sub = DIM // m_count
    # r12: codebooks as numpy ONCE here (driver side, shipped in the
    # closure and deserialized once per task) — the former per-cell
    # list-comprehension rebuild converted every codebook float per
    # cogroup group
    book_mats = [_np.asarray([c for _, c in b], dtype=_np.float64) for b in books]
    book_cids = [_np.asarray([cid for cid, _ in b], dtype=_np.int64) for b in books]

    def f(probers, members):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vid": pd.Series(dtype="int64"),
                "cand": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        if len(probers) == 0 or len(members) == 0:
            return empty

        def prep(pdf):
            E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            ee = pdf["ee"].to_numpy().astype(np.float64)
            codes = [
                pdf[f"k{m}"].to_numpy().astype(np.int64) for m in range(m_count)
            ]
            return E, ids, ee, codes

        A, B = prep(probers), prep(members)

        def rnd4(x):
            return np.trunc(x * 1e4 + np.copysign(0.5, x)) / 1e4

        outs = []

        def run_role(Q, X):
            # r12: the per-query Python walk (lexsort + skip-self loop +
            # per-row append, then a per-query rerank) is vectorized —
            # self is masked to -inf (sorts after every real candidate,
            # so the shortlist equals the old skip-self-then-take-short
            # walk), the batched lexsort keeps the (adc_cos desc, id
            # asc) tie-break, and the exact rerank folds dims
            # sequentially over the gathered (nq, short) block.
            QE, qid, qee, _ = Q
            XE, xid, xee, xcodes = X
            nq, nx = len(qid), len(xid)
            adc = None
            for m in range(m_count):
                Cm, cids = book_mats[m], book_cids[m]
                Qm = QE[:, m * sub : (m + 1) * sub]
                dots = np.zeros((nq, len(cids)))
                for j in range(sub):  # sequential dim order (oracle fold)
                    dots += np.outer(Qm[:, j], Cm[:, j])
                dots = rnd4(dots)
                lut = np.zeros((nq, maxcid + 1))
                lut[:, cids] = dots
                term = lut[:, xcodes[m]]
                adc = term if adc is None else adc + term
            adc_cos = rnd4(adc / (np.sqrt(qee)[:, None] * np.sqrt(xee)[None, :]))
            k = min(short, nx)
            masked = np.where(xid[None, :] == qid[:, None], -np.inf, adc_cos)
            order = np.lexsort(
                (np.broadcast_to(xid, (nq, nx)), -masked), axis=1
            )[:, :k]
            rows = np.arange(nq)[:, None]
            keep = np.isfinite(masked[rows, order])  # drop self when nx <= k
            Xs = XE[order]  # (nq, k, dim) gathered candidates
            dot = np.zeros((nq, k))
            for j in range(QE.shape[1]):  # sequential dim order
                dot += QE[:, j, None] * Xs[:, :, j]
            cos = rnd4(dot / (np.sqrt(qee)[:, None] * np.sqrt(xee[order])))
            # r13 (guide §2.3): emit only each query's top-K_JOIN of the
            # reranked shortlist, not all `short` rows — the global
            # top-k per vector is the top-k of these per-(cell, role)
            # winners under the SAME (cos desc, cand asc) order (the
            # _knn_cell_topk merge property; duplicates across lists
            # carry identical keys and still dedupe in the rank
            # window), so the window exchange carries ~short/K_JOIN×
            # fewer rows (≈5M → ≈1M at the 10× corpus) with an
            # identical final result.
            cand_g = xid[order]
            cos_m = np.where(keep, cos, -np.inf)
            k2 = min(K_JOIN, k)
            sel = np.lexsort((cand_g, -cos_m), axis=1)[:, :k2]
            keep2 = np.isfinite(cos_m[rows, sel])
            flat = keep2.ravel()
            outs.append(
                (
                    np.repeat(qid, k2)[flat],
                    cand_g[rows, sel].ravel()[flat],
                    cos[rows, sel].ravel()[flat],
                )
            )

        run_role(A, B)  # role 0: prober's shortlist among the cell's members
        run_role(B, A)  # role 1: member's shortlist among the cell's probers
        return pd.DataFrame(
            {
                "vid": np.concatenate([o[0] for o in outs]).astype(np.int64),
                "cand": np.concatenate([o[1] for o in outs]).astype(np.int64),
                "cos": np.concatenate([o[2] for o in outs]).astype(np.float64),
            }
        )

    return f


def _pq_rank_arrow(vv: DataFrame, books, sub: int) -> DataFrame:
    """(vec_id, m, cid, se): every subspace's argmin code in ONE
    blocked Arrow pass over the WIDE vector frame — the _knn_rank_arrow
    twin for PQ assignment. The catalyst formulation (_pq_assign:
    broadcast-join the long subspace frame against M·K centroid rows and
    fold 2 dots per pair) costs N·M·K higher-order-function folds —
    fine at ann_pq_topk's 4×16 grid, but the join's 8×256 codebooks
    put 3 such passes (2 Lloyd rounds + encode) at ~10M folds each,
    ~30 s of the probe's 36 s at sf0.1; this kernel does the same
    arithmetic as dense numpy blocks in milliseconds.

    Float parity with _KM_ASSIGN_SQL (the oracle's pa/pe chains):
    per-subspace see/cc/dot accumulate in ASCENDING dim order (the
    catalyst/DuckDB fold), dist = (see − 2·dot) + cc, HALF_UP-rounded
    at 4 dp, argmin with cid tie-break via lexsort."""
    cb = [
        (
            [int(cid) for cid, _ in book],
            [[float(x) for x in c] for _, c in book],
        )
        for book in books
    ]

    def gen(batches):
        import numpy as np
        import pandas as pd

        mats = [
            (np.asarray(cids, dtype=np.int64), np.asarray(cents, dtype=np.float64))
            for cids, cents in cb
        ]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            vids = pdf["vec_id"].to_numpy().astype(np.int64)
            frames = []
            for m, (cids, C) in enumerate(mats):
                Em = E[:, m * sub : (m + 1) * sub]
                see = np.zeros(len(E))
                cc = np.zeros(len(cids))
                dot = np.zeros((len(E), len(cids)))
                for j in range(sub):  # sequential dim order — see docstring
                    see += Em[:, j] * Em[:, j]
                    cc += C[:, j] * C[:, j]
                    dot += np.outer(Em[:, j], C[:, j])
                dist = see[:, None] - 2 * dot + cc[None, :]
                dist = np.trunc(dist * 1e4 + np.copysign(0.5, dist)) / 1e4
                # codebooks are cid-sorted, so argmin's first-occurrence
                # rule IS the (dist, cid) lexsort tie-break — no per-row
                # loop (at sf1 the loop was 400k lexsorts per pass)
                ix = np.argmin(dist, axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": vids,
                            "m": np.full(len(E), m, dtype=np.int32),
                            "cid": cids[ix],
                            "se": list(Em),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return vv.select("vec_id", "e").mapInPandas(
        gen, "vec_id long, m int, cid int, se array<double>"
    )


def _pq_codebooks_arrow(
    spark: SparkSession, vv: DataFrame, m_count: int, sub: int, k: int
) -> list[list[tuple[int, list[float]]]]:
    """Train the join's M codebooks with the blocked Arrow assignment
    (math identical to _pq_codebooks: vec_id < k seeds, PQ_ITERS Lloyd
    rounds, DECIMAL(38,12)/ROUND-6 means keyed (m, cid, pos) — the
    unrolled per-subspace oracle chains check every round)."""
    seed_rows = vv.filter(F.col("vec_id") < k).select("vec_id", "e").collect()
    books: list[list[tuple[int, list[float]]]] = [
        sorted(
            (
                int(r["vec_id"]),
                [float(x) for x in r["e"][m * sub : (m + 1) * sub]],
            )
            for r in seed_rows
        )
        for m in range(m_count)
    ]
    for _ in range(PQ_ITERS):
        assigned = _pq_rank_arrow(vv, books, sub)
        # r13: reverted to the posexplode → groupBy(m, cid, pos) form
        # (see lloyd_centroids — the r12 wide-aggregate variant was
        # bisected as THE cause of the kNN-family 2× local regression;
        # map-side combine already makes this form's exchange
        # m·cells×sub×partitions skinny rows, and decimal sums are
        # order-free in both forms → bit-identical codebooks).
        means = (
            assigned.select("m", "cid", F.posexplode("se").alias("pos", "xd"))
            .select("m", "cid", "pos", F.col("xd").cast(_DEC).alias("x"))
            .groupBy("m", "cid", "pos")
            .agg(F.round(F.sum("x").cast("double") / F.count("*"), 6).alias("cx"))
            .collect()
        )
        by_m: list[dict[int, dict[int, float]]] = [dict() for _ in range(m_count)]
        for r in means:
            by_m[int(r["m"])].setdefault(int(r["cid"]), {})[int(r["pos"])] = float(
                r["cx"]
            )
        books = [
            [
                (cid, [pos_map[p] for p in sorted(pos_map)])
                for cid, pos_map in sorted(by_m[m].items())
            ]
            for m in range(m_count)
        ]
    return books


def _knn_join_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ kNN self-join: the _knn_join_ivf blocking (trained √N
    cells, ln N probes) with compressed-domain candidate scoring —
    see the section comment for the scale economics."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cells = knn_cells(n)
    probes = knn_probes(n)
    vv = kmeans_vv(spark, sf_dir)
    # r12 optimization (guide §2.6): the coarse-quantizer Lloyd chain
    # and the PQ codebook training are INDEPENDENT job chains (both
    # read only the cached vv); running them from two driver threads
    # overlaps their per-round driver round-trips — each chain is
    # ~3 sequential small jobs of ~0.4 s fixed cost, so the wall cost
    # of training drops from sum to max. Results are byte-identical
    # (same jobs, same math, just concurrently scheduled).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        cents_f = pool.submit(
            lloyd_centroids,
            vv,
            cells,
            KNN_KM_ITERS,
            lambda f, c: _knn_rank_arrow(f, c, 1).select("cid", "e"),
        )
        books_f = pool.submit(
            _pq_codebooks_arrow, spark, vv, JPQ_M, JPQ_SUB, JPQ_K
        )
        cents = cents_f.result()
        books = books_f.result()
    code_cols = [f"k{m}" for m in range(JPQ_M)]
    enc = (
        _pq_rank_arrow(vv, books, JPQ_SUB)
        .groupBy("vec_id")
        .agg(
            *[
                F.min(F.when(F.col("m") == m, F.col("cid"))).alias(f"k{m}")
                for m in range(JPQ_M)
            ]
        )
        .join(vv.select("vec_id", "ee"), "vec_id")
    )
    ranked = _knn_rank_arrow(vv, cents, probes)
    # one vec_id equi-join attaches codes + norm to the probed
    # projection; localCheckpoint for the same reason as _knn_join_ivf
    probed = (
        ranked.join(enc, "vec_id")
        .select("cid", "vec_id", "e", "ee", "rn", *code_cols)
        .localCheckpoint()
    )
    members = probed.filter(F.col("rn") == 1).drop("rn")
    probers = probed.drop("rn")
    cell_short = (
        probers.groupBy("cid")
        .cogroup(members.groupBy("cid"))
        .applyInPandas(
            _knn_cell_adc(books, adc_short()), "vid long, cand long, cos double"
        )
    )
    # a pair can surface from both roles / several cells with the same
    # exact rerank cosine. r12 (guide §2.4): every duplicate carries
    # the identical (cos, cand) sort key, so dedupe inside the rank
    # window with a lag(cand) filter (duplicates are adjacent) instead
    # of paying the distinct()'s extra all-column exchange; the
    # row_number reuses the same partitioning+sort.
    w = Window.partitionBy("vid").orderBy(F.col("cos").desc(), "cand")
    return (
        cell_short.withColumn("prev_cand", F.lag("cand").over(w))
        .filter(F.col("prev_cand").isNull() | (F.col("prev_cand") != F.col("cand")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_JOIN)
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cand").alias("nbr_id"),
            F.col("cos").alias("cosine"),
            "rank",
        )
    )


@query("ann_knn_join_pq", oracle=_KNN_JOIN_PQ_SQL)
def ann_knn_join_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain kNN SELF-join (FAISS IndexIVFPQ + RefineFlat
    shape): the ann_knn_join_ivf blocking with candidate scoring on
    JPQ_M×JPQ_K = 8×256 (64-bit, the FAISS-default layout) PQ codes via
    ADC lookup tables, exact-cosine rerank restricted to each query's
    per-cell adc_short() shortlist. Same output contract as the IVF
    join (top-K_JOIN neighbors per vector by exact reranked cosine).

    Scale: the dominant 1.45·ln N·N^1.5 candidate term costs JPQ_M=8
    table adds per pair instead of DIM=64 float mults (~8× less
    arithmetic), and full-dim math touches only the reranked shortlist
    — ≤ (probes+1)·short·N pairs, linear·log in N. At 100 TB the member
    side of the candidate join carries (codes, norm) = 16 B instead of
    the 512 B raw vector, shrinking the join-side shuffle ~32×; the
    raw-vector gather then happens once per SHORTLIST row, not per
    candidate. ann_recall_knn_join_pq gates the ADC shortlist's recall
    loss against the exact join at both anchor scales (measured 0.936 /
    0.812 vs the uncompressed IVF join's 0.951 / 0.878 ceiling; the
    section comment records the 16-bit near-noise finding that set the
    code size)."""
    return _knn_join_pq(spark, sf_dir)


@query(
    "ann_recall_knn_join_pq",
    oracle=f"""
    WITH truth AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[]), 4) DESC,
                          b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % 4 = 0
      ) WHERE rk <= {K_JOIN}
    ),
    approx AS ({_KNN_JOIN_PQ_SQL}),
    hits AS (
      SELECT t.src, COUNT(a.nbr_id) AS n_hit
      FROM truth t LEFT JOIN approx a
        ON t.src = a.vec_id AND t.dst = a.nbr_id
      GROUP BY t.src
    )
    SELECT COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(n_hit) AS DOUBLE) / (COUNT(*) * {K_JOIN}), 6)
             AS mean_recall,
           ROUND(MIN(n_hit) / CAST({K_JOIN} AS DOUBLE), 6) AS min_recall
    FROM hits
    """,
)
def ann_recall_knn_join_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K_JOIN} of the COMPRESSED-domain (IVFPQ + refine) kNN
    self-join against the exact panel truth — measures what the ADC
    shortlist costs on top of the IVF blocking loss
    (ann_recall_knn_join measures the blocking alone; the difference
    is the pure quantization toll). Same guarded truth arm, same
    deterministic 1-row summary."""
    truth = _knn_exact_truth(spark, sf_dir, "ann_recall_knn_join_pq")
    return _knn_recall_summary(_knn_join_pq(spark, sf_dir), truth)


MMR_POOL = 20  # candidate pool (distributed top-k by relevance)
MMR_K = 5  # diversified picks
MMR_LAMBDA = 0.7
# The diversity weight (1-λ) must be the SAME double in both engines:
# the raw Python expression 1 - 0.7 = 0.30000000000000004 while the SQL
# literal embeds 0.3 — with 4-dp rel/ms inputs the exact mmr lands on the
# HALF_UP boundary often enough (~2% of the 4-dp grid) to flip picks.
MMR_MU = round(1 - MMR_LAMBDA, 10)


def _mmr_sql() -> str:
    """Greedy MMR unrolled: sel1 = max-relevance pick; each later round
    re-scores the remaining pool by λ·rel − (1−λ)·max-sim-to-selected
    and takes the argmax (ties → smallest vec_id) — one CTE pair per
    round, the registry's iterative-oracle convention."""
    parts = [
        f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT vec_id, e, rel FROM (
        SELECT emb.vec_id, emb.embedding::DOUBLE[] AS e,
               ROUND(list_cosine_similarity(emb.embedding::DOUBLE[], q.qe), 4) AS rel,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND(list_cosine_similarity(emb.embedding::DOUBLE[],
                                                       q.qe), 4) DESC,
                          emb.vec_id) AS rk
        FROM embeddings emb, q WHERE emb.vec_id != 0
      ) WHERE rk <= {MMR_POOL}
    ),
    pick1 AS (
      SELECT vec_id, rel, 0.0 AS ms, ROUND({MMR_LAMBDA} * rel, 4) AS mmr
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    sel1 AS (SELECT vec_id FROM pick1)"""
    ]
    for r in range(2, MMR_K + 1):
        parts.append(
            f""",
    ms{r} AS (
      SELECT c.vec_id, c.rel,
             MAX(ROUND(list_cosine_similarity(c.e, s.e), 4)) AS ms
      FROM cand c
      JOIN cand s ON s.vec_id IN (SELECT vec_id FROM sel{r - 1})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
      GROUP BY c.vec_id, c.rel
    ),
    pick{r} AS (
      SELECT vec_id, rel, ms,
             ROUND({MMR_LAMBDA} * rel - {MMR_MU} * ms, 4) AS mmr
      FROM ms{r}
      ORDER BY ROUND({MMR_LAMBDA} * rel - {MMR_MU} * ms, 4) DESC,
               vec_id
      LIMIT 1
    ),
    sel{r} AS (SELECT vec_id FROM sel{r - 1} UNION ALL SELECT vec_id FROM pick{r})"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {r} AS rank, vec_id, rel, mmr FROM pick{r}"
        for r in range(1, MMR_K + 1)
    )
    parts.append(f"\n    {selects}")
    return "".join(parts)


def _py_round4(x: float) -> float:
    """HALF_UP at 4 dp — java BigDecimal HALF_UP / DuckDB ROUND twin
    (same trunc+copysign form the blocked Arrow kernels use)."""
    import math

    return math.trunc(x * 1e4 + math.copysign(0.5, x)) / 1e4


@query("ann_mmr_diversify", oracle=_mmr_sql())
def ann_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from the query's top-{MMR_POOL} cosine candidates, greedily
    pick {MMR_K} results maximizing λ·relevance − (1−λ)·max-similarity-
    to-already-picked (λ={MMR_LAMBDA}) — the diversity re-ranker a RAG
    retrieval stage runs on its head so near-duplicate passages don't
    crowd the context window. First pick = pure relevance (ms = 0 by
    convention); ties break on vec_id; every score 4-dp-rounded before
    each argmax so both engines pick identical items.

    Scale split, by design: the DATA-SIZED work — scoring every corpus
    vector against the broadcast query and taking the global top-k —
    is distributed (TakeOrderedAndProject, no global sort, no window);
    the greedy loop then runs DRIVER-SIDE on the ≤{MMR_POOL}-row head
    with left-to-right float sums (the cosine_sim/DuckDB fold order).
    That is the production reranker shape: sequential-by-nature head
    re-ranking never touches the corpus. Driver bytes: pool×dim
    doubles, result-sized — the k-center/Lloyd collect bound."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    q0 = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(_vec_d(F.col("embedding")).alias("qe"))
    )
    top = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q0)
        .select(
            "vec_id",
            _vec_d(F.col("embedding")).alias("e"),
            F.round(cosine_sim(F.col("embedding"), F.col("qe")), 4).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
    )
    pool = top.collect()  # ≤ MMR_POOL rows — result-sized by construction

    def cos(a: list[float], b: list[float]) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):  # left-to-right — the shared fold order
            dot += x * y
            na += x * x
            nb += y * y
        return _py_round4(dot / (math.sqrt(na) * math.sqrt(nb)))

    vecs = {int(r["vec_id"]): r["e"] for r in pool}
    rels = {int(r["vec_id"]): float(r["rel"]) for r in pool}
    picked: list[tuple[int, int, float, float]] = []
    sel_ids: list[int] = []
    remaining = sorted(vecs)
    for rank in range(1, MMR_K + 1):
        best = None
        for vid in remaining:
            ms = max((cos(vecs[vid], vecs[s]) for s in sel_ids), default=0.0)
            mmr = _py_round4(MMR_LAMBDA * rels[vid] - MMR_MU * ms)
            # Rank 1 mirrors the SQL pick1: pure-relevance argmax (rel is
            # already 4-dp on both sides) — NOT the rounded λ·rel, which
            # collapses rels 1e-4 apart and can flip the first pick.
            key = (-rels[vid], vid) if rank == 1 else (-mmr, vid)
            if best is None or key < best[0]:
                best = (key, vid, rels[vid], mmr)
        _, vid, rel, mmr = best
        picked.append((rank, vid, rel, mmr))
        sel_ids.append(vid)
        remaining.remove(vid)
    return spark.createDataFrame(picked, "rank int, vec_id long, rel double, mmr double")
