"""Semantic deduplication via cluster blocking (SemDeDup, Abbas et al.
2023, arXiv:2303.09540): k-means the embedding space, then compare
vectors pairwise ONLY within their cluster and drop every vector that
has a sufficiently-similar lower-id neighbor. This is the third
candidate-generation mechanism in the dedup family — exact hashing
(dedup_exact), LSH bucketing (dedup_embedding_lsh_strict), and now
centroid blocking — each trading recall shape for candidate count
differently.

Composition: reuses emb_kmeans's Lloyd machinery verbatim
(lloyd_centroids / _km_assign, embeddings.py) on the twin-augmented
corpus from the strict-LSH operator (ann.py: the synthetic corpus has
no natural pairs above the production threshold, so both engines plant
identical md5-noise twins — cosine(v, twin) ≈ 0.9996). The DuckDB
oracle unrolls both Lloyd rounds AND the pair pruning in one WITH
chain, so the gate checks clustering, blocking, and verdicts end to
end.

Determinism (registry rules): assignment distances rounded to 4 dp
with cid tie-break (IVF rule); centroid means via DECIMAL(38,12) and
ROUND 6 (emb_label_centroids rule); pair cosine rounded to 4 dp before
the threshold compare; dup_of = MIN lower-id neighbor; nullable ints
coalesced to -1 so both engines emit identical concrete values.

Scale (the SemDeDup argument): candidates are sum_c |c|^2 / 2 — an
equi-join on cid, never a cartesian. k grows with the corpus
(k ~ n / target_cluster_size), holding per-cluster cost constant, so
the pair stage stays ~linear while the clustering stage is the
emb_kmeans plan (two scans + one k x dim shuffle per round). The
reference (snowplow/kinesis-s3) has no query surface (SURVEY.md §2);
this extends the LLM-curation north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_s3_spark.operators.ann import (
    PLANT_N,
    PLANT_OFFSET,
    _STRICT_AUG_SQL,
    _knn_rank_arrow,
    _strict_aug,
)
from kinesis_s3_spark.operators.embeddings import (
    _KM_ASSIGN_SQL,
    _KM_UPDATE_SQL,
    _dot,
    lloyd_centroids,
)
from kinesis_s3_spark.operators.registry import query
from kinesis_s3_spark.sources.tables import load_table

SEM_K = 8  # same cluster count as emb_kmeans
SEM_ITERS = 2  # same Lloyd depth as emb_kmeans (oracle unrolls both)
SEM_THRESHOLD = 0.85  # the strict-LSH production threshold

# Lloyd chain on the AUGMENTED corpus: same assign/update templates as
# _KMEANS_SQL, with v/vv sourced from aug instead of embeddings.
def _sem_kmeans_chain(k: int) -> str:
    return (
        f"""
    WITH {_STRICT_AUG_SQL},
    v AS (SELECT vec_id, embedding AS e FROM aug),
    vv AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM v),
    c0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {k}),
    """
        + _KM_ASSIGN_SQL.format(a="a0", c="c0", dist_col="", vv="vv")
        + ","
        + _KM_UPDATE_SQL.format(f="f1", a="a0", m="m1", c="c1", v="v")
        + ","
        + _KM_ASSIGN_SQL.format(a="a1", c="c1", dist_col="", vv="vv")
        + ","
        + _KM_UPDATE_SQL.format(f="f2", a="a1", m="m2", c="c2", v="v")
        + ","
        + _KM_ASSIGN_SQL.format(a="a2", c="c2", dist_col="", vv="vv")
    )


_SEM_KMEANS_CHAIN = _sem_kmeans_chain(SEM_K)

_SEM_PAIRS_CTE = f"""
    simpairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN v va ON a.vec_id = va.vec_id
      JOIN v vb ON b.vec_id = vb.vec_id
      WHERE ROUND(list_cosine_similarity(va.e, vb.e), 4) >= {SEM_THRESHOLD}
    )
"""

_SEMDEDUP_SQL = (
    _SEM_KMEANS_CHAIN
    + ","
    + _SEM_PAIRS_CTE
    + """,
    dups AS (
      SELECT v2 AS vec_id, MIN(v1) AS dup_of, COUNT(*) AS n_sim
      FROM simpairs GROUP BY v2
    )
    SELECT a.vec_id, a.cid AS cluster,
           d.vec_id IS NULL AS keep,
           COALESCE(d.dup_of, -1) AS dup_of,
           COALESCE(d.n_sim, 0) AS n_sim
    FROM a2 a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""
)


def _sem_assign(spark: SparkSession, sf_dir: str, k: int = SEM_K) -> DataFrame:
    """(vec_id, e, cid) for the twin-augmented corpus after SEM_ITERS
    Lloyd rounds — cached because the pair join reads it twice.

    r12 optimization (guide §4.2): both the Lloyd rounds' assignment
    passes and the final assignment ride ann._knn_rank_arrow (blocked
    numpy, the kNN-join quantizer's gated ranker) instead of the
    catalyst broadcast-join + 64-dim fold + window ranker — the n·k
    fold evaluations per pass were the dominant non-pair cost at sf1.
    Math identical (same rounded dist, same cid tie-break, ee from the
    same catalyst fold), so the unrolled oracle chain is unchanged."""
    aug = _strict_aug(spark, sf_dir)
    vv = (
        aug.select("vec_id", F.col("embedding").alias("e"))
        .withColumn("ee", _dot(F.col("e"), F.col("e")))
        .cache()
    )
    cents = lloyd_centroids(
        vv, k, SEM_ITERS,
        assign_fn=lambda f, c: _knn_rank_arrow(f, c, 1).select("cid", "e"),
    )
    return _knn_rank_arrow(vv, cents, 1).select("vec_id", "e", "cid").cache()


# Target rows per pair-kernel chunk (r13, VERDICT r12 next #3): with
# uniform C = ceil(n / (blocks · target)) chunks per block, the largest
# possible block (an adversarial cluster holding the whole corpus)
# still splits into chunks of ≤ blocks·target rows, so no single task
# ever holds more than ~2·blocks·target×dim doubles — the 100 TB OOM
# guard the flat k=8 arm lacked (its giant clusters each landed in ONE
# applyInPandas task). 2048 keeps chunk matrices ~4M-pair sized; the
# expected (balanced) chunk is exactly `target` rows. Scale-adaptive by
# construction (C grows with n, is 1 at small corpora), not a core-count
# tunable.
SEM_CHUNK_TARGET = 2048


def _block_pairs_arrow(
    assign: DataFrame,
    keys: list[str],
    n_blocks: int | None = None,
    n_rows: int | None = None,
    chunk_target: int = SEM_CHUNK_TARGET,
) -> DataFrame:
    """(v1, v2) within-block pairs at rounded cosine >= SEM_THRESHOLD,
    computed as BLOCKED numpy pair matrices per block (applyInPandas)
    instead of a JVM self-join with a per-pair catalyst fold.

    r12 optimization (guide §4.2): the former shape — equi-join the
    assignment frame with itself on the block key, then evaluate
    ``ROUND(cosine_sim(e1, e2), 4)`` per candidate row — materializes
    Σ|block|²/2 pair ROWS (each carrying 2×dim doubles) and pays one
    64-dim higher-order-function fold per pair; at sf1 that is ~28M
    pairs and dominated dedup_semantic's 32 s. Here each block ships
    ONCE (n rows, not n² pairs) and the pair scores come from dense
    numpy blocks at memory bandwidth.

    Float parity with the oracle (the _pq_rank_arrow convention):
    dot / n1² / n2² accumulate in ASCENDING dim order (the catalyst /
    DuckDB list fold), cosine = dot / (sqrt(n1²)·sqrt(n2²)) with the
    same two IEEE ops, and rounding is trunc(x·1e4 ± 0.5)/1e4 — exactly
    DuckDB's ROUND on DOUBLE (std::round of the scaled value). Row
    blocks of 1024 bound the dense matrix at 1024×|block| doubles.

    r13 sub-blocking (guide §2.5; VERDICT r12 next #3): when
    ``n_blocks`` is given, blocks are additionally split into
    C = ⌈n_rows / (n_blocks · chunk_target)⌉ deterministic chunks
    (pmod(xxhash64(vec_id), C)) and each unordered CHUNK PAIR becomes
    its own task — pair {u, w} lands in exactly the (min, max) chunk
    task of its block, so the emitted pair set is identical while the
    largest block splits across C·(C+1)/2 tasks and per-task memory is
    bounded at ~2·n_blocks·chunk_target rows even under adversarial
    skew. C = 1 (every bench scale except the flat k=8 arm at 10×)
    takes the unchanged single-task-per-block path."""
    import math

    cols = [*keys, "vec_id", "e"]
    C_chunks = 1
    if n_blocks is not None:
        if n_rows is None:
            # every caller's assign frame is cached; this count is the
            # materialization the pair stage forces anyway
            n_rows = assign.count()
        C_chunks = max(1, math.ceil(n_rows / float(n_blocks * chunk_target)))

    def _pairs_within(E, vids, norm, out1, out2):
        import numpy as np

        n = len(vids)
        B = 1024
        for lo in range(0, n, B):
            hi = min(lo + B, n)
            G = np.zeros((hi - lo, n))
            for j in range(E.shape[1]):
                G += np.outer(E[lo:hi, j], E[:, j])
            C = G / np.outer(norm[lo:hi], norm)
            C = np.trunc(C * 1e4 + np.copysign(0.5, C)) / 1e4
            mask = (C >= SEM_THRESHOLD) & (vids[lo:hi, None] < vids[None, :])
            ii, jj = np.nonzero(mask)
            out1.append(vids[lo:hi][ii])
            out2.append(vids[jj])

    def _prep(pdf):
        import numpy as np

        E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        vids = pdf["vec_id"].to_numpy().astype(np.int64)
        nn = np.zeros(len(vids))
        for j in range(E.shape[1]):  # sequential dim order — see docstring
            nn += E[:, j] * E[:, j]
        return E, vids, np.sqrt(nn)

    def block(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"v1": pd.Series(dtype="int64"), "v2": pd.Series(dtype="int64")})
        E, vids, norm = _prep(pdf)
        out1, out2 = [], []
        _pairs_within(E, vids, norm, out1, out2)
        return pd.DataFrame(
            {"v1": np.concatenate(out1), "v2": np.concatenate(out2)}
        )

    if C_chunks == 1:
        return assign.select(*cols).groupBy(*keys).applyInPandas(
            block, "v1 long, v2 long"
        )

    def chunk_block(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"v1": pd.Series(dtype="int64"), "v2": pd.Series(dtype="int64")}
        )
        if len(pdf) < 2:
            return empty
        ca, cb = int(pdf["ca"].iat[0]), int(pdf["cb"].iat[0])
        if ca == cb:
            return block(pdf)
        a_pdf = pdf[pdf["ch"] == ca]
        b_pdf = pdf[pdf["ch"] == cb]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return empty
        EA, va, na = _prep(a_pdf)
        EB, vb, nb = _prep(b_pdf)
        out1, out2 = [], []
        B = 1024
        for lo in range(0, len(va), B):
            hi = min(lo + B, len(va))
            G = np.zeros((hi - lo, len(vb)))
            for j in range(EA.shape[1]):
                G += np.outer(EA[lo:hi, j], EB[:, j])
            C = G / np.outer(na[lo:hi], nb)
            C = np.trunc(C * 1e4 + np.copysign(0.5, C)) / 1e4
            mask = C >= SEM_THRESHOLD
            ii, jj = np.nonzero(mask)
            u, w = va[lo:hi][ii], vb[jj]
            out1.append(np.minimum(u, w))
            out2.append(np.maximum(u, w))
        if not out1:
            return empty
        return pd.DataFrame(
            {"v1": np.concatenate(out1), "v2": np.concatenate(out2)}
        )

    ch = F.pmod(F.xxhash64("vec_id"), F.lit(C_chunks)).cast("int")
    tagged = (
        assign.select(*cols, ch.alias("ch"))
        .withColumn("oc", F.explode(F.sequence(F.lit(0), F.lit(C_chunks - 1))))
        .withColumn("oc", F.col("oc").cast("int"))
        .select(
            *cols,
            "ch",
            F.least("ch", "oc").alias("ca"),
            F.greatest("ch", "oc").alias("cb"),
        )
    )
    return tagged.groupBy(*keys, "ca", "cb").applyInPandas(
        chunk_block, "v1 long, v2 long"
    )


def _sem_pairs(
    assign: DataFrame, k: int = SEM_K, n_rows: int | None = None
) -> DataFrame:
    """(v1, v2) within-cluster pairs at rounded cosine >= threshold,
    sub-blocked by the r13 chunking (k clusters → C chunks each when
    the corpus outgrows k·SEM_CHUNK_TARGET rows). ``n_rows``: pass the
    (cheap, metadata-served) base-table count so the chunk decision
    does not force an extra materialization pass over the cached
    assignment frame (measured +0.45 s at sf0.1)."""
    return _block_pairs_arrow(assign, ["cid"], n_blocks=k, n_rows=n_rows)


@query("dedup_semantic", oracle=_SEMDEDUP_SQL)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdicts over the twin-augmented corpus: per vector,
    its k-means cluster, whether it survives (no same-cluster neighbor
    at rounded cosine >= 0.85 with a smaller vec_id), the minimum such
    neighbor (-1 if kept), and how many it had.

    Plan: the emb_kmeans two-round Lloyd loop (centroid literal scans,
    k x dim driver collect per round), then ONE equi-join of the cached
    assignment frame with itself on cid + exact cosine on candidates
    only, then a (vec_id) left anti-ish aggregation for the verdicts.
    100 TB: candidates bounded by cluster size (k scales with n), the
    only corpus-wide shuffles key on cid / vec_id — cartesian-free by
    construction."""
    assign = _sem_assign(spark, sf_dir)
    n_aug = load_table(spark, sf_dir, "embeddings").count() + PLANT_N
    dups = (
        _sem_pairs(assign, n_rows=n_aug)
        .groupBy(F.col("v2").alias("vec_id"))
        .agg(F.min("v1").alias("dup_of"), F.count("*").alias("n_sim"))
    )
    return (
        assign.select("vec_id", F.col("cid").alias("cluster"))
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
            F.coalesce(F.col("n_sim"), F.lit(0)).alias("n_sim"),
        )
    )


_SEM_RECALL_SQL = (
    _SEM_KMEANS_CHAIN
    + ","
    + _SEM_PAIRS_CTE
    + f""",
    truth AS (
      SELECT vec_id AS v1, vec_id + {PLANT_OFFSET} AS v2
      FROM embeddings WHERE vec_id < {PLANT_N}
    ),
    caught AS (
      SELECT COUNT(*) AS n FROM truth t
      JOIN simpairs p ON t.v1 = p.v1 AND t.v2 = p.v2
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_true,
           caught.n AS n_caught,
           ROUND(CAST(caught.n AS DOUBLE) / (SELECT COUNT(*) FROM truth), 4)
             AS recall
    FROM caught
"""
)


@query("dedup_semantic_recall", oracle=_SEM_RECALL_SQL)
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effectiveness gate for the cluster-blocking mechanism: of the
    planted twin pairs (ground truth, cosine ~0.9996), how many does
    SemDeDup catch? A twin is caught iff both copies land in the SAME
    k-means cluster (the blocking decision) — the exact failure mode
    centroid blocking introduces vs LSH. Recall is asserted >= 0.9 by
    tests/test_semdedup.py; the oracle recomputes the same number
    through the unrolled SQL chain."""
    assign = _sem_assign(spark, sf_dir)
    n_aug = load_table(spark, sf_dir, "embeddings").count() + PLANT_N
    pairs = _sem_pairs(assign, n_rows=n_aug)
    truth = (
        assign.filter(F.col("vec_id") < PLANT_N)
        .select(
            F.col("vec_id").alias("v1"),
            (F.col("vec_id") + PLANT_OFFSET).alias("v2"),
        )
    )
    n_true = truth.count()
    caught = truth.join(pairs, ["v1", "v2"]).agg(
        F.count("*").alias("n_caught")
    )
    return caught.select(
        F.lit(n_true).alias("n_true"),
        F.col("n_caught"),
        F.round(F.col("n_caught").cast("double") / F.lit(n_true), 4).alias(
            "recall"
        ),
    )


SEM_K_SCALED = 32  # the k-scales-with-n variant's cluster count

_SEMDEDUP_K32_SQL = (
    _sem_kmeans_chain(SEM_K_SCALED)
    + ","
    + _SEM_PAIRS_CTE
    + """,
    dups AS (
      SELECT v2 AS vec_id, MIN(v1) AS dup_of, COUNT(*) AS n_sim
      FROM simpairs GROUP BY v2
    )
    SELECT a.vec_id, a.cid AS cluster,
           d.vec_id IS NULL AS keep,
           COALESCE(d.dup_of, -1) AS dup_of,
           COALESCE(d.n_sim, 0) AS n_sim
    FROM a2 a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""
)


@query("dedup_semantic_k32", oracle=_SEMDEDUP_K32_SQL)
def dedup_semantic_k32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic with the k-SCALES-WITH-n mitigation applied
    (k=32 vs the baseline's 8): same Lloyd machinery, same pruning
    rule, 4x more clusters — so within-cluster candidate volume
    (sum of cluster sizes squared) drops ~4x, which is EXACTLY the
    knob the baseline's 10x-scale row says production uses
    (k ~ n / target_cluster_size keeps per-cluster cost constant).
    Benchmarked next to the k=8 baseline at both scales so the
    mitigation is measured, not asserted. Oracle unrolls the full
    32-seed chain."""
    assign = _sem_assign(spark, sf_dir, k=SEM_K_SCALED)
    n_aug = load_table(spark, sf_dir, "embeddings").count() + PLANT_N
    dups = (
        _sem_pairs(assign, k=SEM_K_SCALED, n_rows=n_aug)
        .groupBy(F.col("v2").alias("vec_id"))
        .agg(F.min("v1").alias("dup_of"), F.count("*").alias("n_sim"))
    )
    return (
        assign.select("vec_id", F.col("cid").alias("cluster"))
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
            F.coalesce(F.col("n_sim"), F.lit(0)).alias("n_sim"),
        )
    )


# --- hierarchical SemDeDup: the k∝n arm that SCALES -------------------------
#
# The flat k∝n mitigation (dedup_semantic_k32) holds per-cluster pair
# cost constant only by growing k linearly — and flat Lloyd assignment
# costs n·k distance evaluations, so at 100× corpus growth the ASSIGN
# stage becomes the cliff the pair stage used to be (measured in
# SCALE.md, "100× embeddings experiment (r8)": flat k=32 at 100×
# embeddings leaves Σ|c|²/2 ≈ 6.5e8 candidate pairs, and scaling k to
# ~3200 would cost 6.4e8 full-dim assign evaluations instead). The
# standard fix (faiss-style coarse quantizer; Abbas et al. 2023 §3
# cluster with faiss) is HIERARCHICAL k-means: √k coarse cells, then √k
# fine cells WITHIN each coarse cell — effective k cells at n·2√k assign
# cost.
# Both levels target cluster size ~TARGET_CELL, so k tracks n with no
# hand-set constant: kk = ⌈√(n / TARGET_CELL)⌉ per level.
#
# Determinism (registry rules): coarse level is exactly the
# dedup_semantic chain with k=kk; fine seeds are each cell's first kk
# members by vec_id (fid = dense 0..kk−1 in vec_id order); fine
# assignment rounds dist to 4 dp with fid tie-break; fine means via
# DECIMAL(38,12)/ROUND 6; pair verdicts identical to dedup_semantic.

TARGET_CELL = 64  # target members per (coarse, fine) cell


def _hier_kk(n: int) -> int:
    import math

    return max(2, math.ceil(math.sqrt(n / float(TARGET_CELL))))


def _sem_kmeans_chain_dyn() -> str:
    """The dedup_semantic Lloyd chain with DATA-DEPENDENT k: seeds are
    vec_id < kk where kk = ceil(sqrt(n/TARGET_CELL)) over the
    augmented corpus — the oracle twin of _hier_kk."""
    return (
        f"""
    WITH {_STRICT_AUG_SQL},
    v AS (SELECT vec_id, embedding AS e FROM aug),
    vv AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM v),
    kparams AS (
      SELECT GREATEST(2, CAST(CEIL(SQRT(COUNT(*) / {TARGET_CELL}.0)) AS BIGINT)) AS kk
      FROM aug
    ),
    c0 AS (SELECT vec_id AS cid, e AS c FROM v
           WHERE vec_id < (SELECT kk FROM kparams)),
    """
        + _KM_ASSIGN_SQL.format(a="a0", c="c0", dist_col="", vv="vv")
        + ","
        + _KM_UPDATE_SQL.format(f="f1", a="a0", m="m1", c="c1", v="v")
        + ","
        + _KM_ASSIGN_SQL.format(a="a1", c="c1", dist_col="", vv="vv")
        + ","
        + _KM_UPDATE_SQL.format(f="f2", a="a1", m="m2", c="c2", v="v")
        + ","
        + _KM_ASSIGN_SQL.format(a="a2", c="c2", dist_col="", vv="vv")
    )


# one fine Lloyd assignment: score ONLY against the own-cell seed set
# (equi-join on cid — n·kk evaluations, never n·kk²)
_HIER_ASSIGN_SQL = """
  {a} AS (
    SELECT vec_id, cid, fid FROM (
      SELECT av.vec_id, av.cid, s.fid,
             ROW_NUMBER() OVER (
               PARTITION BY av.vec_id
               ORDER BY ROUND(av.ee - 2 * list_dot_product(av.e, s.c)
                              + list_dot_product(s.c, s.c), 4) ASC, s.fid
             ) AS rn
      FROM av JOIN {s} s ON av.cid = s.cid
    ) WHERE rn = 1
  )
"""

_HIER_UPDATE_SQL = """
  {f} AS (
    SELECT a.cid, a.fid, generate_subscripts(v.e, 1) - 1 AS pos,
           CAST(unnest(v.e) AS DECIMAL(38,12)) AS x
    FROM v JOIN {a} a USING (vec_id)
  ),
  {s} AS (
    SELECT cid, fid, list(cx ORDER BY pos) AS c FROM (
      SELECT cid, fid, pos, ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS cx
      FROM {f} GROUP BY cid, fid, pos
    ) GROUP BY cid, fid
  )
"""

_HIER_SQL = (
    _sem_kmeans_chain_dyn()
    + f""",
    av AS (SELECT a.vec_id, a.cid, vv.e, vv.ee
           FROM a2 a JOIN vv USING (vec_id)),
    fs0 AS (
      SELECT cid, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) - 1 AS fid,
             e AS c
      FROM av QUALIFY fid < (SELECT kk FROM kparams)
    ),
    """
    + _HIER_ASSIGN_SQL.format(a="fa0", s="fs0")
    + ","
    + _HIER_UPDATE_SQL.format(f="ff1", a="fa0", s="fs1")
    + ","
    + _HIER_ASSIGN_SQL.format(a="fa1", s="fs1")
    + ","
    + _HIER_UPDATE_SQL.format(f="ff2", a="fa1", s="fs2")
    + ","
    + _HIER_ASSIGN_SQL.format(a="fa2", s="fs2")
    + f""",
    simpairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM fa2 a JOIN fa2 b
        ON a.cid = b.cid AND a.fid = b.fid AND a.vec_id < b.vec_id
      JOIN v va ON a.vec_id = va.vec_id
      JOIN v vb ON b.vec_id = vb.vec_id
      WHERE ROUND(list_cosine_similarity(va.e, vb.e), 4) >= {SEM_THRESHOLD}
    ),
    dups AS (
      SELECT v2 AS vec_id, MIN(v1) AS dup_of, COUNT(*) AS n_sim
      FROM simpairs GROUP BY v2
    )
    SELECT a.vec_id, a.cid AS coarse, a.fid AS fine,
           d.vec_id IS NULL AS keep,
           COALESCE(d.dup_of, -1) AS dup_of,
           COALESCE(d.n_sim, 0) AS n_sim
    FROM fa2 a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""
)


def _hier_fine_assign(av: DataFrame, seeds: list[tuple[int, int, list[float]]]) -> DataFrame:
    """One fine assignment pass: score each vector against ONLY its
    own coarse cell's fine centroids (n·kk evaluations), rounded-dist
    argmin with fid tie-break.

    r12 optimization (guide §4.2): one grouped blocked-numpy Arrow
    pass (mapInPandas, rows batched then sub-grouped by cid) replaces
    the former broadcast equi-join + per-pair catalyst 64-dim fold +
    per-vector window rank — the _knn_rank_arrow recipe restricted to
    each vector's own cell. Float parity: dist = (ee − 2·dot) + cc
    with dot/cc accumulated in ASCENDING dim order, HALF_UP-rounded
    (trunc(x·1e4 ± .5)); fids per cell are argmin'd in ascending fid
    order so numpy's first-occurrence rule IS the fid tie-break."""
    by_cid: dict[int, tuple[list[int], list[list[float]]]] = {}
    for cid, fid, c in sorted(seeds):
        by_cid.setdefault(cid, ([], []))
        by_cid[cid][0].append(fid)
        by_cid[cid][1].append([float(x) for x in c])

    def gen(batches):
        import numpy as np
        import pandas as pd

        mats = {}
        for cid, (fids, cents) in by_cid.items():
            C = np.asarray(cents, dtype=np.float64)
            cc = np.zeros(len(fids))
            for j in range(C.shape[1]):  # sequential dim order
                cc += C[:, j] * C[:, j]
            mats[cid] = (np.asarray(fids, dtype=np.int64), C, cc)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for cid, grp in pdf.groupby("cid", sort=False):
                fids, C, cc = mats[int(cid)]
                E = np.stack(grp["e"].to_numpy()).astype(np.float64)
                ee = grp["ee"].to_numpy().astype(np.float64)
                dot = np.zeros((len(grp), len(fids)))
                for j in range(C.shape[1]):  # sequential dim order
                    dot += np.outer(E[:, j], C[:, j])
                dist = ee[:, None] - 2 * dot + cc[None, :]
                dist = np.trunc(dist * 1e4 + np.copysign(0.5, dist)) / 1e4
                ix = np.argmin(dist, axis=1)  # fids ascending → tie-break
                yield pd.DataFrame(
                    {
                        "vec_id": grp["vec_id"].to_numpy(),
                        "cid": np.full(len(grp), int(cid), dtype=np.int32),
                        "fid": fids[ix].astype(np.int32),
                        "e": grp["e"].to_numpy(),
                    }
                )

    return av.select("vec_id", "cid", "e", "ee").mapInPandas(
        gen, "vec_id long, cid int, fid int, e array<double>"
    )


def _hier_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, fid, e) after coarse Lloyd (kk cells) + grouped
    fine Lloyd (kk sub-cells per coarse cell), kk = ceil(sqrt(n/64))."""
    aug = _strict_aug(spark, sf_dir)
    vv = (
        aug.select("vec_id", F.col("embedding").alias("e"))
        .withColumn("ee", _dot(F.col("e"), F.col("e")))
        .cache()
    )
    kk = _hier_kk(vv.count())
    # coarse Lloyd + assignment on the blocked Arrow ranker (same
    # r12 swap as _sem_assign — math identical to the catalyst ranker)
    cents = lloyd_centroids(
        vv, kk, SEM_ITERS,
        assign_fn=lambda f, c: _knn_rank_arrow(f, c, 1).select("cid", "e"),
    )
    av = (
        _knn_rank_arrow(vv, cents, 1)
        .select("vec_id", "e", "cid")
        .join(vv.select("vec_id", "ee"), "vec_id")
        .cache()
    )
    # fine seeds: each cell's first kk members by vec_id
    from pyspark.sql.window import Window

    seeds_df = (
        av.withColumn(
            "fid",
            F.row_number().over(Window.partitionBy("cid").orderBy("vec_id")) - 1,
        )
        .filter(F.col("fid") < kk)
        .select("cid", "fid", "e")
    )
    seeds = [
        (int(r["cid"]), int(r["fid"]), [float(x) for x in r["e"]])
        for r in seeds_df.collect()
    ]
    for it in range(SEM_ITERS):
        assigned = _hier_fine_assign(av, seeds)
        means = (
            assigned.select(
                "cid", "fid", F.posexplode("e").alias("pos", "xd")
            )
            .select("cid", "fid", "pos", F.col("xd").cast("decimal(38,12)").alias("x"))
            .groupBy("cid", "fid", "pos")
            .agg(F.round(F.sum("x").cast("double") / F.count("*"), 6).alias("cx"))
            .collect()
        )
        by_cell: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_cell.setdefault((int(r["cid"]), int(r["fid"])), {})[int(r["pos"])] = float(r["cx"])
        seeds = [
            (cid, fid, [pos_map[p] for p in sorted(pos_map)])
            for (cid, fid), pos_map in sorted(by_cell.items())
        ]
    return _hier_fine_assign(av, seeds).cache()


@query("dedup_semantic_hier", oracle=_HIER_SQL)
def dedup_semantic_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on a HIERARCHICAL k-means blocking (coarse √k cells ×
    fine √k sub-cells, k = n/64 tracking the corpus) — the k∝n arm
    that survives 100× corpus growth: flat k∝n assignment costs n·k
    distance evaluations (the cliff SCALE.md's "100× embeddings
    experiment (r8)" measures), hierarchical costs n·2√k while keeping
    the pair stage pair-bound at Σ|cell|²/2 ≈ n·64/2. Same pruning
    rule and verdict schema as dedup_semantic (keep unless a same-cell
    lower-id neighbor at rounded cosine ≥ 0.85 exists), with both
    blocking levels exposed.

    Plan: coarse level = the dedup_semantic Lloyd loop (broadcast
    centroid frame, k×dim driver collects); fine level = GROUPED Lloyd
    — fine centroids live in a broadcast (cid, fid, c) frame equi-
    joined on cid so each vector only scores its own cell's √k
    sub-centroids; the pair stage equi-joins on (cid, fid). The only
    corpus-wide shuffles key on vec_id / (cid, fid) — cartesian-free,
    collect sizes bounded by k·dim. Reference (snowplow/kinesis-s3)
    has no query surface (SURVEY.md §2); extends the LLM-curation
    north star (Abbas et al. 2023, faiss coarse-quantizer practice)."""
    assign = _hier_assign(spark, sf_dir)
    pairs = _block_pairs_arrow(assign, ["cid", "fid"])
    dups = pairs.groupBy(F.col("v2").alias("vec_id")).agg(
        F.min("v1").alias("dup_of"), F.count("*").alias("n_sim")
    )
    return (
        assign.select("vec_id", F.col("cid").alias("coarse"), F.col("fid").alias("fine"))
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "coarse",
            "fine",
            F.col("dup_of").isNull().alias("keep"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
            F.coalesce(F.col("n_sim"), F.lit(0)).alias("n_sim"),
        )
    )
