"""Embedding-column utilities (north-star extension; BASELINE.json):
L2 stats + int8 quantization, and exact per-label centroids — the
vector-side prep steps (normalize → quantize → cluster stats) that sit
next to the ANN operators in a training-data pipeline.

Determinism: cross-element sums go through DECIMAL(38,12) so the
result is independent of addition order (registry rules); per-element
quantization uses FLOOR(x+0.5) rather than round() (identical IEEE
expression tree in both engines, no engine-specific rounding mode).

Scale: both queries are a single scan + (for centroids) one
explode→agg shuffle keyed by (label, pos) — |labels|×dim output rows,
partial aggregation map-side. No joins, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_s3_spark.operators._decimal import round_half_up
from kinesis_s3_spark.operators.registry import query
from kinesis_s3_spark.sources.tables import load_table

_DEC = "decimal(38,12)"


def _vec_d(col):
    """float[] -> double[] (all math in doubles, cast once)."""
    return F.transform(col, lambda x: x.cast("double"))


@query(
    "emb_normalize_quantize",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    m AS (
      SELECT vec_id, e,
             list_sum(list_transform(e, x -> CAST(x*x AS DECIMAL(38,12)))) AS ss,
             nullif(list_max(list_transform(e, x -> abs(x))), 0) AS max_abs
      FROM v
    )
    SELECT vec_id,
           ROUND(sqrt(CAST(ss AS DOUBLE)), 6) AS l2_norm,
           ROUND(max_abs, 6) AS max_abs,
           md5(array_to_string(list_transform(e,
             x -> CAST(FLOOR(x / max_abs * 127.0 + 0.5) AS BIGINT)), ','))
             AS q_digest
    FROM m
    """,
)
def emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and symmetric int8 quantization (scale =
    max|x|/127), with the quantized codes digest-gated so both engines
    must produce the identical 64 int8 values per vector.

    One scan, zero shuffles — the whole thing runs inside the scan
    pipeline; at 100 TB this is the map stage of an embedding
    compaction job."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = _vec_d(F.col("embedding"))
    withm = emb.select(
        "vec_id",
        e.alias("e"),
        F.aggregate(
            F.transform(e, lambda x: (x * x).cast(_DEC)),
            F.lit(0).cast(_DEC),
            # Spark widens decimal + to (38,11); re-cast keeps the
            # accumulator type stable (values ≪ 1e26, cast is exact)
            lambda acc, x: (acc + x).cast(_DEC),
        ).alias("ss"),
        F.nullif(F.array_max(F.transform(e, F.abs)), F.lit(0.0)).alias("max_abs"),
    )
    quant = F.transform(
        F.col("e"),
        lambda x: F.floor(x / F.col("max_abs") * 127.0 + 0.5).cast("long"),
    )
    return withm.select(
        "vec_id",
        F.round(F.sqrt(F.col("ss").cast("double")), 6).alias("l2_norm"),
        F.round("max_abs", 6).alias("max_abs"),
        F.md5(F.concat_ws(",", F.transform(quant, lambda q: q.cast("string")))).alias(
            "q_digest"
        ),
    )


@query(
    "emb_label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding::DOUBLE[]) AS DECIMAL(38,12)) AS x
      FROM embeddings
    )
    SELECT label, pos,
           COUNT(*) AS n,
           ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS centroid
    FROM flat GROUP BY label, pos
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label centroids in long form (label, dim position,
    mean) — the k-means/IVF 'update' step as one declarative pass.

    posexplode → groupBy(label, pos) with decimal sums: the shuffle
    carries |labels| × dim partial aggregates per task (map-side
    combine), never raw vectors."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    flat = emb.select(
        "label",
        F.posexplode(_vec_d(F.col("embedding"))).alias("pos", "xd"),
    ).select("label", "pos", F.col("xd").cast(_DEC).alias("x"))
    return flat.groupBy("label", "pos").agg(
        F.count("*").alias("n"),
        F.round(F.sum("x").cast("double") / F.count("*"), 6).alias("centroid"),
    )


# --- k-means (Lloyd's iterations) --------------------------------------------

K_CLUSTERS = 8
KMEANS_ITERS = 2  # seed-assign → update, twice; output = assignment under c2

# one Lloyd round in SQL: assignment under centroid set {p_cent} → the
# re-computed centroid lists. Distances are ROUND(·, 4) BEFORE the
# argmin with cid as tie-break (the IVF-assignment determinism rule);
# means go through DECIMAL(38,12) and ROUND(·, 6) (emb_label_centroids
# rule) so the next round's centroids are bit-identical across engines.
# {vv}/{v} name the (vec_id, e[, ee]) source frames so the SAME
# templates serve full-vector k-means AND per-subspace PQ codebook
# training (ann.py) — default "vv"/"v" below keeps the original text.
_KM_ASSIGN_SQL = """
  {a} AS (
    SELECT vec_id, cid{dist_col} FROM (
      SELECT vv.vec_id, c.cid,
             ROUND(vv.ee - 2 * list_dot_product(vv.e, c.c)
                   + list_dot_product(c.c, c.c), 4) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY vv.vec_id
               ORDER BY ROUND(vv.ee - 2 * list_dot_product(vv.e, c.c)
                              + list_dot_product(c.c, c.c), 4) ASC, c.cid
             ) AS rn
      FROM {vv} vv, {c} c
    ) WHERE rn = 1
  )
"""

_KM_UPDATE_SQL = """
  {f} AS (
    SELECT a.cid, generate_subscripts(v.e, 1) - 1 AS pos,
           CAST(unnest(v.e) AS DECIMAL(38,12)) AS x
    FROM {v} v JOIN {a} a USING (vec_id)
  ),
  {m} AS (
    SELECT cid, pos, ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS cx
    FROM {f} GROUP BY cid, pos
  ),
  {c} AS (SELECT cid, list(cx ORDER BY pos) AS c FROM {m} GROUP BY cid)
"""

_KMEANS_SQL = (
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vv AS (SELECT vec_id, e, list_dot_product(e, e) AS ee FROM v),
    c0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {K_CLUSTERS}),
    """
    + _KM_ASSIGN_SQL.format(a="a0", c="c0", dist_col="", vv="vv")
    + ","
    + _KM_UPDATE_SQL.format(f="f1", a="a0", m="m1", c="c1", v="v")
    + ","
    + _KM_ASSIGN_SQL.format(a="a1", c="c1", dist_col="", vv="vv")
    + ","
    + _KM_UPDATE_SQL.format(f="f2", a="a1", m="m2", c="c2", v="v")
    + ","
    + _KM_ASSIGN_SQL.format(a="a2", c="c2", dist_col=", dist", vv="vv")
    + """
    SELECT vec_id, cid AS cluster, dist FROM a2
    """
)


def _dot(v1, v2):
    """Left-to-right double dot product — the summation order DuckDB's
    list_dot_product uses (cosine_sim precedent)."""
    return F.aggregate(
        F.zip_with(v1, v2, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )


def kmeans_vv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e: double[], ee: e·e), CACHED — the frame every Lloyd
    pass re-reads (assignment scans, update explodes, seed collect)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        emb.select("vec_id", _vec_d(F.col("embedding")).alias("e"))
        .withColumn("ee", _dot(F.col("e"), F.col("e")))
        .cache()
    )


def _km_assign(vv: DataFrame, cents: list[tuple[int, list[float]]], with_dist: bool) -> DataFrame:
    """Assignment pass: per-vector argmin over the centroid set.

    r12 optimization (guide §4.2): rides ann._knn_rank_arrow (blocked
    numpy, one mapInPandas pass) — the former catalyst ranker
    (broadcast k-row centroid frame, n·k higher-order-function fold
    pairs, per-vector window rank) is gone; every consumer of the
    k-means family shares the Arrow ranker's gated math (same rounded
    dist, same cid tie-break)."""
    from kinesis_s3_spark.operators.ann import _knn_rank_arrow

    out = _knn_rank_arrow(vv, cents, 1, with_dist=with_dist)
    cols = ["vec_id", "e", "cid"] + (["dist"] if with_dist else [])
    return out.select(*cols)


def lloyd_centroids(
    vv: DataFrame, k: int, iters: int, assign_fn=None
) -> list[tuple[int, list[float]]]:
    """Run ``iters`` Lloyd rounds from deterministic seeds
    (vec_id < k) and return the refined centroid list. Each round is
    one assignment scan + one |k|×dim decimal-mean shuffle collected to
    the driver (k×d doubles — legitimately driver-sized) and
    re-broadcast as the next round's centroid set. Empty clusters drop
    out of the list, identically in the DuckDB unrolled oracle.

    ``assign_fn(vv, cents) -> DataFrame[cid, e]`` overrides the
    assignment pass (default: the blocked Arrow ranker via
    _km_assign — r12; same argmin semantics as the retired catalyst
    ranker, ~10× cheaper per pair at corpus-sized k)."""
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["e"]])
        for r in vv.filter(F.col("vec_id") < k).select("vec_id", "e").collect()
    ]
    for _ in range(iters):
        assigned = (
            _km_assign(vv, cents, with_dist=False)
            if assign_fn is None
            else assign_fn(vv, cents)
        )
        # r13: the r12 batch-11 "wide decimal aggregate" form (64
        # DECIMAL(38,12) SUM columns keyed by cid alone) is REVERTED to
        # this posexplode → groupBy(cid, pos) form. Measured (interleaved
        # single-session A/B, tools/ab_pkg.py, sf0.1 local[32]): every
        # trainer consumer regressed ~2× under the wide form
        # (ann_knn_join_ivf 2.98→5.91 s, ann_knn_classify 2.99→5.58,
        # graph_label_propagation 4.67→9.04), and the bisect pinned the
        # whole regression on that one commit. Root cause: each Lloyd
        # round plans/codegens a fresh 64-sum/64-round aggregate (the
        # emb_power_iteration batch-18 disease, lower grade), while the
        # supposed exchange saving was never real — hash aggregation is
        # map-side combined, so THIS form already sends only
        # cells×dims×partitions skinny rows (same bytes as the wide
        # form's cells×partitions wide rows) at any scale. Decimal sums
        # are exact and order-free in both forms → bit-identical means.
        flat = assigned.select(
            "cid", F.posexplode("e").alias("pos", "xd")
        ).select("cid", "pos", F.col("xd").cast(_DEC).alias("x"))
        means = (
            flat.groupBy("cid", "pos")
            .agg(F.round(F.sum("x").cast("double") / F.count("*"), 6).alias("cx"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = float(r["cx"])
        cents = [
            (cid, [pos_map[p] for p in sorted(pos_map)])
            for cid, pos_map in sorted(by_cid.items())
        ]
    return cents


@query("emb_kmeans", oracle=_KMEANS_SQL)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding column (k=8, 2 iterations,
    deterministic seeds = vec_id < k): the iterative-ML shape the IVF
    index's 'real' training step would use. The DuckDB oracle unrolls
    both iterations as a CTE chain, so the gate checks every
    assignment AND every recomputed centroid bit-for-bit.

    Spark-first loop: each iteration is (1) an assignment pass — the
    k×d centroid LITERAL is scored against every vector inside the
    scan (no join, no shuffle of vectors) with the per-vector argmin
    as a (vec_id)-window row_number; (2) an update pass — posexplode →
    groupBy(cid, pos) decimal means (map-side combined, |k|×dim output
    rows), collected to the driver (k×d doubles — the one legitimately
    driver-sized object) and re-broadcast as the next literal.
    Determinism: dist² = ee − 2·e·c + |c|² with every dot in DuckDB's
    left-to-right order, rounded to 4 dp before the cid-tie-broken
    argmin; centroid means decimal-summed and rounded to 6 dp.
    100 TB: identical plan per round — two scans and one |k|×dim
    shuffle per iteration, cluster count bounded by the literal size
    (k ≲ 10⁴ before broadcast cost matters; beyond that the centroid
    set becomes a broadcast join, same semantics)."""
    vv = kmeans_vv(spark, sf_dir)
    cents = lloyd_centroids(vv, K_CLUSTERS, KMEANS_ITERS)
    return _km_assign(vv, cents, with_dist=True).select(
        "vec_id", F.col("cid").alias("cluster"), "dist"
    )


# --- top principal direction (power iteration) -------------------------------

POWER_ITERS = 2


def _seed_component_sql(k: str) -> str:
    return (
        f"(((('0x' || substr(md5('p' || CAST({k} AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000)"
        " / 1000.0)"
    )


def _power_seed() -> list[float]:
    """md5-seeded start vector (the 'p' domain — distinct from the ANN
    plane and twin streams)."""
    import hashlib

    out = []
    for k in range(64):
        h = int(hashlib.md5(f"p{k}".encode()).hexdigest()[:15], 16)
        out.append(((h % 2001) - 1000) / 1000.0)
    return out


# one power round in SQL: w = Xᵀ(X·v) with decimal row-sums, then
# normalize — w_j and the norm both rounded to 6 dp so the next round's
# vector is bit-identical across engines (the emb_kmeans rounding rule)
_POWER_ROUND_SQL = """
    s{k} AS (SELECT vec_id, e, list_dot_product(e, {v}) AS s FROM vv),
    w{k} AS (
      SELECT pos, ROUND(CAST(SUM(CAST(x * s AS DECIMAL(38,12))) AS DOUBLE), 6) AS w
      FROM (
        SELECT s, generate_subscripts(e, 1) - 1 AS pos, unnest(e) AS x FROM s{k}
      ) GROUP BY pos
    ),
    n{k} AS (
      SELECT ROUND(sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)), 6) AS nrm
      FROM w{k}
    ),
    v{k} AS (SELECT list(ROUND(w / (SELECT nrm FROM n{k}), 6) ORDER BY pos) AS v FROM w{k})
"""

# shared WITH-chain (scan + seed + unrolled rounds) — reused verbatim
# by the projection oracle below so both gates run the identical
# training chain (the quality_lr _lr_chain pattern)
_POWER_CHAIN = (
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vv AS (SELECT vec_id, e FROM v),
    v0 AS (SELECT [{_seed_component_sql('k')} for k in range(0, 64)] AS v),
    """
    + ",".join(
        _POWER_ROUND_SQL.format(k=k, v=f"(SELECT v FROM v{k-1})")
        for k in range(1, POWER_ITERS + 1)
    )
)

_POWER_SQL = (
    _POWER_CHAIN
    + f"""
    SELECT pos, ROUND(w / (SELECT nrm FROM n{POWER_ITERS}), 6) AS component
    FROM w{POWER_ITERS}
"""
)


@query("emb_power_iteration", oracle=_POWER_SQL)
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix by
    power iteration — the PCA/whitening step of an embedding pipeline,
    and the fourth iterative algorithm in the engine (k-means, label
    propagation, BPE merges, now an eigenvector).

    Spark-first: the covariance matrix is NEVER materialized — each
    round is w = Xᵀ(X·v) as two fused passes over one cached scan:
    s = x·v per row (left-to-right fold, the cosine_sim order), then
    posexplode → groupBy(pos) decimal sums (64 cells through the
    shuffle, map-side combined). The per-round vector is a broadcast
    literal, like the k-means centroids; w and the L2 norm round to
    6 dp so the DuckDB oracle unrolls both rounds bit-exactly.

    Scale: per round one scan + a 64-cell shuffle; rounds are the
    convergence budget. 100 TB: identical plan."""
    vec = power_vector(spark, sf_dir)
    return spark.createDataFrame(
        [(p, v) for p, v in enumerate(vec)], "pos int, component double"
    )


def power_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    """The POWER_ITERS-round loop itself, returning the final unit
    vector as 64 driver floats — shared by emb_power_iteration (gated
    output) and emb_pca_project (downstream projection)."""
    vv = kmeans_vv(spark, sf_dir)
    vec = _power_seed()
    norm = None
    for _ in range(POWER_ITERS):
        vlit = F.array(*[F.lit(float(x)) for x in vec])
        s = vv.select("vec_id", "e", _dot(F.col("e"), vlit).alias("s"))
        w = (
            s.select("s", F.posexplode("e").alias("pos", "x"))
            .groupBy("pos")
            .agg(
                F.round(
                    F.sum((F.col("x") * F.col("s")).cast(_DEC)).cast("double"), 6
                ).alias("w")
            )
        )
        w = w.cache()
        nrow = (
            w.agg(
                F.round(
                    F.sqrt(F.sum((F.col("w") * F.col("w")).cast(_DEC)).cast("double")), 6
                ).alias("nrm")
            ).collect()[0]
        )
        norm = float(nrow["nrm"])
        # next vector = ROUND(w / nrm, 6) computed ENGINE-side (F.round,
        # HALF_UP) so the only two rounding implementations in play are
        # the gated pair (Spark F.round / DuckDB ROUND) — no Python
        # banker's round() as a third divergence point. w is cached, so
        # this second action rescans 64 cached rows, not the corpus.
        rows = w.select(
            "pos", F.round(F.col("w") / F.lit(norm), 6).alias("c")
        ).collect()
        w.unpersist()
        vec = [float(r["c"]) for r in sorted(rows, key=lambda r: int(r["pos"]))]
    return vec


_PCA_PROJECT_SQL = (
    _POWER_CHAIN
    + f""",
    pc AS MATERIALIZED (
      SELECT list(ROUND(w / (SELECT nrm FROM n{POWER_ITERS}), 6) ORDER BY pos) AS v
      FROM w{POWER_ITERS}
    ),
    proj AS MATERIALIZED (
      SELECT e.label, ROUND(list_dot_product(v.e, (SELECT v FROM pc)), 6) AS s
      FROM vv v JOIN embeddings e USING (vec_id)
    ),
    stats AS (
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS mean_s,
             CAST(SUM(CAST(s * s AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS q
      FROM proj GROUP BY label
    )
    SELECT label, n, mean_s,
           ROUND(q - mean_s * mean_s, 6) AS var_s
    FROM stats
"""
)


@query("emb_pca_project", oracle=_PCA_PROJECT_SQL)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the power-iteration principal
    direction and report per-label projection statistics (n, mean,
    variance along the top PC) — the downstream consumer of
    emb_power_iteration, and the second composition query built from a
    trained artifact (ann_ivf_kmeans_topk composes emb_kmeans the same
    way). A label whose mean projection separates from the others is
    the 1-D evidence the embedding space encodes it.

    Determinism: the projection reuses the EXACT unrolled training
    chain as emb_power_iteration's oracle (shared _POWER_CHAIN), with
    scores rounded 6 and per-label moments decimal-summed.

    Scale: the trained vector is 64 driver floats → broadcast literal;
    projection is a map-side fold per row; moments are one
    map-side-combined shuffle on the (tiny) label key."""
    vec = power_vector(spark, sf_dir)
    vv = kmeans_vv(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    vlit = F.array(*[F.lit(float(x)) for x in vec])
    proj = vv.join(emb, "vec_id").select(
        "label", F.round(_dot(F.col("e"), vlit), 6).alias("s")
    )
    stats = proj.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(F.col("s").cast(_DEC)).cast("double") / F.count("*"), 6).alias(
            "mean_s"
        ),
        (F.sum((F.col("s") * F.col("s")).cast(_DEC)).cast("double") / F.count("*")).alias(
            "q"
        ),
    )
    return stats.select(
        "label",
        "n",
        "mean_s",
        F.round(F.col("q") - F.col("mean_s") * F.col("mean_s"), 6).alias("var_s"),
    )


PRUNE_FRAC = 0.2  # drop the farthest 20% per label


@query(
    "emb_prototype_prune",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding::DOUBLE[]) AS DOUBLE) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos,
             ROUND(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS c
      FROM flat GROUP BY label, pos
    ),
    d AS (
      SELECT f.vec_id, f.label,
             ROUND(CAST(SUM(CAST((f.x - c.c) * (f.x - c.c) AS DECIMAL(38,12)))
                        AS DOUBLE), 4) AS dist2
      FROM flat f JOIN cent c USING (label, pos)
      GROUP BY f.vec_id, f.label
    ),
    r AS (
      SELECT vec_id, label, dist2,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id)
               AS rank,
             COUNT(*) OVER (PARTITION BY label) AS n
      FROM d
    )
    SELECT vec_id, label, dist2, CAST(rank AS BIGINT) AS rank,
           CASE WHEN rank <= FLOOR(n * {PRUNE_FRAC}) THEN 1 ELSE 0 END AS prune
    FROM r
    """,
)
def emb_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance data pruning (the SSL-prototypes recipe,
    Sorscher et al. 2022): squared distance of every vector to its own
    label's centroid, pruning the farthest 20% per label — the
    "drop the outliers/mislabeled tail" pass a curated embedding
    corpus runs before training. Emits every vector with its verdict
    so downstream samplers can invert the policy (keep HARD examples)
    without recomputing.

    Scale: centroids are |labels| × dim rows (broadcast); the distance
    is one posexplode + broadcast-join + per-vector decimal sum —
    shuffle keyed by vec_id with map-side combine; the per-label rank
    window shuffles verdict-sized rows (vec_id, dist2), never vectors.
    Per-dim squared terms go through DECIMAL(38,12) (order-free sum),
    dist2 rounded to 4 dp before ranking, vec_id tie-break."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode(_vec_d(F.col("embedding"))).alias("pos", "x"),
    )
    cent = flat.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast(_DEC)).cast("double") / F.count("*"), 6
        ).alias("c")
    )
    d = (
        flat.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sum(((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast(_DEC))
                .cast("double"),
                4,
            ).alias("dist2")
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), F.col("vec_id"))
    nw = Window.partitionBy("label")
    return (
        d.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*").over(nw))
        .select(
            "vec_id",
            "label",
            "dist2",
            "rank",
            F.when(F.col("rank") <= F.floor(F.col("n") * PRUNE_FRAC), 1)
            .otherwise(0)
            .alias("prune"),
        )
    )


# --- k-center-greedy coreset (diversity selection) ---------------------------
#
# The curation suite prunes REDUNDANT data three ways (SemDeDup,
# prototypes, LSH); this is the complementary selector: pick the k
# vectors that COVER the embedding space (Gonzalez 1985 farthest-point
# traversal, the k-Center-Greedy of Sener & Savarese 2018 coreset
# active learning) — the "diverse subset" primitive a training-data
# pipeline uses to seed labeling/eval sets or cap a over-represented
# mode. Greedy 2-approximation of the k-center radius.
#
# Determinism (registry rules): seed = vec_id 0; per round distances
# rounded to 4 dp (IVF rule) and the farthest point tie-broken by MIN
# vec_id; radius_before is the max-min distance that made the pick.
# Cascade caveat (ADVICE r8): both engines round independently (Spark
# _dot vs DuckDB list_dot_product, possibly different summation
# orders), so a distance landing exactly on a 4-dp rounding boundary
# could flip one greedy pick and cascade through every later round —
# sharper than the one-shot uses of the same rule. Accepted under the
# repo-wide 4-dp convention; if a flake ever appears, compare at
# higher precision or pick via (rounded dist, vec_id) from a single
# canonical summation order.

K_CENTERS = 8


def _kc_dist(e_col, c_vec: list[float]):
    """ROUND(dist², 4) of each vector against ONE center literal —
    the same rounded-euclidean the k-means family uses."""
    c = F.array(*[F.lit(float(x)) for x in c_vec])
    return F.round(
        _dot(e_col, e_col) - 2 * _dot(e_col, c) + _dot(c, c), 4
    )


def _kcenter_rounds() -> str:
    """DuckDB unroll of K_CENTERS-1 greedy rounds: d{i} carries the
    running min distance to the selected set, p{i} the round's pick."""
    parts = [
        f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s0 AS (SELECT vec_id, e FROM v WHERE vec_id = 0),
    d1 AS (
      SELECT v.vec_id, v.e,
             ROUND(list_dot_product(v.e, v.e)
                   - 2 * list_dot_product(v.e, s0.e)
                   + list_dot_product(s0.e, s0.e), 4) AS mind
      FROM v, s0
    )"""
    ]
    for i in range(1, K_CENTERS):
        parts.append(
            f""",
    p{i} AS (SELECT vec_id, e, mind FROM d{i}
             ORDER BY mind DESC, vec_id LIMIT 1)"""
        )
        if i < K_CENTERS - 1:
            parts.append(
                f""",
    d{i + 1} AS (
      SELECT d.vec_id, d.e,
             LEAST(d.mind,
                   ROUND(list_dot_product(d.e, d.e)
                         - 2 * list_dot_product(d.e, p.e)
                         + list_dot_product(p.e, p.e), 4)) AS mind
      FROM d{i} d, p{i} p
    )"""
            )
    sel = ["SELECT 0 AS sel_order, vec_id, 0.0 AS radius_before FROM s0"]
    for i in range(1, K_CENTERS):
        sel.append(
            f"SELECT {i} AS sel_order, vec_id, mind AS radius_before FROM p{i}"
        )
    parts.append("\n" + "\nUNION ALL\n".join(sel) + "\nORDER BY sel_order")
    return "".join(parts)


_KCENTER_SQL = _kcenter_rounds()


@query("emb_kcenter_coreset", oracle=_KCENTER_SQL)
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center-greedy coreset: the K_CENTERS most mutually-distant
    vectors (seed vec_id 0, then repeatedly the point farthest from
    the selected set), each with the coverage radius it closed. The
    DuckDB oracle unrolls all rounds, so every pick and every rounded
    distance is checked bit-for-bit.

    Plan: the running min-distance column folds ONE new rounded
    center-distance per round (LEAST over the cached frame — a
    map-only pass, the center is a dim-length literal); the round's
    pick is a TakeOrderedAndProject top-1 (no full sort, no
    single-partition window) collected as one row. k scans total,
    k·dim driver bytes — the identical cost shape as the Lloyd loop,
    and at 100 TB each round is one codegen'd scan of the vector
    table. Reference (snowplow/kinesis-s3) has no query surface
    (SURVEY §2); extends the LLM-curation north star (Gonzalez 1985;
    Sener & Savarese 2018 k-Center-Greedy)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vv = emb.select("vec_id", _vec_d(F.col("embedding")).alias("e")).cache()
    return kcenter_greedy_frame(spark, vv, K_CENTERS)


def _kc_min_dist_arrow(vv: DataFrame, centers: list[list[float]]) -> DataFrame:
    """(vec_id, e, mind): min over ``centers`` of ROUND(dist², 4) as
    ONE blocked Arrow pass — the numpy twin of the
    per-center-literal catalyst folds (_kc_dist LEAST chain /
    _kc_min_dist_batch transform), which cost n·|centers| 64-dim
    higher-order folds per scan and dominated the k-center queries.

    Float parity (the _knn_rank_arrow convention, and asserted
    against _kc_min_dist_batch by tests/test_embeddings.py): ee / cc /
    dot accumulate in ASCENDING dim order, dist = (ee − 2·dot) + cc,
    HALF_UP-rounded per center BEFORE the min (trunc(x·1e4 ± .5)/1e4 =
    DuckDB ROUND on DOUBLE); min over the rounded values is exact, so
    the flat min ≡ the incremental LEAST chain."""
    cmat = [[float(x) for x in c] for c in centers]

    def gen(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)
        cc = np.zeros(len(cmat))
        for j in range(C.shape[1]):  # sequential dim order
            cc += C[:, j] * C[:, j]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            ee = np.zeros(len(E))
            dot = np.zeros((len(E), len(cmat)))
            for j in range(C.shape[1]):
                ee += E[:, j] * E[:, j]
                dot += np.outer(E[:, j], C[:, j])
            dist = ee[:, None] - 2 * dot + cc[None, :]
            dist = np.trunc(dist * 1e4 + np.copysign(0.5, dist)) / 1e4
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "e": pdf["e"].to_numpy(),
                    "mind": dist.min(axis=1),
                }
            )

    return vv.select("vec_id", "e").mapInPandas(
        gen, "vec_id long, e array<double>, mind double"
    )


def kcenter_greedy_frame(spark: SparkSession, vv: DataFrame, k: int) -> DataFrame:
    """Reusable greedy core over a cached (vec_id, e) frame; its
    crossover against the batched core is in SCALE.md, "Batched
    k-center (r9)".

    r12: examined for the Arrow-kernel swap and deliberately KEPT on
    the catalyst LEAST chain — at k=8 each round scores only n·i fold
    pairs (trivial) and the chain's jobs are plain codegen scans
    (~0.25 s each); routing every round through a mapInPandas stage
    measured +50% wall (isolated probes 2.10 → 3.16 s at sf0.1) from
    the per-round Python stage dispatch. The batched variant, whose
    candidate set is 4× larger and whose scans dominate, DID move to
    _kc_min_dist_arrow."""
    schema = "sel_order int, vec_id long, radius_before double"
    seeds = vv.filter(F.col("vec_id") == 0).select("vec_id", "e").collect()
    if not seeds:  # no seed vector: the oracle selects nothing
        return spark.createDataFrame([], schema)
    seed = seeds[0]
    picks = [(0, int(seed["vec_id"]), 0.0)]
    cur = vv.withColumn("mind", _kc_dist(F.col("e"), [float(x) for x in seed["e"]]))
    for i in range(1, k):
        top = (
            cur.orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .select("vec_id", "e", "mind")
            .limit(1)
            .collect()[0]
        )
        picks.append((i, int(top["vec_id"]), float(top["mind"])))
        if i < k - 1:
            cur = cur.withColumn(
                "mind",
                F.least(
                    F.col("mind"),
                    _kc_dist(F.col("e"), [float(x) for x in top["e"]]),
                ),
            )
    return spark.createDataFrame(picks, schema)


# --- batched k-center (k-means||-style oversampling) -------------------------
#
# emb_kcenter_coreset's greedy loop folds ONE center literal per round:
# k scans and a k-term projection — fine at k=8, impossible at k=10^4
# (VERDICT r8 next #6). The batched variant is the k-means|| move
# (Bahmani et al., VLDB 2012) applied to k-center: OVERSAMPLE a batch
# of candidates per pass (PASSES ≈ 4-8 scans total, independent of k),
# then re-run the exact greedy driver-side on the small candidate set.
# Production k-means|| samples candidates distance-weighted; this twin
# takes the deterministic top-ℓ by (running-min distance DESC, vec_id)
# so the DuckDB oracle can replay every pass and every re-greedy round
# bit-for-bit (registry determinism rules — same 4 dp rounding as the
# greedy twin). Quality trade: a pass's ℓ far points can cluster in one
# far region; the driver-side re-greedy rejects the near-duplicates,
# and the corpus_radius column reports the realized coverage so the
# greedy-vs-batched gap is measurable (SCALE.md, "Batched k-center (r9)").

KB_CENTERS = 16
KB_L = 8
KB_PASSES = 4

_KC_DIST_SQL = (
    "ROUND(list_dot_product({a}.e, {a}.e) - 2 * list_dot_product({a}.e, {b}.e)"
    " + list_dot_product({b}.e, {b}.e), 4)"
)


def _kcenter_batched_sql() -> str:
    """DuckDB unroll: KB_PASSES top-ℓ passes (running-min update via a
    MIN-over-candidates join per pass), then KB_CENTERS-1 exact greedy
    rounds over the collected candidate set's rounded pairwise matrix,
    then the corpus coverage radius of the selected centers."""
    dist = _KC_DIST_SQL
    parts = [
        f"""
    WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s0 AS (SELECT vec_id, e FROM v WHERE vec_id = 0),
    d1 AS MATERIALIZED (SELECT v.vec_id, v.e, {dist.format(a="v", b="s0")} AS mind FROM v, s0)"""
    ]
    for p in range(1, KB_PASSES + 1):
        parts.append(
            f""",
    c{p} AS MATERIALIZED (SELECT vec_id, e, mind FROM d{p} ORDER BY mind DESC, vec_id LIMIT {KB_L})"""
        )
        if p < KB_PASSES:
            parts.append(
                f""",
    u{p + 1} AS (SELECT d.vec_id, MIN({dist.format(a="d", b="c")}) AS nd
                 FROM d{p} d, c{p} c GROUP BY d.vec_id),
    d{p + 1} AS MATERIALIZED (SELECT d.vec_id, d.e, LEAST(d.mind, u.nd) AS mind
                 FROM d{p} d JOIN u{p + 1} u USING (vec_id))"""
            )
    cand_union = " UNION ALL ".join(
        ["SELECT vec_id, e FROM s0"]
        + [f"SELECT vec_id, e FROM c{p}" for p in range(1, KB_PASSES + 1)]
    )
    parts.append(
        f""",
    cand AS MATERIALIZED ({cand_union}),
    pw AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j, {dist.format(a="a", b="b")} AS d
           FROM cand a, cand b),
    g1 AS MATERIALIZED (SELECT i AS vec_id, d AS mind FROM pw WHERE j = 0)"""
    )
    for r in range(1, KB_CENTERS):
        parts.append(
            f""",
    p{r} AS (SELECT vec_id, mind FROM g{r} ORDER BY mind DESC, vec_id LIMIT 1)"""
        )
        if r < KB_CENTERS - 1:
            parts.append(
                f""",
    g{r + 1} AS MATERIALIZED (SELECT g.vec_id, LEAST(g.mind, pw.d) AS mind
                 FROM g{r} g JOIN pw ON pw.i = g.vec_id
                                    AND pw.j = (SELECT vec_id FROM p{r}))"""
            )
    sel_union = " UNION ALL ".join(
        ["SELECT 0 AS sel_order, CAST(0 AS BIGINT) AS vec_id, 0.0 AS radius_before"]
        + [
            f"SELECT {r}, vec_id, mind FROM p{r}"
            for r in range(1, KB_CENTERS)
        ]
    )
    parts.append(
        f""",
    sel AS ({sel_union}),
    selv AS MATERIALIZED (SELECT DISTINCT c.vec_id, c.e FROM cand c JOIN sel s USING (vec_id)),
    cm AS (SELECT v.vec_id, MIN({dist.format(a="v", b="t")}) AS m
           FROM v, selv t GROUP BY v.vec_id),
    cr AS (SELECT MAX(m) AS r FROM cm)
    SELECT s.sel_order, s.vec_id, s.radius_before,
           (SELECT r FROM cr) AS corpus_radius
    FROM sel s ORDER BY sel_order"""
    )
    return "".join(parts)


_KCENTER_BATCHED_SQL = _kcenter_batched_sql()


def _kc_min_dist_batch(e_col, ee_col, centers: list[list[float]]):
    """min over a BATCH of center literals of ROUND(dist², 4), as ONE
    expression: centers pack into a literal array<array<double>>, each
    extended by its self-dot computed driver-side (Python left-to-right
    sum — the same fold order as _dot and DuckDB's list_dot_product,
    so the term ee − 2·dot(e,c) + cc is bit-identical to _kc_dist).
    Replaces the ℓ-deep LEAST chain whose per-term _dot(e,e)
    re-evaluation and plan depth dominated toy-scale wall time
    (16.6 s → plan-compile-bound at 2k vectors)."""
    dim = len(centers[0])
    packed = []
    for c in centers:
        cc = 0.0
        for x in c:
            cc += x * x
        packed.append([float(x) for x in c] + [cc])
    # ONE nested-list literal (one py4j call) — building the same
    # array via per-element F.lit was ~2k Column objects per pass and
    # dominated the pass's wall time at toy scale
    arr = F.lit(packed)

    def term(c):
        dot = F.aggregate(
            F.zip_with(e_col, F.slice(c, 1, dim), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return F.round(ee_col - 2 * dot + F.element_at(c, dim + 1), 4)

    return F.array_min(F.transform(arr, term))


def kcenter_batched_frame(
    spark: SparkSession,
    vv: DataFrame,
    k: int = KB_CENTERS,
    l: int = KB_L,
    passes: int = KB_PASSES,
) -> DataFrame:
    """Reusable core over a cached (vec_id, e) frame; its crossover
    against the greedy core is in SCALE.md, "Batched k-center (r9)"."""
    schema = "sel_order int, vec_id long, radius_before double, corpus_radius double"
    seeds = vv.filter(F.col("vec_id") == 0).select("vec_id", "e").collect()
    if not seeds:
        # no seed vector: the oracle keeps only its literal first pick,
        # and no center covers anything
        return spark.createDataFrame([(0, 0, 0.0, None)], schema)
    seed = seeds[0]
    cand: list[tuple[int, list[float]]] = [(0, [float(x) for x in seed["e"]])]
    for p in range(passes):
        # mind rebuilt FLAT from all candidates so far: min is
        # associative, so this equals the incremental LEAST chain
        # bit-for-bit. r12 (guide §4.2): the scan is the blocked Arrow
        # kernel — the catalyst transform-over-literals form cost
        # n·|cand| 64-dim folds per pass (see _kc_min_dist_arrow's
        # parity note; asserted equal in tests/test_embeddings.py)
        top = (
            _kc_min_dist_arrow(vv, [cv for _, cv in cand])
            .orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .select("vec_id", "e")
            .limit(l)
            .collect()
        )
        cand.extend((int(t["vec_id"]), [float(x) for x in t["e"]]) for t in top)
    # rounded pairwise matrix of the (1 + passes·ℓ)-point candidate
    # set, computed DRIVER-SIDE: the candidates are already collected,
    # and a Spark cross join over 33 rows cost 8.8 s of plan/codegen
    # for ~1k pairs. Bit-exact to the engines: dots accumulate
    # left-to-right in float64 (the _dot / list_dot_product fold
    # order), and round_half_up mirrors Spark's F.round exactly. The
    # re-greedy below only COMPARES these values, so the oracle's
    # identical greedy over DuckDB's rounded matrix picks the same
    # centers (4 dp convention). At k ≳ 10⁴ (≈2k·dim² pair
    # dots) this moves to blocked numpy with a canonical summation
    # order — documented escalation, not needed at gated sizes.
    def _pydot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for xa, xb in zip(a, b):
            acc += xa * xb
        return acc

    ee_by_id = {i: _pydot(e, e) for i, e in cand}
    D = {
        (i, j): round_half_up(ee_by_id[i] - 2 * _pydot(ei, ej) + ee_by_id[j], 4)
        for i, ei in cand
        for j, ej in cand
    }
    ids = list(dict.fromkeys(i for i, _ in cand))
    mind = {i: D[(i, 0)] for i in ids}
    picks = [(0, 0, 0.0)]
    for r in range(1, k):
        nxt = max(ids, key=lambda i: (mind[i], -i))
        picks.append((r, int(nxt), float(mind[nxt])))
        for i in ids:
            mind[i] = min(mind[i], D[(i, nxt)])
    # corpus coverage radius of the selected set: ONE more Arrow scan
    # (the scale metric the greedy twin cannot afford to re-check per
    # round at large k)
    by_id = dict(cand)
    radius = float(
        _kc_min_dist_arrow(vv, [by_id[vid] for _, vid, _rb in picks])
        .agg(F.max("mind"))
        .collect()[0][0]
    )
    return spark.createDataFrame([(o, i, rb, radius) for o, i, rb in picks], schema)


@query("emb_kcenter_batched", oracle=_KCENTER_BATCHED_SQL)
def emb_kcenter_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-center coreset (k-means||-style oversampling +
    driver-side re-greedy): KB_CENTERS centers from KB_PASSES top-ℓ
    passes instead of k greedy scans, plus the realized corpus
    coverage radius. Scans: passes + pairwise + radius = O(passes),
    independent of k — the large-k path where emb_kcenter_coreset's
    one-pick-per-round folding stops (k·dim literals and k jobs).
    The oracle unrolls every pass AND every re-greedy round, so the
    candidate sets, the picks, and both radius columns are gated
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    vv = emb.select("vec_id", _vec_d(F.col("embedding")).alias("e")).cache()
    return kcenter_batched_frame(spark, vv)


_OUTLIER_SQL = r"""
    WITH flat AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding::DOUBLE[]) AS DOUBLE) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos,
             ROUND(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
               AS c
      FROM flat GROUP BY label, pos
    ),
    cn AS (
      SELECT label,
             CAST(SUM(CAST(ROUND(c * c, 10) AS DECIMAL(28,10))) AS DOUBLE) AS nc
      FROM cent GROUP BY label
    ),
    vd AS (
      SELECT f.vec_id, f.label,
             CAST(SUM(CAST(ROUND(f.x * ct.c, 10) AS DECIMAL(28,10))) AS DOUBLE)
               AS dot,
             CAST(SUM(CAST(ROUND(f.x * f.x, 10) AS DECIMAL(28,10))) AS DOUBLE)
               AS nx
      FROM flat f JOIN cent ct ON f.label = ct.label AND f.pos = ct.pos
      GROUP BY f.vec_id, f.label
    ),
    cos AS (
      SELECT vd.vec_id, vd.label,
             ROUND(vd.dot / (sqrt(vd.nx) * sqrt(cn.nc)), 4) AS centroid_cos
      FROM vd JOIN cn USING (label)
    ),
    st AS (
      SELECT label, COUNT(*) AS n,
             CAST(SUM(CAST(centroid_cos AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*)
               AS m,
             CAST(SUM(CAST(centroid_cos * centroid_cos AS DECIMAL(24,8)))
                  AS DOUBLE) / COUNT(*) AS m2
      FROM cos GROUP BY label
    )
    SELECT cos.vec_id, cos.label, cos.centroid_cos,
           ROUND(CASE WHEN st.m2 - st.m * st.m > 0
                      THEN (cos.centroid_cos - st.m)
                           / sqrt(st.m2 - st.m * st.m)
                      ELSE 0 END, 4) AS z_score,
           CASE WHEN st.m2 - st.m * st.m > 0
                THEN abs((cos.centroid_cos - st.m)
                         / sqrt(st.m2 - st.m * st.m)) > 2
                ELSE false END AS is_outlier
    FROM cos JOIN st USING (label)
"""


@query("emb_outlier_report", oracle=_OUTLIER_SQL)
def emb_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: every vector's cosine to its OWN label centroid,
    z-scored within the label, outliers flagged at |z| > 2 — the
    mislabeled-example / embedding-drift detector that runs between
    ingestion and training (emb_prototype_prune flags a fixed farthest
    quantile; this standardizes, so thresholds transfer across labels
    with different spreads).

    Plan: centroids are the emb_label_centroids aggregate (decimal
    sums, 6-dp rounding — |labels|×dim rows, broadcastable); the
    per-vector dot/norm reductions run on the exploded (vec, pos)
    frame joined to that broadcast, one groupBy(vec_id) with
    DECIMAL(28,10) sums of 10-dp-rounded products so no result
    depends on addition order; label mean/variance reduce the
    PER-VECTOR cosines (n-sized, not n×dim) with the same decimal
    discipline, and z-scores join back via the bounded label frame.
    Three shuffles total (label×pos, vec, label), all hash aggregates,
    no window anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode(_vec_d(F.col("embedding"))).alias("pos", "x")
    )
    cent = flat.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast(_DEC)).cast("double") / F.count("*"), 6
        ).alias("c")
    )
    d10 = "decimal(28,10)"
    cn = cent.groupBy("label").agg(
        F.sum(F.round(F.col("c") * F.col("c"), 10).cast(d10)).cast("double").alias("nc")
    )
    vd = (
        flat.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.round(F.col("x") * F.col("c"), 10).cast(d10)).cast("double").alias("dot"),
            F.sum(F.round(F.col("x") * F.col("x"), 10).cast(d10)).cast("double").alias("nx"),
        )
    )
    cos = vd.join(F.broadcast(cn), "label").select(
        "vec_id",
        "label",
        F.round(F.col("dot") / (F.sqrt("nx") * F.sqrt("nc")), 4).alias("centroid_cos"),
    )
    st = cos.groupBy("label").agg(
        (F.sum(F.col("centroid_cos").cast("decimal(14,4)")).cast("double") / F.count("*")).alias("m"),
        (
            F.sum((F.col("centroid_cos") * F.col("centroid_cos")).cast("decimal(24,8)")).cast("double")
            / F.count("*")
        ).alias("m2"),
    )
    # degenerate-label guard (ADVICE r9): a zero-variance label (a
    # singleton, or every 4-dp cosine equal) makes m2 − m² ≤ 0 — the
    # raw z would be NaN/Inf and NaN-ordered comparisons can diverge
    # between engines. Emit z=0 / not-outlier, same CASE in the oracle.
    var = F.col("m2") - F.col("m") * F.col("m")
    z = F.when(
        var > 0, (F.col("centroid_cos") - F.col("m")) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return cos.join(F.broadcast(st), "label").select(
        "vec_id",
        "label",
        "centroid_cos",
        F.round(z, 4).alias("z_score"),
        (F.abs(z) > 2).alias("is_outlier"),
    )


_MMD_SQL = """
    WITH f AS (
      SELECT vec_id % 2 AS grp,
             generate_subscripts(embedding::DOUBLE[], 1) - 1 AS pos,
             CAST(unnest(embedding::DOUBLE[]) AS DOUBLE) AS x
      FROM embeddings
    ),
    m AS (
      SELECT grp, pos,
             ROUND(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
               AS mu,
             CAST(SUM(CAST(ROUND(x * x, 10) AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*) AS m2,
             COUNT(*) AS cnt
      FROM f GROUP BY grp, pos
    ),
    d AS (
      SELECT a.pos,
             ROUND((a.mu - b.mu) * (a.mu - b.mu), 10) AS dd,
             ROUND(a.m2 - a.mu * a.mu, 10) AS va,
             ROUND(b.m2 - b.mu * b.mu, 10) AS vb,
             a.cnt AS na, b.cnt AS nb
      FROM m a JOIN m b ON a.pos = b.pos AND a.grp = 0 AND b.grp = 1
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
           ROUND(CAST(SUM(CAST(dd AS DECIMAL(28,10))) AS DOUBLE), 8) AS mmd2,
           ROUND(CAST(SUM(CAST(ROUND(va / na + vb / nb, 10) AS DECIMAL(28,10)))
                 AS DOUBLE), 8) AS null_scale,
           ROUND(CAST(SUM(CAST(dd AS DECIMAL(28,10))) AS DOUBLE)
                 / CAST(SUM(CAST(ROUND(va / na + vb / nb, 10) AS DECIMAL(28,10)))
                        AS DOUBLE), 4) AS drift_ratio,
           CAST(SUM(CAST(dd AS DECIMAL(28,10))) AS DOUBLE)
             > 2 * CAST(SUM(CAST(ROUND(va / na + vb / nb, 10) AS DECIMAL(28,10)))
                        AS DOUBLE) AS drifted
    FROM d
"""


@query("emb_drift_mmd", oracle=_MMD_SQL)
def emb_drift_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample EMBEDDING drift: linear-kernel MMD² = ‖μ_A − μ_B‖²
    between two corpus slices (demo split: even/odd vec_id; in
    production the slices are yesterday's vs today's partitions),
    compared against its null expectation E‖μ̂_A − μ̂_B‖² =
    Σ_d (σ²_d/n_A + σ²_d/n_B) — drifted when the statistic exceeds
    2× that scale. This is the VECTOR-space leg of the drift suite:
    events_drift_{psi,chi2,ks} see scalar/categorical shift and the
    streaming value-KS gauge sees payload shape, but an embedding
    model swap, an encoder version bump, or a domain shift moves the
    MEAN EMBEDDING first — the one-pass statistic production monitors
    alert on (linear-time MMD, Gretton et al. 2012, the linear-kernel
    special case).

    Plan: one posexplode pass → (grp, pos) decimal means/second
    moments (map-side combined, 2·dim output rows) → a dim-sized join
    and one global aggregate. No window, no driver loop; at 100 TB
    the only data-sized work is the single explode scan, and the
    decimal discipline makes both engines' sums order-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    d10 = "decimal(28,10)"
    f = emb.select(
        (F.col("vec_id") % 2).alias("grp"),
        F.posexplode(_vec_d(F.col("embedding"))).alias("pos", "x"),
    )
    m = f.groupBy("grp", "pos").agg(
        F.round(F.sum(F.col("x").cast(_DEC)).cast("double") / F.count("*"), 6).alias("mu"),
        (
            F.sum(F.round(F.col("x") * F.col("x"), 10).cast(d10)).cast("double")
            / F.count("*")
        ).alias("m2"),
        F.count("*").alias("cnt"),
    )
    a = m.filter(F.col("grp") == 0).select(
        "pos", F.col("mu").alias("mu_a"), F.col("m2").alias("m2_a"), F.col("cnt").alias("na")
    )
    b = m.filter(F.col("grp") == 1).select(
        "pos", F.col("mu").alias("mu_b"), F.col("m2").alias("m2_b"), F.col("cnt").alias("nb")
    )
    d = a.join(b, "pos").select(
        "pos",
        F.round((F.col("mu_a") - F.col("mu_b")) * (F.col("mu_a") - F.col("mu_b")), 10).alias("dd"),
        F.round(F.col("m2_a") - F.col("mu_a") * F.col("mu_a"), 10).alias("va"),
        F.round(F.col("m2_b") - F.col("mu_b") * F.col("mu_b"), 10).alias("vb"),
        "na",
        "nb",
    )
    mmd2 = F.sum(F.col("dd").cast(d10)).cast("double")
    nulls = F.sum(
        F.round(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"), 10).cast(d10)
    ).cast("double")
    return d.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.round(mmd2, 8).alias("mmd2"),
        F.round(nulls, 8).alias("null_scale"),
        F.round(mmd2 / nulls, 4).alias("drift_ratio"),
        (mmd2 > 2 * nulls).alias("drifted"),
    )
