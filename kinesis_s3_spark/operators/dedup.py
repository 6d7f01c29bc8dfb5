"""Deduplication operator family for the LLM-data-pipeline surface
(north-star extension; BASELINE.json): exact, normalized-exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

All hash math is md5-based so Spark and the DuckDB oracle compute
bit-identical signatures — the correctness gate then checks the WHOLE
pipeline (shingling → signatures → banding → candidate join → verify),
not just row counts.

Scale design (the part that matters at 100 TB):
- no all-pairs comparison anywhere except inside LSH/band buckets;
- candidate generation is always a shuffle join on a band/bucket key;
- signatures are one explode + one groupBy per doc (linear);
- the only cross join in the file (embedding pairs) is the sf-scale
  baseline; its scale path is the banded ANN in operators/ann.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_s3_spark.functions.text import (
    fingerprint,
    ngrams_from_tokens,
    normalized_text,
    tokens,
)
from kinesis_s3_spark.operators.registry import query
from kinesis_s3_spark.sources.tables import load_table

N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = 3  # N_HASHES / N_BANDS
JACCARD_THRESHOLD = 0.7
SIMHASH_BITS = 60  # 15 hex chars of md5 → sign-safe in a BIGINT
SIMHASH_CHUNKS = 4  # pigeonhole: hamming ≤ 3 ⇒ ≥1 identical 15-bit chunk

# The two pairwise verifies below are quadratic BY DESIGN (they are the
# sf-scale oracle anchors the bucketed paths are measured against), so
# they refuse to run past these sizes instead of silently melting a
# cluster. The scale paths are dedup_minhash_lsh / ann_lsh_bucketed.
EMBEDDING_PAIRWISE_MAX_ROWS = 50_000  # ≤ ~1.25e9 candidate pairs
JACCARD_BLOCK_MAX_ROWS = 10_000  # per blocking-key quadratic bound


class PairwiseScaleError(ValueError):
    """Raised when a quadratic oracle-anchor query is pointed at data
    past its guard cap — the caller should use the bucketed scale path
    (dedup_minhash_lsh / ann_lsh_bucketed) instead."""


# --- exact -------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest doc_id
    (deterministic representative). One shuffle on the 128-bit hash —
    uniformly distributed keys, no skew, linear at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(array_to_string(list_sort(string_split_regex(trim(lower(text)), '\\s+')), ' '))
             AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(array_to_string(list_sort(string_split_regex(trim(lower(text)), '\\s+')), ' '))
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive exact dedup: fingerprint of the lowercased,
    whitespace-collapsed, token-sorted text (catches shuffled copies)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(normalized_text(F.col("text"))).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


# --- MinHash + LSH -----------------------------------------------------------


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word 3-grams."""
    return docs.withColumn("toks", tokens(F.lower(F.col("text")))).select(
        "doc_id", F.array_distinct(ngrams_from_tokens(F.col("toks"), 3)).alias("shingles")
    )


def minhash_signatures(shingled: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, minhashes: array<string>) — min over shingles of
    md5(seed|shingle) per seed, from a shingle_sets frame. Linear:
    one explode, all mins in one aggregate, one shuffle on doc_id."""
    exploded = shingled.select("doc_id", F.explode("shingles").alias("s"))
    # all n_hashes minimums in ONE aggregate over the exploded shingles:
    # no seed explode (n_hashes x fewer rows through the shuffle), and
    # partial (map-side) min still applies per column
    mins = exploded.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("s")))).alias(f"m{seed}")
            for seed in range(n_hashes)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{s}") for s in range(n_hashes)]).alias("minhashes")
    )


def lsh_band_keys(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): hash each band of the signature; docs
    sharing any (band, band_key) are candidate pairs."""
    bands = signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.md5(
                    F.concat_ws("", F.slice(F.col("minhashes"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND))
                ),
            )
        ).alias("band", "band_key"),
    )
    return bands


_MINHASH_ORACLE = f"""
    WITH ws AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS gs
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    ),
    sh AS (SELECT doc_id, unnest(gs) AS s FROM ws),
    mh AS (
      SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || s)) AS m
      FROM sh, (SELECT unnest(range(0, {N_HASHES})) AS seed)
      GROUP BY doc_id, seed
    ),
    sig AS (SELECT doc_id, list(m ORDER BY seed) AS ms FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b,
             md5(ms[b*{ROWS_PER_BAND}+1] || ms[b*{ROWS_PER_BAND}+2] || ms[b*{ROWS_PER_BAND}+3]) AS bk
      FROM sig, (SELECT unnest(range(0, {N_BANDS})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.d1, c.d2,
             CAST(len(list_intersect(g1.gs, g2.gs)) AS DOUBLE) /
             (len(g1.gs) + len(g2.gs) - len(list_intersect(g1.gs, g2.gs))) AS j
      FROM cand c JOIN ws g1 ON c.d1 = g1.doc_id JOIN ws g2 ON c.d2 = g2.doc_id
    )
    SELECT d1, d2, ROUND(j, 6) AS jaccard
    FROM verified WHERE ROUND(j, 6) >= {JACCARD_THRESHOLD}
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → 12 minhashes → 4 bands ×
    3 rows → band-bucket join → exact Jaccard verify ≥ 0.7.

    Scale: candidates come ONLY from equal band keys (a shuffle join on
    band_key — never all-pairs). The verify step joins shingle sets for
    candidate pairs only. At 100 TB: same plan, plus a salt on
    monster buckets; bands/rows tune the recall/cost curve.
    """
    return minhash_pairs(load_table(spark, sf_dir, "documents"))


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """(d1, d2, jaccard) near-dup pairs over any (doc_id, text) frame —
    the reusable core of dedup_minhash_lsh (curation_dedup_pipeline
    runs it on the exact-dedup survivors)."""
    # one cached shingling feeds BOTH the signature pass and the
    # Jaccard verify (the band self-join would otherwise re-derive the
    # whole shingle DAG on each side)
    shingled = shingle_sets(docs).withColumnRenamed("shingles", "gs").cache()
    sig = minhash_signatures(shingled.select("doc_id", F.col("gs").alias("shingles")))
    bands = lsh_band_keys(sig).cache()
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    g1 = shingled.select(F.col("doc_id").alias("d1"), F.col("gs").alias("gs1"))
    g2 = shingled.select(F.col("doc_id").alias("d2"), F.col("gs").alias("gs2"))
    inter = F.size(F.array_intersect("gs1", "gs2")).cast("double")
    union = F.size("gs1") + F.size("gs2") - F.size(F.array_intersect("gs1", "gs2"))
    return (
        cand.join(g1, "d1")
        .join(g2, "d2")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
    )


# --- SimHash -----------------------------------------------------------------


def _hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT — identical in
    DuckDB via ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over word hashes.

    Scale: explode words → 60 conditional sums in ONE aggregate (no
    per-bit row blowup), single shuffle on doc_id."""
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    ).withColumn("h", _hash60(F.col("w")))
    votes = words.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(1).cast("long") * (2**j)).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return votes.select("doc_id", fp.alias("simhash"))


_SIMHASH_FP_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, ('0x' || substr(md5(unnest(string_split_regex(trim(lower(text)), '\\s+'))), 1, 15))::BIGINT AS h
      FROM documents
    ),
    votes AS (
      SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS v
      FROM words, (SELECT unnest(range(0, {SIMHASH_BITS})) AS j)
      GROUP BY doc_id, j
    )
    SELECT doc_id, CAST(SUM(CASE WHEN v >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
"""


@query(
    "dedup_simhash",
    oracle=f"SELECT doc_id, simhash FROM ({_SIMHASH_FP_ORACLE})",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (Charikar): near-identical docs get
    near-identical bit patterns; dedup = small hamming distance."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH fp AS ({_SIMHASH_FP_ORACLE}),
    chunks AS (
      SELECT doc_id, simhash, k, (simhash >> (k * 15)) & 32767 AS chunk
      FROM fp, (SELECT unnest(range(0, {SIMHASH_CHUNKS})) AS k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS s1, b.simhash AS s2
      FROM chunks a JOIN chunks b
        ON a.k = b.k AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole blocking: split the
    60-bit fingerprint into 4 × 15-bit chunks; hamming ≤ 3 guarantees
    at least one chunk matches exactly, so candidates come from shared
    (chunk_idx, chunk_value) cells — never all-pairs.

    Plan (r12): the pair enumeration stays a distributed equi-join on
    (chunk_idx, chunk_value) — an in-array cells rewrite (the
    market-basket recipe) was MEASURED AND REVERTED: this corpus's
    replicated duplicates make a few cells pathologically hot (max
    cell 2,600 docs, 28.5M candidate pairs concentrated in a handful
    of cells at the 10x corpus), so per-cell interpreted pair
    comprehensions serialize the quadratic work into single tasks
    (2.3 s -> 7.6 s at sf1) while the join spreads it across codegen'd
    tasks. What DID land: hamming is computed and filtered ≤ 3 on the
    join output BEFORE the dedupe, so the distinct exchange carries
    only surviving (d1, d2, hamming) triples instead of every raw
    candidate with both 60-bit fingerprints."""
    # cache: the chunk self-join references the fingerprint subtree on
    # both sides — without this the word-explode + 60-vote aggregate
    # runs twice
    fp = simhash_fingerprints(load_table(spark, sf_dir, "documents")).cache()
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), k * 15).bitwiseAND(F.lit(32767))
                    for k in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("k", "chunk"),
    )
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# --- n-gram Jaccard (blocked brute force) -------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH ws AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS gs
      FROM (SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
                 (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6) AS jaccard
    FROM ws a JOIN ws b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
                (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs within a blocking key
    (source): the classic blocked pairwise verify. The block bounds the
    quadratic term; cross-block dups are MinHash's job."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.withColumn("toks", tokens(F.lower(F.col("text")))).select(
        "doc_id", "source", F.array_distinct(ngrams_from_tokens(F.col("toks"), 3)).alias("gs")
    )
    biggest = docs.groupBy("source").count().agg(F.max("count")).first()[0] or 0
    if biggest > JACCARD_BLOCK_MAX_ROWS:
        raise PairwiseScaleError(
            f"dedup_ngram_jaccard: largest 'source' block has {biggest} docs "
            f"(> {JACCARD_BLOCK_MAX_ROWS}); the within-block verify is quadratic — "
            "use dedup_minhash_lsh for corpus-scale near-dup detection"
        )
    a, b = ws.alias("a"), ws.alias("b")
    inter = F.size(F.array_intersect(F.col("a.gs"), F.col("b.gs"))).cast("double")
    union = (
        F.size(F.col("a.gs")) + F.size(F.col("b.gs"))
        - F.size(F.array_intersect(F.col("a.gs"), F.col("b.gs")))
    )
    return (
        a.join(b, (F.col("a.source") == F.col("b.source")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"), "jaccard")
    )


# --- duplicate-cluster resolution (connected components) ---------------------

# label propagation converges in O(component diameter) rounds; dup
# clusters are shallow (near-clique), so this is a backstop, not a
# working bound
_CLUSTER_MAX_ITERS = 40


# dedup pairs -> connected components, as a reusable oracle CTE chain
# (WITH RECURSIVE <chain> yields `reach`(node, lab)); shared by
# dedup_cluster_resolve and curation_dedup_survivorship per the
# build-SQL-from-named-parts rule
_CLUSTER_CTES = f"""WITH RECURSIVE
    ws AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS gs
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    ),
    sh AS (SELECT doc_id, unnest(gs) AS s FROM ws),
    mh AS (
      SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || s)) AS m
      FROM sh, (SELECT unnest(range(0, {N_HASHES})) AS seed)
      GROUP BY doc_id, seed
    ),
    sig AS (SELECT doc_id, list(m ORDER BY seed) AS ms FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b,
             md5(ms[b*{ROWS_PER_BAND}+1] || ms[b*{ROWS_PER_BAND}+2] || ms[b*{ROWS_PER_BAND}+3]) AS bk
      FROM sig, (SELECT unnest(range(0, {N_BANDS})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.d1, c.d2
      FROM cand c JOIN ws g1 ON c.d1 = g1.doc_id JOIN ws g2 ON c.d2 = g2.doc_id
      WHERE ROUND(CAST(len(list_intersect(g1.gs, g2.gs)) AS DOUBLE) /
                  (len(g1.gs) + len(g2.gs) - len(list_intersect(g1.gs, g2.gs))), 6)
            >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    reach AS (
      SELECT doc_id AS node, doc_id AS lab FROM documents
      UNION
      SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
"""


@query(
    "dedup_cluster_resolve",
    oracle=f"""
    {_CLUSTER_CTES}
    SELECT node AS doc_id, MIN(lab) AS cluster_id, (MIN(lab) = node) AS keep
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of a real dedup pipeline: near-dup PAIRS (from
    MinHash+LSH) → connected components → one kept representative per
    cluster (the minimum doc_id). Every doc gets (cluster_id, keep);
    singletons keep themselves.

    Spark-first: the HYBRID resolver (resolve_components) — a short
    min-label head (2 shuffles/round; near-dup graphs are near-cliques
    and converge in 2-3 sweeps), falling through to alternating
    large-star / small-star contraction (Kiveris et al. 2014) on the
    label-contracted graph when a deep component survives the head, so
    a pathological near-dup CHAIN (template/boilerplate corpora
    produce them) costs ~log₂(chain) joins, not chain joins. No
    Python, no driver-side graph; all three resolvers pytest-gated
    equal on random graphs. The DuckDB oracle computes the same
    component minima with a recursive CTE, so the gate checks the
    WHOLE chain: shingles → signatures → bands → verified pairs →
    components → keep flags."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # cache + materialize the PAIR list, not the doubled edge union:
    # both union branches read the cached pairs, so the expensive
    # minhash band join runs exactly once (un-cached, each branch
    # re-evaluates the whole signature pipeline)
    pairs = dedup_minhash_lsh(spark, sf_dir).select("d1", "d2").cache()
    pairs.count()
    labels = resolve_components(docs, pairs)
    pairs.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("lab") == F.col("node")).alias("keep"),
    )


def resolve_labels(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """(node, lab) component minima over the pair edge list via
    min-label propagation — the diameter-rounds twin of
    resolve_labels_star (callers pass a materialized/cached ``pairs``
    frame). Raises past its round cap instead of returning
    under-propagated labels."""
    labels, converged = _minlabel_rounds(ids, pairs, _CLUSTER_MAX_ITERS)
    if not converged:
        # silently returning under-propagated labels is a WRONG ANSWER
        # (a component's min never reaches its far end) — the star
        # resolver handles deep components in O(log n) rounds; this
        # twin refuses instead of lying
        raise RuntimeError(
            f"min-label propagation did not converge in {_CLUSTER_MAX_ITERS} "
            "rounds (component diameter exceeds the cap); use "
            "resolve_labels_star for deep components"
        )
    return labels


def _minlabel_rounds(
    ids: DataFrame, pairs: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool]:
    """Up to ``max_rounds`` min-label sweeps; returns (labels,
    converged). Each label is always the MINIMUM node id within the
    label's ball — a valid contraction key even when unconverged,
    which is what the hybrid resolver builds on."""
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).toDF("a", "b")

    labels = ids.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("lab"))
    converged = False
    for it in range(max_rounds):
        # r12 (guide §2.4): the neighbor-min aggregate, the
        # carry-through of the node's own label and the convergence
        # bookkeeping fuse into ONE union + aggregate keyed on node —
        # the former shape aggregated neighbor mins separately and
        # re-attached them with a left join (a third node-keyed
        # exchange per round). min over the union IS
        # least(own, neighbor-min); `prev` survives as max() because
        # exactly one branch (the node's own row) carries it non-null.
        contrib = edges.join(labels, edges["a"] == labels["node"]).select(
            edges["b"].alias("node"),
            F.col("lab"),
            F.lit(None).cast(labels.schema["lab"].dataType).alias("prev"),
        )
        own = labels.select("node", "lab", F.col("lab").alias("prev"))
        # localCheckpoint (not cache) per round: `labels` appears TWICE
        # in each round's plan (probe side of the join AND carry-through
        # side), so without lineage truncation the logical tree DOUBLES
        # per round — exponential in iterations, OOMs the driver on any
        # component whose diameter exceeds ~15 (seen on random graphs).
        new_labels = (
            contrib.unionByName(own)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"), F.max("prev").alias("prev"))
            .localCheckpoint()
        )
        # round 1 always changes when any edge exists — skip its check
        changed = (
            1
            if it == 0
            else new_labels.filter(F.col("lab") != F.col("prev")).limit(1).count()
        )
        labels = new_labels.select("node", "lab")
        if changed == 0:
            converged = True
            break
    return labels, converged


# Hybrid head length: near-dup graphs are near-cliques in practice, so
# 3 sweeps converge almost always (measured 2-3 at sf0.1/sf1) and the
# star machinery never spins up; a deep chain falls through to the
# star phase on a radius-3-contracted graph, preserving the O(log n)
# worst case.
_HYBRID_HEAD_ROUNDS = 3


def resolve_components(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """(node, lab) component minima — the production resolver behind
    dedup_cluster_resolve and the curation chains. Min-label sweeps
    for the common shallow case (2 shuffles/round, converges in
    diameter rounds); if still unconverged after the short head, the
    remaining work contracts onto the label graph (lab(d1), lab(d2))
    and the alternating-star resolver finishes in O(log n) rounds.
    Composition is exact: every intermediate label is the minimum
    node id of its ball (same component), so star minima over the
    contracted graph ARE component minima, mapped back through one
    join."""
    labels, converged = _minlabel_rounds(ids, pairs, _HYBRID_HEAD_ROUNDS)
    if converged:
        return labels
    contracted = (
        pairs.join(labels.withColumnRenamed("node", "d1"), "d1")
        .withColumnRenamed("lab", "l1")
        .join(labels.withColumnRenamed("node", "d2"), "d2")
        .withColumnRenamed("lab", "l2")
        .select(F.col("l1").alias("d1"), F.col("l2").alias("d2"))
        .filter(F.col("d1") != F.col("d2"))
        .distinct()
    )
    star = resolve_labels_star(
        labels.select(F.col("lab").alias("doc_id")).distinct(), contracted
    ).select(F.col("node").alias("head"), F.col("lab").alias("final"))
    return labels.join(star, labels["lab"] == star["head"]).select(
        "node", F.col("final").alias("lab")
    )


# Alternating large-star / small-star (Kiveris, Lattanzi, Mirrokni,
# Rastogi, Vassilvitskii — "Connected Components in MapReduce and
# Beyond", SoCC 2014) converges in O(log n) rounds regardless of
# component DIAMETER, where min-label propagation above needs
# diameter rounds (a 1000-node boilerplate chain = 1000 joins). The
# cap is a runaway backstop far above the proven bound; the planted
# path-graph test asserts <= 2*log2(n) rounds observed.
_STAR_MAX_ROUNDS = 40


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star step: every node's strictly-LARGER neighbors are
    re-pointed at the minimum of its closed neighborhood. Output edges
    oriented (larger, smaller)."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
    )
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star step: every node's SMALLER neighbors (and the
    node itself) attach to the minimum of the smaller neighborhood."""
    d = e.select(
        F.greatest(F.col("a"), F.col("b")).alias("u"),
        F.least(F.col("a"), F.col("b")).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))  # m < u by construction
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def resolve_labels_star(
    ids: DataFrame, pairs: DataFrame, rounds_out: list[int] | None = None
) -> DataFrame:
    """(node, lab) component minima via alternating large-star /
    small-star — same contract as :func:`resolve_labels`, O(log n)
    rounds instead of O(diameter). Each round is two equi-join +
    groupBy passes over the (bounded, shrinking-toward-stars) edge
    list; convergence = the edge set reaching its star fixed point
    (stars are fixed points of both steps), checked exactly with a
    count + exceptAll probe on the cached frames. ``rounds_out``, if
    given, receives the number of rounds executed (for the
    convergence-bound test)."""
    # localCheckpoint per round (the Pregel materialize-per-superstep
    # pattern): without it the logical plan doubles every round — two
    # joins + unions + distinct stacked ~log n deep blows the driver
    # heap in Catalyst long before the executors see any data.
    e = (
        pairs.filter(F.col("d1") != F.col("d2"))
        .select(
            F.greatest(F.col("d1"), F.col("d2")).alias("a"),
            F.least(F.col("d1"), F.col("d2")).alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    n_prev = e.count()
    rounds = 0
    if n_prev > 0:
        for rounds in range(1, _STAR_MAX_ROUNDS + 1):
            new_e = _small_star(_large_star(e)).localCheckpoint()
            n_new = new_e.count()
            converged = n_new == n_prev and new_e.exceptAll(e).isEmpty()
            e, n_prev = new_e, n_new
            if converged:
                break
    if rounds_out is not None:
        rounds_out.append(rounds)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    lab = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(F.col("a").alias("node"), F.least(F.col("a"), F.col("mb")).alias("mlab"))
    )
    return (
        ids.select(F.col("doc_id").alias("node"))
        .join(lab, "node", "left")
        .select("node", F.coalesce(F.col("mlab"), F.col("node")).alias("lab"))
    )


# --- embedding cosine ----------------------------------------------------------


def cosine_sim(v1: Column, v2: Column) -> Column:
    """Cosine similarity of two float vectors in double precision —
    JVM-side fold (no Python), same left-to-right order as DuckDB's
    list_cosine_similarity over DOUBLE[]."""
    dot = F.aggregate(
        F.zip_with(v1, v2, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(F.aggregate(v1, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    n2 = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    return dot / (n1 * n2)


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4 over all pairs — the
    exact baseline the banded/LSH ANN path (operators/ann.py) is
    measured against. The pairwise join is the sf-scale oracle
    anchor; at 100 TB the candidate set comes from ann_lsh_bucketed.
    Guarded: refuses to run past EMBEDDING_PAIRWISE_MAX_ROWS vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > EMBEDDING_PAIRWISE_MAX_ROWS:
        raise PairwiseScaleError(
            f"dedup_embedding_cosine: {n} vectors (> {EMBEDDING_PAIRWISE_MAX_ROWS}); "
            "the all-pairs verify is quadratic — use ann_lsh_bucketed for "
            "corpus-scale embedding near-dup candidates"
        )
    a = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .withColumn("cosine", F.round(cosine_sim(F.col("e1"), F.col("e2")), 4))
        .filter(F.col("cosine") >= 0.4)
        .select("v1", "v2", "cosine")
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(array_to_string(list_sort(
               string_split_regex(trim(lower(text)), '\\s+')), ' ')) AS fp
      FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT doc_id, source,
             md5(array_to_string(list_sort(
               string_split_regex(trim(lower(text)), '\\s+')), ' ')) AS fp
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT b.fp, MIN(b.doc_id) AS first_doc, COUNT(*) AS n_in_batch
    FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
    WHERE c.fp IS NULL
    GROUP BY b.fp
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: new batch (odd doc_ids) deduped
    against the already-ingested corpus (even doc_ids) AND within
    itself — the shape every recurring crawl/training-data refresh
    runs: anti-join on content fingerprint, then canonical-per-group.

    Both the anti-join and the groupBy key on the md5 fingerprint —
    uniform hash keys, no skew; at 100 TB the corpus side is a
    fingerprint-only projection (16 bytes/doc), not the documents."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", fingerprint(F.col("text")).alias("fp")
    )
    return (
        batch.join(corpus, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_in_batch"))
    )


# --- cross-corpus duplicated-span detection ----------------------------------

SPAN_W = 10  # tokens per span (rolling window)

_SPAN_EXACT_SQL = rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    spans AS (
      SELECT doc_id,
             unnest([md5(array_to_string(t[i : i + {SPAN_W} - 1], ' '))
                     for i in range(1, len(t) - {SPAN_W} + 2)]) AS h
      FROM toks WHERE len(t) >= {SPAN_W}
    ),
    shared AS (
      SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans
      FROM spans s LEFT JOIN shared sh ON s.h = sh.h
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_spans, n_dup_spans,
           ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 6) AS dup_frac
    FROM per_doc
"""


@query("dedup_span_exact", oracle=_SPAN_EXACT_SQL)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicated-SPAN detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" /
    Dolma repeated-substring signal, at rolling {SPAN_W}-token
    granularity): a span is duplicated when the identical token
    window appears in >= 2 DISTINCT documents; each document reports
    its span count, duplicated-span count, and coverage fraction —
    the per-doc signal substring-level dedup thresholds on.

    Finer-grained than whole-doc dedup (dedup_exact) and set-similarity
    (dedup_ngram_jaccard): it catches boilerplate shared between
    otherwise-different documents. Plan (r12, guide §2.4 — the
    dedup_ngram_coverage single-shuffle rewrite applied here): "span
    appears in >= 2 distinct documents" is min(doc_id) != max(doc_id)
    over a window partitioned by the span hash, so ONE md5-key shuffle
    of the occurrences replaces the former per-hash distinct-count
    aggregate plus the occurrences-vs-shared-set equi-join (both
    carried the same span volume again). The per-doc rollup then
    map-side combines on doc_id. A suffix-array formulation is the
    exact-match generalization, this is its fixed-W production
    approximation. 100 TB: span volume is n_tokens·1 rows (window
    stride 1); md5 keys are uniform, so no skew."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= SPAN_W)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                ngrams_from_tokens(F.col("t"), SPAN_W), lambda g: F.md5(g)
            )
        ).alias("h"),
    )
    w_h = Window.partitionBy("h")
    per_doc = (
        spans.withColumn(
            "is_shared", F.min("doc_id").over(w_h) != F.max("doc_id").over(w_h)
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("is_shared").cast("long")).cast("long").alias("n_dup_spans"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.round(F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6).alias(
            "dup_frac"
        ),
    )


_FUZZY_SQL = """
    WITH names AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM part GROUP BY p_name
    ),
    blocked AS (
      SELECT p_name, n_rows, string_split(p_name, ' ')[-1] AS blk FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
           a.n_rows AS rows_a, b.n_rows AS rows_b
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
"""


@query("dedup_fuzzy_names", oracle=_FUZZY_SQL)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage over part names — the
    edit-distance sibling of dedup_minhash_lsh for SHORT entity
    strings (names, titles, addresses) where shingling has nothing to
    grip: candidate merge pairs are distinct names in the same block
    (last token — the head noun) at Levenshtein distance 1–2, i.e.
    near-but-not-exact; exact duplicates are dedup_exact's job. Each
    pair carries both names' row counts so a resolve step can fold the
    rarer spelling into the canonical one (the dedup_cluster_resolve
    pattern).

    Spark-first/scale: linkage runs on the DISTINCT-name catalogue
    (one map-side-combined groupBy collapses the corpus to its name
    vocabulary — 64 rows here, catalogue-bound not corpus-bound at
    100 TB), and the quadratic levenshtein comparison is confined to
    within-block pairs by an equi-join on the blocking key, the
    standard record-linkage blocking strategy. levenshtein() is a JVM
    built-in — no Python in the loop."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    blocked = names.select(
        "p_name", "n_rows", F.element_at(F.split(F.col("p_name"), " "), -1).alias("blk")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    lv = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.p_name") < F.col("b.p_name")))
        .filter(lv.between(1, 2))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lv.cast("int").alias("edit_dist"),
            F.col("a.n_rows").alias("rows_a"),
            F.col("b.n_rows").alias("rows_b"),
        )
    )


CONTAINMENT_THRESHOLD = 0.8

_CONTAIN_SQL = f"""
    WITH ws AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks) - 1, 1))]) AS gs
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    ),
    sh AS (SELECT doc_id, unnest(gs) AS s FROM ws),
    mh AS (
      SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || s)) AS m
      FROM sh, (SELECT unnest(range(0, {N_HASHES})) AS seed)
      GROUP BY doc_id, seed
    ),
    sig AS (SELECT doc_id, list(m ORDER BY seed) AS ms FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b,
             md5(ms[b*{ROWS_PER_BAND}+1] || ms[b*{ROWS_PER_BAND}+2] || ms[b*{ROWS_PER_BAND}+3]) AS bk
      FROM sig, (SELECT unnest(range(0, {N_BANDS})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.d1, c.d2,
             CAST(len(list_intersect(g1.gs, g2.gs)) AS DOUBLE) / len(g1.gs) AS c1,
             CAST(len(list_intersect(g1.gs, g2.gs)) AS DOUBLE) / len(g2.gs) AS c2,
             CAST(len(list_intersect(g1.gs, g2.gs)) AS DOUBLE) /
             (len(g1.gs) + len(g2.gs) - len(list_intersect(g1.gs, g2.gs))) AS j
      FROM cand c JOIN ws g1 ON c.d1 = g1.doc_id JOIN ws g2 ON c.d2 = g2.doc_id
    )
    SELECT d1, d2,
           ROUND(c1, 6) AS contain_1_in_2,
           ROUND(c2, 6) AS contain_2_in_1,
           ROUND(j, 6) AS jaccard
    FROM scored
    WHERE GREATEST(c1, c2) >= {CONTAINMENT_THRESHOLD}
"""


@query("dedup_minhash_containment", oracle=_CONTAIN_SQL)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: exact shingle containment
    C(A→B) = |A∩B| / |A| over the SAME LSH band candidates as
    dedup_minhash_lsh — the quote/excerpt case symmetric Jaccard
    misses (a short doc fully embedded in a long one has tiny J but
    containment ≈ 1; Broder 1997 distinguishes resemblance from
    containment for exactly this reason). Pairs where either direction
    reaches {CONTAINMENT_THRESHOLD} are reported with both directions
    and the Jaccard for contrast.

    Scale: identical candidate generation to dedup_minhash_lsh (band
    equi-join, never all-pairs; one cached shingling feeds signatures
    and the verify). Caveat shared with every LSH screen: banding
    recall tracks RESEMBLANCE, so a tiny-in-huge embedding can evade
    the bands — the span-level screen (dedup_span_exact) is the
    complementary detector for that regime and both run in the
    curation pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = shingle_sets(docs).withColumnRenamed("shingles", "gs").cache()
    sig = minhash_signatures(shingled.select("doc_id", F.col("gs").alias("shingles")))
    bands = lsh_band_keys(sig).cache()
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    g1 = shingled.select(F.col("doc_id").alias("d1"), F.col("gs").alias("gs1"))
    g2 = shingled.select(F.col("doc_id").alias("d2"), F.col("gs").alias("gs2"))
    inter = F.size(F.array_intersect("gs1", "gs2")).cast("double")
    union = F.size("gs1") + F.size("gs2") - F.size(F.array_intersect("gs1", "gs2"))
    c1 = inter / F.size("gs1")
    c2 = inter / F.size("gs2")
    return (
        cand.join(g1, "d1")
        .join(g2, "d2")
        .filter(F.greatest(c1, c2) >= CONTAINMENT_THRESHOLD)
        .select(
            "d1",
            "d2",
            F.round(c1, 6).alias("contain_1_in_2"),
            F.round(c2, 6).alias("contain_2_in_1"),
            F.round(inter / union, 6).alias("jaccard"),
        )
    )


_RECALL_MINHASH_SQL = f"""
    WITH truth AS (
      WITH ws AS (
        SELECT doc_id, source,
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              for i in range(1, greatest(len(toks) - 1, 1))]) AS gs
        FROM (SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS toks
              FROM documents)
      )
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM ws a JOIN ws b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
                  (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6)
            >= {JACCARD_THRESHOLD}
    ),
    mh AS ({_MINHASH_ORACLE}),
    hit AS (
      SELECT t.d1, t.d2, m.d1 IS NOT NULL AS found
      FROM truth t LEFT JOIN mh m ON t.d1 = m.d1 AND t.d2 = m.d2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
           CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           ROUND(CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS recall
    FROM hit
"""


@query("dedup_recall_minhash", oracle=_RECALL_MINHASH_SQL)
def dedup_recall_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the MinHash+LSH screen — the last dedup family
    member without one (embedding-LSH and SemDeDup recalls shipped
    r3/r5): of the exact within-source Jaccard-≥-{JACCARD_THRESHOLD}
    pairs (the guarded blocked truth dedup_ngram_jaccard computes),
    what fraction does the banded sketch find? Banding theory says a
    J=0.7 pair hits ≥1 of the 4 bands with p = 1−(1−0.7³)⁴ ≈ 0.81,
    rising fast with J — the gated recall realizes that curve on data
    and tests assert it stays ≥ 0.75.

    Scale: the truth arm inherits dedup_ngram_jaccard's block guard
    (quadratic refused past the cap); the minhash arm is the
    production band join. The recall row is 1-row driver output —
    the eval harness shape, like ann_recall_*."""
    docs = load_table(spark, sf_dir, "documents")
    truth = dedup_ngram_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    ).select("d1", "d2")
    mh = minhash_pairs(docs).select("d1", "d2", F.lit(1).alias("found"))
    hit = truth.join(mh, ["d1", "d2"], "left")
    return hit.agg(
        F.count("*").cast("long").alias("n_truth_pairs"),
        F.sum(F.coalesce(F.col("found"), F.lit(0))).cast("long").alias("n_found"),
        F.round(
            F.sum(F.coalesce(F.col("found"), F.lit(0))).cast("double") / F.count("*"), 6
        ).alias("recall"),
    )


_NGRAM_COVERAGE_SQL = r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    grams AS (
      SELECT doc_id, i - 1 AS p, array_to_string(t[i:i+4], ' ') AS g
      FROM base, LATERAL (SELECT unnest(range(1, greatest(len(t) - 3, 1))) AS i)
    ),
    dupg AS (
      SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g)
      WHERE nd >= 2
    ),
    cov AS (
      SELECT doc_id, COUNT(DISTINCT pos) AS covered_tokens
      FROM (SELECT g2.doc_id, pos
            FROM grams g2 JOIN dupg USING (g),
                 LATERAL (SELECT unnest(range(g2.p, g2.p + 5)) AS pos))
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           ROUND(COALESCE(c.covered_tokens, 0) / CAST(len(b.t) AS DOUBLE), 6)
             AS dup_frac,
           (COALESCE(c.covered_tokens, 0) / CAST(len(b.t) AS DOUBLE)) <= 0.3
             AS keep
    FROM base b LEFT JOIN cov c USING (doc_id)
"""


@query("dedup_ngram_coverage", oracle=_NGRAM_COVERAGE_SQL)
def dedup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate 5-gram COVERAGE (the RefinedWeb /
    MassiveText "fraction of text inside duplicated n-grams" filter —
    Penedo et al. 2023 §4.2, Rae et al. 2021 §A1.2): for every doc,
    the fraction of token POSITIONS covered by at least one 5-gram
    that also appears in another document, and a keep verdict at the
    0.3 threshold. Complements text_gopher_repetition (WITHIN-doc
    repetition) and the pair-finding dedup family: this is the
    per-doc cross-corpus contamination measure a curation pipeline
    thresholds on directly.

    Plan (r12 optimization — guide §2.1/§2.2): posexplode 5-grams with
    their start positions (linear, one pass); "appears in another
    document" needs only min(doc_id) != max(doc_id) over a window
    partitioned by the gram, so ONE gram-key shuffle of the
    occurrences replaces the former three (the (g, doc_id) DISTINCT,
    the per-gram count agg, and the occurrences-vs-dup-grams
    equi-join — measured 9.6 -> 2.2 s warm on the 10x corpus, where
    every gram is cross-doc duplicated and the join was therefore
    non-selective). The window keys on (xxhash64(g), g): the 8-byte
    hash prefix keeps the exchange routing and sort comparisons
    fixed-width at any corpus scale while the raw gram stays in the
    key, so hash collisions merely co-locate — they can never fuse
    two grams (no result dependence on the hash). Covered positions =
    union of width-5 integer intervals per doc, computed exactly as
    sum(min(5, p - lag(p))) over positions sorted per doc (first
    occurrence contributes 5) — no 5x position explode, no
    COUNT(DISTINCT).
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    base = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("t")
    ).withColumn("n_tokens", F.size("t").cast("long"))
    grams = base.where(F.size("t") >= 5).select(
        "doc_id", F.posexplode(ngrams_from_tokens(F.col("t"), 5)).alias("p", "g")
    )
    w_gram = Window.partitionBy(F.xxhash64("g"), F.col("g"))
    dup_occ = (
        grams.withColumn(
            "dup", F.min("doc_id").over(w_gram) != F.max("doc_id").over(w_gram)
        )
        .where("dup")
        .select("doc_id", "p")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("p")
    cov = (
        dup_occ.withColumn("gap", F.col("p") - F.lag("p").over(w_doc))
        .withColumn(
            "add",
            F.when(F.col("gap").isNull(), F.lit(5)).otherwise(
                F.least(F.lit(5), F.col("gap"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("add").alias("covered_tokens"))
    )
    frac = F.col("covered_tokens") / F.col("n_tokens").cast("double")
    return (
        base.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .withColumn(
            "covered_tokens", F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long")
        )
        .select(
            "doc_id",
            "n_tokens",
            "covered_tokens",
            F.round(frac, 6).alias("dup_frac"),
            (frac <= 0.3).alias("keep"),
        )
    )


_SOURCE_OVERLAP_SQL = f"""
    WITH pairs AS ({_MINHASH_ORACLE})
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS mean_jaccard
    FROM pairs JOIN documents da ON pairs.d1 = da.doc_id
               JOIN documents db ON pairs.d2 = db.doc_id
    GROUP BY 1, 2
"""


@query("dedup_source_overlap", oracle=_SOURCE_OVERLAP_SQL)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: the MinHash+LSH verified
    near-dup pairs rolled up to (source, source) cells with pair
    counts and mean Jaccard — the report that tells a corpus owner
    WHICH feeds duplicate each other (mirror sites, re-crawls,
    dataset-of-datasets overlap) and so which acquisition to
    deprioritize. Unordered source pairs normalize via
    least/greatest so each cell appears once.

    Scale: inherits minhash_pairs' band-join candidates; the rollup
    adds two doc_id equi-joins (source lookup — at 100 TB a bounded
    doc→source dim, broadcastable when the catalogue is) and a
    |sources|²-bounded aggregate. Jaccards are 6-dp rounded before
    the DECIMAL sum, so the cell means are addition-order-free."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pairs(docs)
    s1 = docs.select(F.col("doc_id").alias("d1"), F.col("source").alias("sa"))
    s2 = docs.select(F.col("doc_id").alias("d2"), F.col("source").alias("sb"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.col("jaccard").cast("decimal(18,6)").alias("j"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("j").cast("double") / F.count("*"), 6).alias("mean_jaccard"),
        )
    )
