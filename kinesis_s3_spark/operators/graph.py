"""Graph analytics over the event stream (north-star extension;
BASELINE.json): PageRank on the event-type transition graph — the
iterative fixed-point algorithm pattern (alongside emb_kmeans and
emb_power_iteration).

The graph: nodes = event types, edges = per-user consecutive-event
transitions weighted by count (the events_transition_matrix bigram
frame). Spark does the corpus-sized part: one (user_id) window pass
and one (src, dst) pair count. What it returns is bounded by the
event types V, at most |V|·(|V|+1) rows whatever the corpus size, so
the rounds themselves run on the driver: a graph this small iterates
fastest on one thread (McSherry et al., "Scalability! But at what
COST?", HotOS 2015), and a distributed round would be all
coordination. Dangling-node mass is redistributed uniformly (the
standard correction).

Determinism (registry rules): per-edge contributions are rounded to
14 dp and summed as DECIMAL(28,14) so addition order cannot move the
result; each iteration's rank vector is re-rounded to 14 dp, keeping
the driver and DuckDB bit-locked round by round (power-iteration
precedent); the division n/out and products are IEEE-identical on
identical doubles, and ``_decimal.round_half_up`` is Spark's round.

Reference parity note: the reference (snowplow/kinesis-s3) has no
query surface (SURVEY.md §2) — this extends the engine's iterative-
algorithm repertoire for behavioral/link analysis.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_s3_spark.operators._decimal import round_half_up, to_decimal
from kinesis_s3_spark.operators.registry import query
from kinesis_s3_spark.sources.tables import load_table

PR_DAMPING = 0.85
PR_ITERS = 3
_RDP = 14  # per-round rounding, decimal sum scale


def _edges_sql() -> str:
    return """
      SELECT event_type AS src, next_type AS dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS next_type
        FROM events
      ) WHERE next_type IS NOT NULL GROUP BY 1, 2
"""


def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): every event's type and the type of the user's next
    event, dst NULL on a user's last event. One (user_id) window pass."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )


def transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, n): per-user consecutive-event transitions weighted
    by count — the shared edge frame for all graph operators. One
    (user_id) window pass + one (src, dst) aggregate."""
    return (
        _transitions(spark, sf_dir)
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _iter_sql(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
    dang{k} AS (
      SELECT CAST(COALESCE(SUM(CAST(ROUND(p.r, {_RDP}) AS DECIMAL(28,{_RDP}))), 0)
                  AS DOUBLE) AS s
      FROM {prev} p LEFT JOIN outw o ON p.v = o.src WHERE o.src IS NULL
    ),
    inc{k} AS (
      SELECT e.dst AS v,
             CAST(SUM(CAST(ROUND(p.r * (CAST(e.n AS DOUBLE) / CAST(o.out_n AS DOUBLE)),
                                 {_RDP}) AS DECIMAL(28,{_RDP}))) AS DOUBLE) AS s
      FROM edges e JOIN {prev} p ON e.src = p.v JOIN outw o ON e.src = o.src
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT nodes.v,
             ROUND((1.0 - {PR_DAMPING}) / nn.n
                   + {PR_DAMPING} * (COALESCE(inc{k}.s, 0.0) + dang{k}.s / nn.n),
                   {_RDP}) AS r
      FROM nodes CROSS JOIN nn CROSS JOIN dang{k}
      LEFT JOIN inc{k} ON nodes.v = inc{k}.v
    )"""


_PAGERANK_SQL = (
    f"""
    WITH edges AS ({_edges_sql()}),
    outw AS (SELECT src, CAST(SUM(n) AS BIGINT) AS out_n FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT event_type AS v FROM events),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT v, ROUND(1.0 / nn.n, {_RDP}) AS r FROM nodes CROSS JOIN nn),"""
    + ",".join(_iter_sql(k) for k in range(1, PR_ITERS + 1))
    + f"""
    SELECT v AS event_type, ROUND(r, 6) AS pagerank,
           ROW_NUMBER() OVER (ORDER BY r DESC, v) AS rank
    FROM r{PR_ITERS}
"""
)


@query("graph_pagerank", oracle=_PAGERANK_SQL)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ITERS}-iteration damped PageRank (d={PR_DAMPING}) over the
    event-type transition graph, with uniform dangling-mass
    redistribution; ranks ordered desc with node tie-break. The
    DuckDB oracle unrolls every iteration in one WITH chain —
    bit-exact per round via the module's rounding discipline.

    Spark counts the ``(src, dst)`` transition pairs, dst NULL
    included, and the counts are collected: at most |V|·(|V|+1) rows
    for the event types V, however large the corpus. The driver then
    runs the rounds with the oracle's semantics:
    - nodes are every distinct ``src``, NULL included;
    - edges are the pairs with non-NULL ``src`` and ``dst``, weighted
      ``w = n / out_n`` (the oracle joins on ``src = v``, so a NULL
      node sends nothing along its edges);
    - the dangling nodes are NULL and every node with no edge out;
    - each contribution is ``round(r * w, 14)`` summed exactly as
      DECIMAL(28,14) and then made a double, the dangling mass the
      same sum of ``round(r, 14)``;
    - ``r' = round((1 - d)/N + d * (s + dang/N), 14)``.
    An empty input has no nodes and gives an empty result."""
    pairs = _transitions(spark, sf_dir).groupBy("src", "dst").count().collect()
    nodes = {src for src, _, _ in pairs}
    edges = [(src, dst, n) for src, dst, n in pairs if src is not None and dst is not None]
    out_n: Counter = Counter()
    for src, _, n in edges:
        out_n[src] += n
    dangling = [v for v in nodes if v not in out_n]  # NULL is never a key
    nn = float(len(nodes))

    def contrib(r: float, w: float) -> Decimal:
        return to_decimal(round_half_up(r * w, _RDP), _RDP)

    ranks = {v: round_half_up(1.0 / nn, _RDP) for v in nodes}
    for _ in range(PR_ITERS):
        s: defaultdict = defaultdict(Decimal)
        for src, dst, n in edges:
            s[dst] += contrib(ranks[src], float(n) / float(out_n[src]))
        dang = float(sum(contrib(ranks[v], 1.0) for v in dangling))
        ranks = {
            v: round_half_up(
                (1.0 - PR_DAMPING) / nn + PR_DAMPING * (float(s[v]) + dang / nn), _RDP
            )
            for v in nodes
        }
    # ORDER BY r DESC, v: Spark sorts NULL first
    order = sorted(ranks, key=lambda v: (-ranks[v], v is not None, v or ""))
    return spark.createDataFrame(
        [(v, round_half_up(ranks[v], 6), i) for i, v in enumerate(order, 1)],
        "event_type string, pagerank double, rank int not null",
    )


# --- triangle counting -------------------------------------------------------

_TRIANGLES_SQL = f"""
    WITH edges AS ({_edges_sql()}),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e1.b = e2.a
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS v FROM tri
        UNION ALL SELECT y AS v FROM tri
        UNION ALL SELECT z AS v FROM tri
      ) GROUP BY v
    )
    SELECT n.v AS event_type, COALESCE(p.n_triangles, 0) AS n_triangles
    FROM (SELECT DISTINCT event_type AS v FROM events) n
    LEFT JOIN per_node p ON n.v = p.v
"""


@query("graph_triangles", oracle=_TRIANGLES_SQL)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected event-transition
    graph — the clustering-structure primitive (community density,
    spam/bot subgraph detection) next to PageRank's centrality.

    Plan: canonicalize each edge to (a < b) and dedupe; enumerate
    wedges with ONE equi-join on the shared middle vertex (e1.b =
    e2.a, which under canonical ordering yields exactly the x < y < z
    orientation), then close them against the edge list with a second
    equi-join — every triangle is produced exactly once, no cartesian
    anywhere. Per-node counts are an explode + count. 100 TB: this is
    the standard ordered-wedge MR triangle algorithm; wedge volume is
    sum_v deg(v)^2, controlled by the canonical orientation pushing
    high-degree vertices to the wedge tails, and every join keys on
    vertex ids."""
    edges = transition_edges(spark, sf_dir)
    # not cached: the three uses of und plan identically, so
    # ReuseExchange runs its shuffles once, and a session-lifetime
    # cache would keep answering after events.parquet is rewritten
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    # one explode instead of a 3-way unionAll: the union form would
    # re-execute the two triangle joins once per branch
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    events = load_table(spark, sf_dir, "events")
    nodes = events.select(F.col("event_type").alias("v")).distinct()
    return (
        nodes.join(per_node, "v", "left")
        .select(
            F.col("v").alias("event_type"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
    )


LPA_ROUNDS = 3
# (graph degree now comes from ann.K_JOIN via the IVF kNN join feed)


def _lpa_sql(rounds: int = LPA_ROUNDS) -> str:
    """Unrolled synchronous label propagation over the TRAINED-IVF kNN
    join's graph (every round is one CTE pair — the registry's
    iterative-oracle convention, like the Lloyd/PageRank unrolls).
    Since r10 the edge feed is ann_knn_join_ivf's gated approximate
    join — the corpus-sized path — instead of the quadratic exact
    build, so LPA runs (and benches) at every scale the kNN join
    does."""
    from kinesis_s3_spark.operators.ann import _KNN_JOIN_SQL

    parts = [
        f"""
    WITH knn AS ({_KNN_JOIN_SQL}),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT vec_id AS src, nbr_id AS dst FROM knn
        UNION ALL SELECT nbr_id AS src, vec_id AS dst FROM knn)
    ),
    l0 AS (SELECT vec_id AS node, vec_id AS label FROM embeddings)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    c{r} AS (SELECT e.src AS node, l.label, COUNT(*) AS c
            FROM edges e JOIN l{r - 1} l ON e.dst = l.node GROUP BY 1, 2),
    l{r} AS (SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
            FROM c{r}) WHERE rk = 1)"""
        )
    parts.append(
        f"""
    SELECT l.node AS vec_id, l.label AS community, s.n_members
    FROM l{rounds} l
    JOIN (SELECT label, COUNT(*) AS n_members FROM l{rounds} GROUP BY label) s
      USING (label)"""
    )
    return "".join(parts)


@query("graph_label_propagation", oracle=_lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007) over the embedding kNN graph: each vector
    links to its nearest neighbors from the gated trained-IVF kNN
    self-join (ann_knn_join_ivf, symmetrized), labels start as vec_id,
    and for {LPA_ROUNDS} rounds every node adopts its neighbors' MODE
    label (ties → smallest label — the deterministic variant).
    Output: per-node community plus community size. Extends the graph
    family (PageRank = importance, triangles = cohesion, components =
    reachability) with the clustering step an embedding-curation
    pipeline runs between ANN and SemDeDup.

    Plan (r10, VERDICT r9 next #2): the edge feed is the
    corpus-sized IVF join — cells ∝ √N, per-cell blocked Arrow
    scoring — so LPA itself runs at any scale (the pre-r10 quadratic
    exact build and its PairwiseScaleError guard are gone; the exact
    arm survives as ann_recall_knn_join's truth side). Each LPA round
    is edges ⋈ labels (equi-join on the neighbor id) → (node, label)
    count → per-node argmax via one min(struct) hash aggregate — NO
    window in the loop, all shuffles keyed by node id, |E| ≤ 2k·n
    rows per round. Labels are integers; counts are exact; every
    round is deterministic, so Spark and the unrolled-SQL oracle stay
    bit-locked round by round.
    """
    from kinesis_s3_spark.operators.ann import _knn_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    knn = _knn_join_ivf(spark, sf_dir).select(
        F.col("vec_id").alias("src"), F.col("nbr_id").alias("dst")
    )
    edges = knn.union(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # cache PRE-PARTITIONED on the join key (r13, VERDICT r12 next #6):
    # the cached relation's hash(dst) partitioning satisfies each
    # round's join requirement, so the static 2k·n edge frame crosses
    # its exchange ONCE at materialization instead of once per round.
    # Lifetime (ADVICE r9): lazy return → no in-operator unpersist
    # point; LRU storage eviction bounds the residency
    edges = edges.repartition("dst").persist()
    labels = emb.select(F.col("vec_id").alias("node"), F.col("vec_id").alias("label"))
    for _ in range(LPA_ROUNDS):
        # r13 round shape (guide §2.4): ONE src-keyed exchange per
        # round. hash(src) satisfies the (src, label) clustering of the
        # count aggregate AND the src clustering of the argmax
        # aggregate, so forcing the round's single shuffle onto src
        # lets both hash aggregates run exchange-free — the former
        # shape paid a (src, label)-keyed exchange and then re-keyed
        # the counts on src (two per round). The next round's join then
        # reads labels already hash(node)-partitioned.
        cnt = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select("src", "label")
            .repartition("src")
            .groupBy("src", "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count desc, label asc) as ONE hash aggregate:
        # min over the (-count, label) struct — no per-node window
        best = cnt.groupBy("src").agg(
            F.min(F.struct((F.lit(0) - F.col("c")).alias("nc"), F.col("label").alias("l"))).alias(
                "m"
            )
        )
        labels = best.select(F.col("src").alias("node"), F.col("m.l").alias("label"))
    # n skinny rows; BOTH consumers below (the size aggregate and the
    # final join) otherwise re-execute the whole unrolled round chain —
    # the committed before-plan shows every per-round exchange twice
    # (the market-basket batch-7 finding, here on 3 rounds of joins)
    labels = labels.localCheckpoint()
    sizes = labels.groupBy("label").agg(F.count("*").cast("long").alias("n_members"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("vec_id"), F.col("label").alias("community"), "n_members"
    )


LINK_PRED_TOP = 20


def _link_pred_sql() -> str:
    from kinesis_s3_spark.operators.ann import _KNN_JOIN_SQL

    return f"""
    WITH knn AS ({_KNN_JOIN_SQL}),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT vec_id AS src, nbr_id AS dst FROM knn
        UNION ALL SELECT nbr_id AS src, vec_id AS dst FROM knn)
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    wedge AS (
      SELECT e1.src AS u, e2.dst AS v, COUNT(*) AS cn
      FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
      WHERE e1.src < e2.dst
      GROUP BY e1.src, e2.dst
    ),
    cand AS (
      SELECT w.u, w.v, w.cn FROM wedge w
      ANTI JOIN edges e ON w.u = e.src AND w.v = e.dst
    )
    SELECT u, v, cn AS common_neighbors,
           ROUND(cn / CAST(du.d + dv.d - cn AS DOUBLE), 6) AS jaccard
    FROM cand JOIN deg du ON cand.u = du.node JOIN deg dv ON cand.v = dv.node
    ORDER BY jaccard DESC, u, v LIMIT {LINK_PRED_TOP}
    """


@query("graph_link_prediction", oracle=_link_pred_sql())
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003,
    the Jaccard variant) over the IVF kNN graph: for every
    non-adjacent pair two hops apart, score |N(u)∩N(v)| / |N(u)∪N(v)|
    and return the top-{LINK_PRED_TOP} predicted links — "these two
    items are probably near-dups / should be connected" from graph
    structure alone, complementing the geometric similarity ops.

    Unlike graph_label_propagation's guarded exact kNN anchor, the
    edge set here comes from the GATED approximate join
    (ann_knn_join_ivf) — this query runs at any corpus size the kNN
    join runs at. Wedges (r12, guide §2.3/§2.4 — the market-basket
    pair recipe): each middle node's neighbor set is collected once
    (sorted array, degree bounded ≤ 2k by the kNN construction) and
    the u<v pairs are generated INSIDE the array, so the former
    edges ⋈ edges self-join — two more full edge shuffles plus the
    sort-merge pair enumeration — collapses into one node-keyed
    aggregate + explode; wedge volume stays O(n·k²), linear in the
    corpus. Degrees fall out of the same neighbor frame (array size),
    not a separate edge aggregate. The anti-join drops existing
    edges; degrees broadcast (node-count frame); top-k is
    TakeOrdered. Integer counts divide exactly, so both engines emit
    identical Jaccards."""
    from kinesis_s3_spark.operators.ann import _knn_join_ivf

    knn = _knn_join_ivf(spark, sf_dir).select("vec_id", "nbr_id")
    edges = (
        knn.select(F.col("vec_id").alias("src"), F.col("nbr_id").alias("dst"))
        .union(knn.select(F.col("nbr_id").alias("src"), F.col("vec_id").alias("dst")))
        .distinct()
        # consumed twice (neighbor-set aggregate + anti-join) — without
        # the cache each consumer rebuilds the whole IVF join.
        # Lifetime (ADVICE r9): lazy return → no in-operator unpersist
        # point; bounded at 2k·n rows until LRU eviction / session end
        .persist()
    )
    # r13: persist the neighbor-set frame — it feeds the wedge explode
    # AND (via deg) BOTH degree join branches, so uncached the
    # collect_set aggregate over the edge cache executes three times
    # (n skinny rows, arrays bounded by the kNN construction)
    nbrs = edges.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("ns")
    ).persist()
    deg = nbrs.select("src", F.size("ns").cast("long").alias("d"))
    pair_arr = F.expr(
        "flatten(transform(ns, (x, i) -> "
        "transform(slice(ns, i + 2, size(ns)), y -> struct(x AS u, y AS v))))"
    )
    wedge = (
        nbrs.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
    )
    cand = wedge.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    cand = (
        cand.join(deg.select(F.col("src").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("src").alias("v"), F.col("d").alias("dv")), "v")
    )
    return (
        cand.select(
            "u",
            "v",
            F.col("cn").alias("common_neighbors"),
            F.round(
                F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")).cast("double"), 6
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(LINK_PRED_TOP)
    )
