"""Physical-plan assertions: the scale-design contract (SURVEY §4) —
pushdown, pruning, broadcast strategy, no cartesian products — checked
on the real optimized plans, not assumed."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from kinesis_s3_spark.plans.inspect import (
    assert_no_cartesian,
    explain_str,
    pushed_filters,
    scan_columns,
    uses_broadcast,
)
from tests.conftest import SF_SMOKE

Q = entrymod.queries()


def test_q1_filter_pushdown_and_pruning(spark):
    df = Q["q1_pricing_summary"](spark, SF_SMOKE)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    cols = scan_columns(df)[0]
    assert "l_orderkey" not in cols  # unused columns pruned from the scan
    assert set(cols) <= {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_dimension_joins_broadcast(spark):
    for name in ("join_broadcast_dims", "q5_region_revenue", "join_argmin_supplier"):
        assert uses_broadcast(Q[name](spark, SF_SMOKE)), name


def test_selective_filters_pushed(spark):
    df = Q["q3_shipping_priority"](spark, SF_SMOKE)
    pushed = pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed


def test_topk_no_global_sort(spark):
    plan = explain_str(Q["sort_topk_global"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "ann_lsh_bucketed",
        "dedup_embedding_lsh",
        "events_asof_join",
        "dedup_cluster_resolve",
    ],
)
def test_lsh_style_ops_avoid_cartesian(spark, name):
    """Candidate generation must be an equi-join on bucket/band/user —
    a CartesianProduct in the plan means the blocking broke."""
    assert_no_cartesian(Q[name](spark, SF_SMOKE))


def test_market_basket_freq_broadcast_is_planner_chosen(spark):
    """VERDICT r11 wrong #2: join_market_basket must not FORCE-broadcast
    the part-frequency table — |distinct parts| scales with SF under
    TPC-H (20M rows at sf100), and a forced hint can't be overridden by
    AQE. With the hint dropped the planner still picks broadcast from
    size stats at small SF, and the pair join stays equi."""
    df = Q["join_market_basket"](spark, SF_SMOKE)
    assert uses_broadcast(df)
    assert_no_cartesian(df)


def test_semi_anti_join_strategies(spark):
    assert "LeftSemi" in explain_str(Q["join_semi"](spark, SF_SMOKE))
    assert "LeftAnti" in explain_str(Q["join_anti"](spark, SF_SMOKE))


def test_mapinpandas_is_arrow_batched(spark):
    plan = explain_str(Q["mm_image_decode_stub"](spark, SF_SMOKE))
    assert "MapInPandas" in plan


def test_quadratic_dedups_are_guarded(spark, monkeypatch):
    """The two pairwise oracle anchors must refuse oversized inputs —
    no unbounded all-pairs join is reachable from the registry."""
    from kinesis_s3_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "EMBEDDING_PAIRWISE_MAX_ROWS", 10)
    with pytest.raises(dd.PairwiseScaleError, match="ann_lsh_bucketed"):
        Q["dedup_embedding_cosine"](spark, SF_SMOKE)

    monkeypatch.setattr(dd, "JACCARD_BLOCK_MAX_ROWS", 3)
    with pytest.raises(dd.PairwiseScaleError, match="dedup_minhash_lsh"):
        Q["dedup_ngram_jaccard"](spark, SF_SMOKE)


def test_quadratic_dedups_run_under_cap(spark):
    """Guards must not fire at oracle scale."""
    assert Q["dedup_embedding_cosine"](spark, SF_SMOKE).count() >= 0
    assert Q["dedup_ngram_jaccard"](spark, SF_SMOKE).count() >= 0


def test_curation_scans_prune_text(spark):
    """Sampling decisions never read the text column; PII masking reads
    only (doc_id, text) — pruning reaches the parquet scan."""
    assert scan_columns(Q["curation_stratified_sample"](spark, SF_SMOKE)) == [
        ["doc_id", "source"]
    ]
    assert scan_columns(Q["text_pii_mask"](spark, SF_SMOKE)) == [["doc_id", "text"]]


def test_gopher_repetition_no_cartesian(spark):
    assert_no_cartesian(Q["text_gopher_repetition"](spark, SF_SMOKE))


def test_pack_sequences_window_is_partitioned(spark):
    """The packing running-sum must be per-source, never a global
    single-partition window."""
    plan = explain_str(Q["curation_pack_sequences"](spark, SF_SMOKE))
    assert "Window" in plan
    assert "hashpartitioning(source" in plan, plan[:2000]


def test_funnel_single_data_shuffle(spark):
    """Both running-min windows and the per-user agg must share ONE
    hashpartitioning(user_id) exchange (plus only the 1-row final
    agg's singlePartition)."""
    plan = explain_str(Q["events_funnel_steps"](spark, SF_SMOKE))
    assert plan.count("hashpartitioning(user_id") <= 1, plan[:3000]


def test_dedup_incremental_no_cartesian(spark):
    assert_no_cartesian(Q["dedup_incremental"](spark, SF_SMOKE))


def test_q6_full_pushdown(spark):
    """Q6 is the pushdown litmus test: every predicate reaches the
    parquet scan and only the referenced columns are read."""
    df = Q["q6_forecast_revenue"](spark, SF_SMOKE)
    pushed = pushed_filters(df)
    joined = " ".join(pushed)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in joined, pushed
    assert set(scan_columns(df)[0]) <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
    }


def test_tpch_wide_joins_broadcast_dims(spark):
    for name in ("q7_volume_shipping", "q8_market_share", "q9_product_profit"):
        assert uses_broadcast(Q[name](spark, SF_SMOKE)), name
        assert_no_cartesian(Q[name](spark, SF_SMOKE))


def test_q21_window_decorrelation_no_cartesian(spark):
    # r12: the EXISTS/NOT-EXISTS pair decorrelates into per-order
    # window aggregates on ONE lineitem exchange (the former plan paid
    # a semi AND an anti hash join — two further full lineitem
    # shuffles); the orders restriction stays a semi join.
    plan = explain_str(Q["q21_waiting_suppliers"](spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "LeftAnti" not in plan
    assert plan.count("Window") >= 3  # m1/has_other, smin/smax, m2 passes
    assert_no_cartesian(Q["q21_waiting_suppliers"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q2_q20_correlated_no_cartesian(spark):
    for name in ("q2_min_cost_supplier", "q20_part_promotion", "q11_important_parts"):
        assert_no_cartesian(Q[name](spark, SF_SMOKE))


# --- round-4 operator plan contracts -----------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "dedup_embedding_lsh_strict",  # exact-bucket equi-join, no probe arm
        "ann_ivf_kmeans_topk",  # candidate lists from centroid-id equi-join
        "curation_dedup_pipeline",  # composed stages stay equi-join-only
        "sketch_countmin",
        "sketch_countmin_estimate",
    ],
)
def test_r4_ops_avoid_cartesian(spark, name):
    assert_no_cartesian(Q[name](spark, SF_SMOKE))


def test_real_codecs_are_arrow_batched(spark):
    """Both real decode paths run as MapInPandas (Arrow), never
    row-at-a-time Python."""
    for name in ("mm_image_decode_real", "mm_audio_decode_real"):
        plan = explain_str(Q[name](spark, SF_SMOKE))
        assert "MapInPandas" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_cms_single_shuffle(spark):
    """The sketch is one explode + one aggregate: exactly one exchange
    (the d x w partial merge), nothing data-sized."""
    plan = explain_str(Q["sketch_countmin"](spark, SF_SMOKE))
    assert plan.count("Exchange") <= 2, plan  # final agg + AQE read


def test_bad_row_archive_scan_is_text_with_partition_column(spark):
    """read_bad_archive recovers batch_id as a partition column (so a
    batch_id predicate prunes directories)."""
    from kinesis_s3_spark.sources.archive import read_bad_archive
    from kinesis_s3_spark.sinks.badrows_sink import FileBadRowSink

    import pyspark.sql.functions as F

    sink_df = spark.createDataFrame([('{"schema":"x","data":{"payload":"aGk="}}',)], "value string")
    import tempfile

    out = tempfile.mkdtemp(prefix="plan_bad_")
    FileBadRowSink(path=out).store_batch(sink_df, batch_id=5)
    FileBadRowSink(path=out).store_batch(sink_df, batch_id=6)
    df = read_bad_archive(spark, out).filter(F.col("batch_id") == 5)
    assert df.count() == 1
    assert "batch_id" in explain_str(df)


def test_exchange_budget_catches_lost_broadcast(spark):
    """The plan audit's budget check (tools/plan_audit.py) must turn RED
    when a broadcast silently degrades to a shuffle join: disable
    auto-broadcast, rerun a dim-join query, and the extra executed
    shuffle stages must exceed the committed budget."""
    from tools.plan_audit import flag_row, load_budgets, plan_counts, run_counted

    budgets = load_budgets()
    name = "q5_region_revenue"

    def counts():
        spark.catalog.clearCache()
        return plan_counts(name, *run_counted(spark, lambda: Q[name](spark, SF_SMOKE)))

    healthy = counts()
    assert flag_row(healthy, budgets) == []

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        degraded = counts()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert degraded["shuffle_stages"] > healthy["shuffle_stages"]
    assert any(f.startswith("EXCHANGE_REGRESSION") for f in flag_row(degraded, budgets))


def test_budgets_cover_the_registry():
    """Exactly one budget line per registered query: a missing line or
    a stale one (renamed/removed query) fails here, not only in the full
    audit sweep."""
    from tools.plan_audit import load_budgets

    assert set(load_budgets()) == set(entrymod.queries())


def test_budget_file_flags_unknown_query(spark):
    """A registered query with no committed budget line is itself a
    flag — the baseline cannot silently go stale as operators land."""
    from tools.plan_audit import flag_row

    row = {"query": "brand_new_op", "cartesian": 0, "nested_loop": 0,
           "row_python": 0, "arrow_python": 0, "shuffle_stages": 1}
    assert "NO_EXCHANGE_BUDGET" in flag_row(row, {})


def test_shuffle_stage_count_sees_construction_time_work(spark):
    """Work a query runs while it is BUILT is counted, not just its
    final plan: an eager localCheckpoint of a repartition executes one
    shuffle before the aggregate's own, yet the final plan text starts
    from the checkpointed RDD and mentions a single Exchange (the blind
    spot that hid every label-propagation round from a plan-text
    count)."""
    from kinesis_s3_spark.sources.tables import load_table
    from tools.plan_audit import run_counted

    def build():
        li = load_table(spark, SF_SMOKE, "lineitem")
        part = li.repartition(4, "l_orderkey").localCheckpoint()
        return part.groupBy("l_returnflag").count()

    plan, shuffle_stages = run_counted(spark, build)
    assert plan.count("Exchange") == 1, plan
    assert shuffle_stages >= 2


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime bloom-filter join (the 100 TB semi-join
    pushdown: a bloom filter built from the selective side prunes the
    fact scan before the shuffle) injects under the engine's conf
    path. Thresholds are lowered only because gate-scale inputs sit
    far below the production defaults (10 GB application side) — the
    assertion pins that the capability is available and wired, so a
    real deployment gets fact-scan pruning for free."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.sources.tables import load_table

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sp_window_flag_catches_unpartitioned_global_rank(spark):
    """The SINGLE_PARTITION_WINDOW audit class (VERDICT r6 'what's
    wrong' #1) must fire on the shape it polices — an unlimited
    Window.orderBy with no partition key — and must NOT fire on (a)
    the two-phase ranking primitive that replaces it, or (b) a
    top-k-limited window Spark rescues with WindowGroupLimit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kinesis_s3_spark.operators.ranking import global_row_number
    from kinesis_s3_spark.sources.tables import load_table
    from tools.plan_audit import flag_row, plan_counts

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")

    def counts(df, name="probe"):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan_counts(name, plan, shuffle_stages=0)

    # (1) injected defect: unlimited global rank → flagged
    bad = li.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("l_extendedprice"), "l_orderkey"))
    )
    row = counts(bad)
    assert row["sp_window"] >= 1
    assert any(f.startswith("SINGLE_PARTITION_WINDOW") for f in flag_row(row, {"probe": 99}))

    # (2) the primitive's plan carries no single-partition window
    good = global_row_number(
        li, F.col("l_extendedprice"), [F.col("l_extendedprice"), F.col("l_orderkey")], "rk"
    )
    assert counts(good)["sp_window"] == 0

    # (3) top-k-filtered window: WindowGroupLimit / TakeOrdered keeps
    # per-task heaps — the Sort-over-SinglePartition adjacency never
    # forms, so the audit correctly ignores it
    topk = bad.filter(F.col("rk") <= 5)
    assert counts(topk)["sp_window"] == 0


def test_sp_window_allowlist_is_bounded(spark):
    """Queries allowlisted for one single-partition window are
    bounded-by-construction frames; everything else in the registry
    must audit at zero. Spot-checks the four operators the r6 verdict
    named as the defect class — all now on the two-phase primitive."""
    from tools.plan_audit import ALLOW_SP_WINDOW, plan_counts

    for name in (
        "curation_epoch_shuffle",
        "curation_quality_lr_auc",
        "curation_dsir_weights",
        "sketch_quantile_histogram",
    ):
        plan = Q[name](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        row = plan_counts(name, plan, shuffle_stages=0)
        assert row["sp_window"] <= ALLOW_SP_WINDOW.get(name, 0), name
