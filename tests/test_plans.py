"""Physical-plan assertions — the plans we want at 100 TB, not just plans
that pass. Checks predicate pushdown, column pruning, broadcast joins, and
bounded exchange counts on the headline queries."""

import os

import pytest

import __spark_entry__ as entry_mod
from fast_er_spark.plans.inspect import formatted_plan, plan_stats

SF_DIR = "/root/testdata/sf0.01"


def test_tpch_q1_pushdown_and_pruning(spark):
    df = entry_mod.q_tpch_q1(spark, SF_DIR)
    plan = formatted_plan(df)
    stats = plan_stats(df)
    # the shipdate filter must reach the parquet scan
    assert any("l_shipdate" in f for f in stats["pushed_filters"]), stats["pushed_filters"]
    # column pruning: unused columns (l_comment-style payloads) not read
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_partkey" not in read_schema
    # one exchange total: partial agg map-side, final agg after the shuffle
    assert stats["exchanges"] == 1


def test_top_customers_broadcasts_dimension(spark):
    df = entry_mod.q_top_customers(spark, SF_DIR)
    stats = plan_stats(df)
    assert stats["broadcast_joins"] >= 1, "customer dim should broadcast"


def test_tokenstats_no_shuffle(spark):
    df = entry_mod.q_tokenstats(spark, SF_DIR)
    stats = plan_stats(df)
    assert stats["exchanges"] == 0, "pure projection must not shuffle"
    assert stats["python_udfs"] == 0, "text stats must stay JVM-side"


def test_lsh_candidates_bounded_shuffles(spark):
    from fast_er_spark.operators.lsh import lsh_candidate_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for mode, python_udfs in (("word", 0), ("char", 1)):
        df = lsh_candidate_pairs(docs, "doc_id", "text", mode=mode)
        stats = plan_stats(df)
        # one shuffle for the bucket groupBy + one for cross-band pair dedup
        assert stats["exchanges"] <= 3, (mode, stats)
        # word shingles sign in the JVM kernel; char shingles take exactly
        # one Python stage, the Arrow k-permutation UDF
        assert stats["python_udfs"] == python_udfs, (mode, stats)


def test_exact_dedup_is_hash_join_no_python(spark):
    df = entry_mod.q_exact_dedup_pairs(spark, SF_DIR)
    stats = plan_stats(df)
    assert stats["python_udfs"] == 0
    assert stats["broadcast_joins"] + stats["sortmerge_joins"] >= 1


def test_events_hourly_partial_aggregation(spark):
    df = entry_mod.q_events_hourly(spark, SF_DIR)
    plan = formatted_plan(df)
    # map-side combine before the exchange (partial_count / partial_sum)
    assert "partial" in plan.lower()
    assert plan_stats(df)["exchanges"] == 1


def test_fuzzy_jw_single_python_stage_and_sized_partitions(spark):
    """The JW level is a compiled JVM expression — ZERO Python stages in
    the plan. Partitioning must stay explicit, not AQE-coalesced."""
    df = entry_mod.q_fuzzy_jw_supplier(spark, SF_DIR)
    stats = plan_stats(df)
    assert stats["python_udfs"] == 0, stats


def test_anchor_pairs_no_window_join_or_checkpoint(spark):
    """Anchors pair through one groupBy and the LSH bucket expression: no
    window over the anchor key, no sort-merge self-join, no checkpointed
    frame (a LogicalRDD) in the plan."""
    from pyspark.sql import functions as F

    from fast_er_spark.operators.substring import anchor_pairs

    docs = spark.range(64).select(
        "id",
        F.concat_ws(" ", F.lit("alpha beta"), F.col("id").cast("string"),
                    F.lit("gamma delta epsilon zeta eta theta")).alias("text"),
    )
    df = anchor_pairs(docs, "id", "text", anchor_len=8, density=2)
    logical = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    physical = formatted_plan(df)
    assert "Window" not in logical and "Window" not in physical
    assert "LogicalRDD" not in logical and "ExistingRDD" not in physical
    assert plan_stats(df)["sortmerge_joins"] == 0
    assert df.count() > 0
