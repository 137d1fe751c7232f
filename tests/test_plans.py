"""Physical-plan quality regression tests (SURVEY §4.2 guarantees).

Correctness gates don't catch a silently degraded plan — a scan that
stops pushing filters, a dimension join that falls back to
sort-merge, a Python eval sneaking into a relational query. These
tests pin the plan properties the 100 TB design depends on.
"""

from __future__ import annotations

import pytest

from palegislature_spark.queries import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filters_push_to_scans(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_top_orders")
    assert "PushedFilters: [IsNotNull" in plan
    # column pruning: the lineitem scan must not read all 11 columns
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


@pytest.mark.parametrize("name", ["q3_top_orders", "q5_region_revenue", "interval_join_fast_ship"])
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # no shuffle-requiring join strategies for dim-sized sides
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q3_top_orders", "analytic_running_total", "dedup_exact"],
)
def test_no_python_in_relational_plans(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, f"{name} plan contains {marker}"


def test_whole_stage_codegen_active(spark, sf_dir):
    # Under AQE the codegen spans only exist in the FINAL plan, so
    # execute first, then inspect the executed plan.
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen spans render as "*(<stage id>) <node>" in the tree string
    assert "*(1)" in plan and "isFinalPlan=true" in plan


def test_filter_null_coalesce_no_global_window(spark, sf_dir):
    # the grand total must be a broadcast 1-row scalar attach, never an
    # unpartitioned window funneling every row through one task
    # (VERDICT r5 "What's wrong" #1)
    plan = plan_of(spark, sf_dir, "filter_null_coalesce")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row attach


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "customer_topk_spend")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT


def test_partial_aggregation_present(spark, sf_dir):
    # partial+final hash aggregation: two HashAggregate nodes around
    # the exchange (map-side combine shrinks the shuffle)
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_embedding_near_dup_no_cartesian(spark, sf_dir):
    # the near-dup candidate join must be the bucket EQUI-join, never
    # an all-pairs product (the r1 registration was O(n^2))
    plan = plan_of(spark, sf_dir, "embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_semantic_dedup_has_no_nested_loop_join(spark, sf_dir):
    # SemDeDup's centroid assignment is the arrow_exact kernel: the
    # interpreted assignment's conditionless vectors x centroids
    # attach (a BroadcastNestedLoopJoin) must not come back
    plan = plan_of(spark, sf_dir, "cluster_semantic_dedup")
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_topk_is_distributed_topk(spark, sf_dir):
    # the vocabulary rank must be TakeOrderedAndProject (distributed
    # per-partition heaps), never a single-partition Sort of the whole
    # token-count table — 1e8+ distinct tokens at corpus scale
    plan = plan_of(spark, sf_dir, "corpus_vocab_topk")
    assert "TakeOrderedAndProject" in plan


def _shuffle_exchanges(plan: str) -> int:
    # standalone shuffle Exchange nodes only — \bExchange\b does not
    # match the Exchange inside BroadcastExchange (no word boundary
    # after 't'); formatted plans mention each node twice (tree +
    # detail section), so counts here are 2x the node count
    import re

    return len(re.findall(r"\bExchange\b", plan))


@pytest.mark.parametrize(
    ("name", "max_mentions"),
    [
        # late-r7 fusions: per-doc gram work is row-local, so these
        # plans carry exactly TWO shuffle exchanges (4 mentions) —
        # eval-gram distinct + per-doc hit partials for decontam; the
        # gram-key aggregation + doc-key island window for the span
        # ops. A third shuffle appearing here means the corpus-wide
        # (id, gram) DISTINCT crept back in.
        ("decontam_testset", 4),
        ("coverage_dup_spans", 4),
        ("cleanup_span_rewrite", 4),
    ],
)
def test_fused_gram_ops_shuffle_budget(spark, sf_dir, name, max_mentions):
    plan = plan_of(spark, sf_dir, name)
    assert _shuffle_exchanges(plan) <= max_mentions, (
        f"{name}: shuffle-exchange count grew past the fused budget"
    )


def test_source_gate_single_corpus_pass(spark, sf_dir):
    """corpus_source_gate must scan the documents table EXACTLY ONCE.

    The broadcast-vs-shuffle count-gate used to count ``src`` straight
    off its lineage, executing the full corpus aggregation once for the
    gate and again in the returned plan (VERDICT r7 nit #2) — at 100 TB
    that is one extra corpus pass. The source table is now eagerly
    localCheckpoint-ed, so the returned physical plan joins a
    materialized RDD scan back to the single corpus scan.
    """
    import re

    plan = plan_of(spark, sf_dir, "corpus_source_gate")
    doc_scans = len(re.findall(r"documents\.parquet", plan))
    assert doc_scans == 1, f"expected 1 documents scan, saw {doc_scans}"
    # the gate side must come from the checkpoint, not a re-aggregation
    assert "Scan ExistingRDD" in plan
    # and the surviving corpus scan must be the narrow join-back
    # (doc_id + source), never a second full-text read
    assert "text" not in plan


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node of an adaptive plan's final tree
    string, with its subtree."""
    lines = plan.split("== Initial Plan ==")[0].splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if not line[depth(line):].startswith("BroadcastExchange"):
            continue
        d, sub = depth(line), [line]
        for nxt in lines[i + 1:]:
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_vote_matrix_pivots_codes_and_broadcasts_rolls(spark):
    """The House export pivot: integer codes plan as hash aggregates
    with ``pivotfirst`` (no per-member string SortAggregate), and the
    roll group is the broadcast build side — never the votes scan, which
    every concurrent group pivot would otherwise broadcast whole."""
    from palegislature_spark import er
    from palegislature_spark.pipelines.dump import (
        matrix_columns,
        ordered_rolls,
        vote_matrix,
    )
    from tests import snowflake_fixture

    snow = snowflake_fixture.build(spark)
    members2, service2, _ = er.merge_members(snow["members"], snow["service"])
    matches = er.match_vote_names(
        snow["votes"], snow["roll_calls"], snow["session_days"], members2, service2
    )
    years = er.vote_names.roll_years(snow["roll_calls"], snow["session_days"])
    # checkpointed like a refresh's back-filled votes: a scan with no
    # lineage, which the planner sizes as broadcastable
    votes2 = er.backfill_member_ids(snow["votes"], matches, years).localCheckpoint()
    ordered = ordered_rolls(snow["sessions"], snow["session_days"], snow["roll_calls"])
    matrix, _ = vote_matrix(
        votes2, ordered, matrix_columns(members2, service2), 2019, 1
    )
    matrix.collect()
    plan = matrix._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "pivotfirst" in plan
    assert "SortAggregate" not in plan
    broadcasts = _broadcast_subtrees(plan)
    # the votes scan is the only one carrying the ``vote`` column
    assert not [b for b in broadcasts if "vote#" in b], "votes are broadcast"
    assert [b for b in broadcasts if "roll_name" in b.splitlines()[1]]
