"""PageRank — iterative link analysis on a DataFrame edge list.

The unnormalized damped form (Page et al. 1999; the PR-lite every
graph engine ships): rank' = (1 - d) + d * sum(incoming rank/out_deg),
iterated a fixed number of rounds. Complements the repo's other
iterative operators — connected components (`er/components.py`), the
BPE trainer and the Lloyd refinement — with the weighted-propagation
case.

Spark shape: each round is one join of the rank table onto the edge
list plus one aggregation on the destination — both shuffles on graph
keys, nothing driver-sized. The DISTINCT edge list, node set and
out-degrees are localCheckpoint()ed ONCE (they are re-read every
round; without the checkpoint the upstream build — here an
orders x lineitem join + distinct — re-executes per round, which
measured 1.6-2.2x slower at sf0.1), while the evolving rank table is
checkpointed only every ``ckpt_every`` rounds: for small iteration
counts rank lineage is shallow and a per-round materialization costs
more than it saves (also measured), but unbounded growth would bite
at 20+ rounds — the periodic compromise keeps both regimes safe.

Determinism: the default (scale) path sums incoming contributions
with a plain float sum — order-free semantics, engine-specific bits.
``exact_replay=True`` folds each node's contributions in source-id
order (bounded by in-degree), which a DuckDB oracle replays with an
ordered ``list_reduce`` — the same dual-path discipline as the IVF
Lloyd refinement (scale default + bit-reproducible twin for the
oracle-pinned registry query).

The exact fold is one expression: a JVM ObjectHashAggregate
(map-side partial_collect_list, no Python boundary, no global sort).
It stays an expression because a bit-equal Arrow numpy fold measured
3x slower at the 100x replica (209s vs 67s): its repartition, full
partition sort and per-round Arrow round-trip outweigh the
interpreted fold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    exact_replay: bool = False,
    ckpt_every: int = 5,
) -> DataFrame:
    """(node, rank) after ``iters`` damped propagation rounds over the
    DISTINCT directed edge list. Dangling nodes (no out-edges) simply
    contribute nothing; nodes with no in-edges settle at 1 - d."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # Join-strategy gate (guide §3.1 / §2.4): the rank and degree
    # tables are NODE-sized while the edge list is EDGE-sized, yet the
    # checkpointed frames carry no size stats, so the planner
    # sort-merge-joins every round — shuffling the whole edge list on
    # `src` once per iteration (captured in
    # plans/r12/centrality_rank_suppliers_before.txt: one Exchange of
    # `e` per round).  Gate on the actual node count (the decontam
    # count-gated broadcast-flip precedent): below the threshold the
    # node-sized tables broadcast and `e` is never shuffled at all
    # (the one fundamental shuffle left per round is the map-side-
    # combined groupBy(dst)); above it — the 100 TB graph — hash-
    # partition `e` by `src` ONCE at build so every round's join and
    # the degree aggregate reuse that exchange instead of repaying it
    # (guide §2.4: two operations keyed the same way share one
    # exchange).  Both regimes compute identical values: the
    # exact_replay fold is order-pinned by array_sort, and join
    # strategy never changes join RESULTS.
    # Gate threshold, measured at the 100x replica (1.65M nodes, 45M
    # edges, idle min-of-2 per leg): for the PLAIN-SUM leg the regimes
    # are a wash (38.1s broadcast vs 39.1s repartition — the map-side
    # combined sum collapses each round before its exchange either
    # way), but for the EXACT fold the broadcast regime is a 2.4x
    # regression (170.6s vs 71.4s): partial_collect_list keeps every
    # element, so nothing shrinks before the exchange, and each
    # round's rank broadcast serializes the previous round's full
    # 45M-struct aggregation through a driver-built broadcast relation
    # instead of a pipelined shuffle stage.  Hence the exact leg flips
    # to the repartition regime a decade earlier; both thresholds are
    # env-overridable for other cluster shapes.
    n_nodes = nodes.count()
    small_nodes = n_nodes <= int(
        os.environ.get(
            "SPARK_GRAFT_PAGERANK_BCAST_MAX_NODES",
            str(int(2e5 if exact_replay else 2e6)),
        )
    )
    if not small_nodes:
        e = e.repartition("src").localCheckpoint()
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint()
    )
    _bcast = F.broadcast if small_nodes else (lambda df: df)
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(iters):
        contribs = (
            e.join(_bcast(ranks.withColumnRenamed("node", "src")), "src")
            .join(_bcast(deg), "src")
            .select("dst", "src", (F.col("rank") / F.col("deg")).alias("c"))
        )
        if exact_replay:
            sums = contribs.groupBy("dst").agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("src", "c"))),
                        lambda s: s["c"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("s")
            )
        else:
            sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(
            _bcast(sums.withColumnRenamed("dst", "node")), "node", "left"
        ).select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce("s", F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % ckpt_every == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint()
    return ranks


def supplier_purchase_edges(spark, sf_dir: str) -> DataFrame:
    """The customer -> supplier purchase graph (distinct 'c<custkey>'
    -> 's<suppkey>' edges via orders x lineitem) — shared by the
    oracle-pinned registry query and the bench scale row so both rank
    the SAME graph; the SQL twin lives in queries/corpus.py
    (_SUPPLIER_EDGES_SQL)."""
    from palegislature_spark.catalog import load

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
