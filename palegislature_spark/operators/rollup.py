"""Rollup cascade — continuous-aggregate hierarchy over event time.

The TimescaleDB/Druid "continuous aggregate" pattern re-expressed on
Spark + the repo's merge sinks: raw events roll up into an HOURLY
aggregate table, and coarser levels (daily here) are computed FROM the
hourly level, never from raw — so a year of 100 TB raw events is
scanned once per refresh window, while dashboards read tables that are
5-6 orders of magnitude smaller.

Correctness contract: counts/sums are re-aggregable (algebraic aggs),
so level N+1 derived from level N equals level N+1 derived from raw.
For the double-typed value column the hourly level pins the house
round-the-sum rule (normalizes summation-order drift) and the daily
level folds the hourly totals in window-start order — an ORDER-PINNED
sequential sum, so the cascade is bit-reproducible across engines
(a plain sum() over doubles is free to add in any order).

Incremental refresh (:func:`refresh_hourly`) merges a micro-batch's
partial hourly rows into the persisted hourly table by re-aggregating
ONLY the touched (hour, type) keys — the foreachBatch half of a
streaming continuous aggregate; `tests/test_rollup.py` drives it from
a real stream and asserts refresh-equals-recompute.

Reference tie-in: the closest reference analogue is the year x chamber
matrix rebuild (`dump.py:43-101` recomputes every export from scratch);
the cascade is the incremental, multi-resolution generalization the
north star asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hourly_rollup(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """(hour, event_type, n_events, total_value): the base level.

    One map-side-combined shuffle on (hour, type) — the aggregate
    table is bounded by hours x types regardless of event volume.
    """
    return (
        events.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def daily_from_hourly(hourly: DataFrame) -> DataFrame:
    """Derive the daily level from the hourly table (never from raw).

    Counts re-aggregate exactly (integer sums); the double totals are
    folded in hour order so the daily value is order-pinned — at most
    24 elements per group, per-day bounded at any scale.
    """
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("hour", "total_value"))
                    ),
                    lambda s: s["total_value"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("total_value"),
        )
    )


def refresh_hourly(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    ts_col: str = "ts",
    batch_id: int | None = None,
) -> None:
    """Incrementally merge a raw-event micro-batch into the persisted
    hourly table at ``path``.

    The batch is partially aggregated first (hours x types rows, tiny).
    The hourly table is day-partitioned, and only the days the batch
    touches are read back (collected day list — bounded by batch
    hours — pushed as a static partition filter) and rewritten (the
    upsert's partition-swap grain): a refresh is O(touched days), not
    O(table). Late events simply re-merge their hour. Combining
    partial counts is exact; the value column re-rounds the combined
    sum, which agrees with a from-scratch build within one cent per
    key (rounding is not associative — the standard
    continuous-aggregate trade; store the raw sum instead if exact
    replay matters).

    Replay idempotence: this merge is ADDITIVE, and foreachBatch is
    at-least-once — a batch replayed after a failure between sink
    completion and checkpoint commit would double-count. Pass the
    foreachBatch ``batch_id`` and each stored row carries
    ``last_batch``, the id of the last batch merged into that KEY; a
    replayed batch skips keys already stamped with its id. Per-key
    (not global) stamping makes recovery exact even when a crash
    lands mid-partition-swap: promoted days skip, un-promoted days
    re-merge. Calls without ``batch_id`` (ad-hoc batch use) keep the
    additive semantics and stamp ``-1``.
    """
    from palegislature_spark.sources.commit import hadoop_fs
    from palegislature_spark.sources.merge import upsert_parquet

    partial = (
        batch.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .withColumn("day", F.to_date("hour"))
    )
    stamp = F.lit(batch_id if batch_id is not None else -1).cast("long")
    # existence probe via the filesystem — a broad try/except around
    # the read would misclassify transient IO errors as "first
    # refresh" and silently drop the existing totals for touched keys
    fs, HPath = hadoop_fs(spark, path)
    if fs.exists(HPath(path)):
        days = [r["day"] for r in partial.select("day").distinct().collect()]
        existing = spark.read.parquet(path).filter(
            F.col("day").isin(days)  # static partition pruning
        )
        if "last_batch" not in existing.columns:  # pre-upgrade table
            existing = existing.withColumn("last_batch", F.lit(-1).cast("long"))
        touched = existing.join(
            F.broadcast(partial.select("hour", "event_type")),
            ["hour", "event_type"],
            "left_semi",
        ).select(
            "hour",
            "event_type",
            F.col("n_events").alias("old_n"),
            # the stored total is the rounded sum (see docstring)
            F.col("total_value").alias("old_total"),
            F.col("last_batch").alias("old_batch"),
        )
        j = partial.join(touched, ["hour", "event_type"], "left")
        already = (
            F.col("old_batch") == stamp if batch_id is not None else F.lit(False)
        )
        merged = j.select(
            "hour",
            "event_type",
            "day",
            F.when(already, F.col("old_n"))
            .otherwise(F.coalesce("old_n", F.lit(0)) + F.col("n_events"))
            .cast("long")
            .alias("n_events"),
            F.when(already, F.col("old_total"))
            .otherwise(
                F.round(
                    F.coalesce("old_total", F.lit(0.0)) + F.col("value_sum"), 2
                )
            )
            .alias("total_value"),
            F.when(already, F.col("old_batch")).otherwise(stamp).alias("last_batch"),
        )
    else:
        merged = partial.select(
            "hour",
            "event_type",
            "day",
            "n_events",
            F.round("value_sum", 2).alias("total_value"),
            stamp.alias("last_batch"),
        )
    upsert_parquet(
        spark,
        path,
        merged,
        keys=["hour", "event_type"],
        partition_cols=["day"],
    )
