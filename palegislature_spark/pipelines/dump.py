"""Analytical matrix export — the ``dump.py`` pipeline (SURVEY §3.3).

Shape: votes ⨝ roll_calls ⨝ session_days ⨝ sessions, completeness-
gated (Q4), pivoted on member_id with an EXPLICIT values list from
``service`` (avoids pivot's extra distinct scan — SURVEY §4.3.4).
The pivot carries the integer vote code (unknown codes NULL before
the pivot), so Spark plans it as a hash aggregate + ``pivotfirst``
instead of one string aggregate per member column; the CSV writer
renders codes as letters (``codecs.VOTE_LETTERS``), blank = no record.

Row order (``dump.py:43-60``): days by date; within a day, by stamp —
unless any roll that day lacks a stamp, in which case the whole day
orders by roll id and missing stamps display as the day's date.
Column order (``dump.py:72-78``): service rows by district (ties by
member id for determinism — SQLite left ties in insertion order).

The heavy pivot is pure Spark; only the per-group CSV rendering
(3 header rows + rows in order, ``dump.py:82-101``) collects — each
(year, chamber) matrix is export-sized (thousands of rows), the
published artifact itself.
"""

from __future__ import annotations

import csv
import pathlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.functions.codecs import VOTE_LETTERS, vote_to_letter
from palegislature_spark.pipelines.status import complete_keys


def ordered_rolls(
    sessions: DataFrame, session_days: DataFrame, roll_calls: DataFrame
) -> DataFrame:
    """Rolls of complete groups with display stamp + sort columns.

    Output: (year, chamber, roll_id, roll_name, number, disp_stamp,
    day_date, ord_stamp, ord_id) — sort by (day_date, ord_stamp
    nulls-first, ord_id); within a day exactly one of ord_stamp /
    ord_id is populated depending on the reference's any-missing rule.
    """
    keys = sessions.select(F.col("id").alias("session_id"), "year", "chamber")
    days = session_days.join(F.broadcast(keys), "session_id").select(
        F.col("id").alias("day_id"), F.col("date").alias("day_date"), "year", "chamber"
    )
    gate = complete_keys(sessions, session_days, roll_calls)
    rolls = (
        roll_calls.select("id", "day_id", "name", "number", "stamp")
        .join(F.broadcast(days), "day_id")
        .join(F.broadcast(gate), ["year", "chamber"], "left_semi")
    )
    # any roll of the day missing a stamp? (dump.py:51)
    day_missing = rolls.groupBy("day_id").agg(
        F.max(F.col("stamp").isNull().cast("int")).alias("__miss")
    )
    r = rolls.join(day_missing, "day_id")
    disp = F.when(
        F.col("stamp").isNull(), F.col("day_date").cast("string")
    ).otherwise(F.date_format("stamp", "yyyy-MM-dd HH:mm:ss"))
    return r.select(
        "year",
        "chamber",
        F.col("id").alias("roll_id"),
        F.col("name").alias("roll_name"),
        "number",
        disp.alias("disp_stamp"),
        "day_date",
        # day ENTITY is part of the reference's sort: days sorted by
        # date keep equal-date day rows in insertion (id) order, and
        # each day's rolls are emitted as their own block (dump.py:48)
        # — the published corpus really contains repeated-date day
        # groups (2010/House.csv), so date alone under-sorts
        F.col("day_id").alias("day_ord"),
        F.when(F.col("__miss") == 0, F.col("stamp")).alias("ord_stamp"),
        F.when(F.col("__miss") == 1, F.col("id")).alias("ord_id"),
    )


def matrix_columns(members: DataFrame, service: DataFrame) -> DataFrame:
    """Per (year, chamber): district-ordered member columns.

    Output: (year, chamber, member_id, col_order, display_name,
    district, party). Display name mirrors ``dict_to_name`` — the
    HumanName string form "first middle last suffix" with empties
    skipped (``dump.py:75``).
    """
    disp = F.concat_ws(
        " ",
        F.col("first"),
        F.col("middle"),
        F.col("last"),
        F.col("suffix"),
    )
    m = members.select(F.col("id").alias("member_id"), disp.alias("display_name"))
    return (
        service.join(F.broadcast(m), "member_id")
        .select("year", "chamber", "member_id", "district", "party", "display_name")
        .withColumn(
            "col_order",
            F.row_number().over(
                Window.partitionBy("year", "chamber").orderBy(
                    F.col("district").asc_nulls_last(), "member_id"
                )
            ),
        )
    )


def vote_matrix(
    votes: DataFrame,
    ordered: DataFrame,
    columns: DataFrame,
    year: int,
    chamber: int,
) -> tuple[DataFrame, list[dict]]:
    """Pivot one (year, chamber) group.

    Returns (matrix df sorted in export order, column metadata list).
    The pivot uses the explicit member-id values list so Spark skips
    the distinct-scan planning step and column order is deterministic.
    Cells hold the integer vote code, NULL = no record (or an unknown
    code); ``export_matrices`` renders the letters.
    """
    cols = [
        r.asDict()
        for r in columns.filter(
            (F.col("year") == year) & (F.col("chamber") == chamber)
        )
        .orderBy("col_order")
        .collect()
    ]
    member_ids = [c["member_id"] for c in cols]
    roll_cols = [
        "roll_id", "roll_name", "number", "disp_stamp",
        "day_date", "day_ord", "ord_stamp", "ord_id",
    ]
    group = ordered.filter(
        (F.col("year") == year) & (F.col("chamber") == chamber)
    ).select(*roll_cols)
    cells = votes.filter(F.col("member_id").isNotNull()).select(
        "roll_id",
        "member_id",
        F.when(vote_to_letter("vote").isNotNull(), F.col("vote")).alias("code"),
    )
    # The rows of ``group LEFT JOIN cells`` as an inner join plus one
    # vote-less row per roll (its NULL member_id is in no pivot
    # column, so a roll nobody voted on still yields its blank row).
    # The inner join builds on the group's rolls; an outer join would
    # build on the votes side, and every concurrent group pivot would
    # broadcast the whole votes frame.  One shuffle on roll_id serves
    # both pivot aggregates (per roll and member, then per roll).
    rows = (
        cells.join(F.broadcast(group), "roll_id")
        .unionByName(group, allowMissingColumns=True)
        .repartition("roll_id")
    )
    pivoted = (
        rows.groupBy(*roll_cols)
        .pivot("member_id", member_ids)
        # first non-NULL code per cell, as a string pivot of first()
        # picks (Spark rewrites it to ignore NULLs per pivot value)
        .agg(F.first("code", ignorenulls=True))
        .orderBy(
            # day_ord second: equal-date day ENTITIES stay in
            # insertion order as separate blocks (see ordered_rolls).
            # roll_id last: the reference's stable Python sort keeps
            # stamp ties in SQLite insertion (id) order (dump.py:59);
            # real files have duplicate stamps within a day (32 pairs
            # in 2019/House.csv), so without it tie order is
            # nondeterministic
            "day_date", F.col("day_ord"),
            F.col("ord_stamp").asc_nulls_first(), F.col("ord_id"),
            F.col("roll_id"),
        )
    )
    return pivoted, cols


def export_matrices(
    votes: DataFrame,
    roll_calls: DataFrame,
    session_days: DataFrame,
    sessions: DataFrame,
    members: DataFrame,
    service: DataFrame,
    out_dir: str,
) -> list[str]:
    """Write vote_data/<year>/<Chamber>.csv files; returns paths.

    CSV contract (``README.md:11-28``, ``dump.py:82-101``): header
    row Name/Number/Date + one column per member (display name);
    District and Party rows when any value is present; then one row
    per roll with letter cells, blank = no record.
    """
    letters = {code: letter for letter, code in VOTE_LETTERS.items()}
    ordered = ordered_rolls(sessions, session_days, roll_calls).persist()
    columns = matrix_columns(members, service).persist()
    groups = [
        (r["year"], r["chamber"])
        for r in ordered.select("year", "chamber").distinct().orderBy("year", "chamber").collect()
    ]
    written: list[str] = []
    root = pathlib.Path(out_dir)

    # Submit every group's pivot job concurrently — the Spark scheduler
    # interleaves them across cores, so export wall-time no longer
    # serializes ~38 small jobs (ADVICE r1). The collects stay bounded
    # by the CSV contract (<=1.6k rows x ~210 cols per group); CSV
    # writing below stays sequential and in deterministic group order,
    # keeping the golden files byte-identical.
    def _build(yc: tuple[int, int]):
        year, chamber = yc
        pivoted, cols = vote_matrix(votes, ordered, columns, year, chamber)
        return pivoted.collect(), cols

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, max(len(groups), 1))) as pool:
        results = list(pool.map(_build, groups))

    for (year, chamber), (matrix_rows, cols) in zip(groups, results):
        if not matrix_rows:
            continue
        chamber_name = {1: "House", 2: "Senate"}[chamber]
        folder = root / str(year)
        folder.mkdir(parents=True, exist_ok=True)
        path = folder / f"{chamber_name}.csv"
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["Name", "Number", "Date"] + [c["display_name"] for c in cols])
            districts = [c["district"] for c in cols]
            parties = [c["party"] for c in cols]
            if any(districts):
                w.writerow(["District", "", ""] + ["" if d is None else d for d in districts])
            if any(parties):
                w.writerow(["Party", "", ""] + ["" if p is None else p for p in parties])
            for row in matrix_rows:
                # NULL code (no record) -> blank cell
                cells = [letters.get(row[str(c["member_id"])], "") for c in cols]
                w.writerow([row["roll_name"], row["number"], row["disp_stamp"]] + cells)
        written.append(str(path))
    ordered.unpersist()
    columns.unpersist()
    return written
