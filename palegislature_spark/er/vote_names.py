"""Vote-name entity resolution — the ``match_names.py`` pipeline as
one DataFrame job (SURVEY §3.2).

Pass 1 (``get_match``, ``match_names.py:13-47``): parse each distinct
raw voter name, block against the (year, chamber) member roster on
lower(last), evaluate ``is_same_name`` (require_suffix=False) on the
candidates, and accept a name iff exactly one roster member matches —
with the reference's multi-member-block guard that a parsed name
without a first name never matches in a shared-surname block.

Pass 2 (substring fixpoint, ``match_names.py:140-156``): leftover
names vs leftover members, candidate iff the raw name is a substring
of upper(member last); accept mutually-unique (name, member) pairs
and iterate until no new acceptances. The reference's sequential
variant is order-dependent (a name claimed earlier can starve a later
one); mutual uniqueness is the deterministic distributed refinement —
on non-pathological data the fixpoints coincide.

Scale: everything shuffles on (year, chamber, block key); the roster
side is dimension-sized and broadcast. The fixpoint loop iterates on
the small residue only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from palegislature_spark.er.name_match import (
    merge_template,
    name_struct,
    parse_vote_name,
)
from palegislature_spark.functions.expr_util import cached_expr


def roll_years(roll_calls: DataFrame, session_days: DataFrame) -> DataFrame:
    """(roll id, year, chamber): stamp year, else session-day year
    (``match_names.py:86-95``)."""
    days = session_days.select(F.col("id").alias("day_id"), F.col("date").alias("__day"))
    return (
        roll_calls.join(F.broadcast(days), "day_id", "left")
        .select(
            F.col("id").alias("roll_id"),
            F.coalesce(F.year("stamp"), F.year("__day")).alias("year"),
            "chamber",
        )
    )


def roster(members: DataFrame, service: DataFrame) -> DataFrame:
    """(year, chamber, member_id, mname struct, blk) roster rows."""
    m = members.select(
        F.col("id").alias("member_id"),
        name_struct("first", "middle", "last", "suffix").alias("mname"),
        F.lower("last").alias("blk"),
        F.upper("last").alias("last_upper"),
    )
    return (
        service.select("member_id", "year", "chamber")
        .distinct()
        .join(m, "member_id")
    )


def match_vote_names(
    votes: DataFrame,
    roll_calls: DataFrame,
    session_days: DataFrame,
    members: DataFrame,
    service: DataFrame,
    max_fixpoint_iterations: int = 10,
) -> DataFrame:
    """Resolve distinct raw voter names to member ids.

    Output: (year, chamber, name, member_id, method) — method in
    {'block', 'substring'}; unmatched names are absent (callers
    anti-join for the review report).
    """
    years = roll_years(roll_calls, session_days)
    # One fact-table pass: the (year, chamber, name) distinct is the
    # only shuffle that touches every vote.  parse_vote_name is a pure
    # function of the raw STRING, and the same spellings recur across
    # every (year, chamber) a member serves — so parse each distinct
    # string ONCE (guide §8: decide on small rows), deriving the
    # distinct-name set from the ALREADY-deduped (year, chamber, name)
    # frame instead of a second full scan+shuffle of the votes table
    # (which is what votes.select('name').distinct() cost: the fact
    # scan twice per build at the 500k-vote bench scale).
    vn0 = (
        votes.join(years, "roll_id")
        .select("year", "chamber", "name")
        .distinct()
    )
    parsed = (
        vn0.select("name")
        .distinct()
        .select(
            "name",
            cached_expr(
                "parse_vote_name", lambda: parse_vote_name(F.col("name"))
            ).alias("vname"),
        )
    )
    # localCheckpoint: the distinct-name set is dimension-sized but its
    # lineage scans every vote; it feeds pass 1, the pass-2 residue AND
    # the final union, so without the checkpoint the fact scan re-runs
    # once per consumer (~3x at the 500k-vote bench scale).
    vote_names = (
        vn0.join(F.broadcast(parsed), "name")
        .withColumn("blk", F.lower(F.col("vname")["last"]))
        .localCheckpoint()
    )
    # roster is dimension-sized but rebuilt by FOUR consumers (the
    # candidate join, block_sizes, the distinct member side of
    # ok_pairs, and the pass-2 unmatched-member residue) — the same
    # shared-subtree discipline as the MinHash band-key frame: one
    # lazy checkpoint, values unchanged.
    ros = roster(members, service).localCheckpoint(eager=False)

    block_sizes = ros.groupBy("year", "chamber", "blk").agg(
        F.count(F.lit(1)).alias("block_n")
    )

    # names_match is likewise a pure function of the two name STRUCTS
    # — year/chamber never enter it — so evaluate the (very large)
    # match expression once per distinct (raw name, member) pair in
    # the blocked universe and semi-join the verdicts back onto the
    # (year, chamber)-blocked candidates.  At the bench shape this is
    # a ~12x cut in match-expression evaluations (every member serves
    # every year, so each pair used to be re-evaluated per year); the
    # candidate ROW SET is unchanged, because the semi-join key
    # (name, member_id) determines (vname, mname) exactly.
    vname_d = vote_names.select("name", "vname", "blk").distinct()
    members_d = ros.select("member_id", "mname", "blk").distinct()
    # The match runs on the session's one merge template (suffix not
    # required: req = false), shared with merge_members.
    ok_pairs = (
        vname_d.join(F.broadcast(members_d), "blk")
        .select(
            "name",
            "member_id",
            F.col("vname").alias("name_1"),
            F.col("mname").alias("name_2"),
            F.lit(False).alias("req"),
        )
        .filter(merge_template().isNotNull())
        .select("name", "member_id")
    )
    cand = (
        vote_names.join(F.broadcast(ros), ["year", "chamber", "blk"])
        .join(F.broadcast(block_sizes), ["year", "chamber", "blk"])
        .join(F.broadcast(ok_pairs), ["name", "member_id"], "left_semi")
        # multi-member block requires a parsed first name
        # (match_names.py:33-34)
        .filter((F.col("block_n") == 1) | F.col("vname")["first"].isNotNull())
    )
    # same reuse argument: pass1 feeds both residue sets and the final
    # union — checkpoint the (dimension-sized) match set once
    pass1 = (
        cand.groupBy("year", "chamber", "name")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("member_id").alias("member_id"),
        )
        .filter("n_matches = 1")
        .select("year", "chamber", "name", "member_id", F.lit("block").alias("method"))
        .localCheckpoint()
    )

    # ---- pass 2: substring fixpoint on the residue -----------------
    unmatched_names = (
        vote_names.select("year", "chamber", "name")
        .join(pass1, ["year", "chamber", "name"], "left_anti")
        .localCheckpoint()
    )
    hit_ids = pass1.select("year", "chamber", "member_id")
    unmatched_members = (
        ros.select("year", "chamber", "member_id", "last_upper")
        .join(hit_ids, ["year", "chamber", "member_id"], "left_anti")
        .localCheckpoint()
    )

    # Residue accounting short-circuits the fixpoint: a loop trip costs
    # a join + two groupBys + localCheckpoint + count (~6 tiny jobs,
    # ~2s at the 500k-vote bench scale), so avoid trips that provably
    # find nothing.  Both inputs are already materialized by
    # localCheckpoint, so these counts are metadata-cheap.
    n_resid = unmatched_names.count()
    if n_resid == 0 or unmatched_members.limit(1).count() == 0:
        return pass1

    accepted = None
    for _ in range(max_fixpoint_iterations):
        c = unmatched_names.join(
            unmatched_members,
            ["year", "chamber"],
        ).filter(F.col("last_upper").contains(F.col("name")))
        per_name = c.groupBy("year", "chamber", "name").agg(
            F.count(F.lit(1)).alias("n_m"), F.min("member_id").alias("member_id")
        ).filter("n_m = 1")
        # mutual uniqueness: the chosen member must be chosen by only
        # one name this round
        per_member = per_name.groupBy("year", "chamber", "member_id").agg(
            F.count(F.lit(1)).alias("n_n"), F.min("name").alias("name")
        ).filter("n_n = 1")
        new = per_member.select(
            "year", "chamber", "name", "member_id", F.lit("substring").alias("method")
        ).localCheckpoint()
        n_new = new.count()
        if n_new == 0:
            break
        accepted = new if accepted is None else accepted.union(new)
        n_resid -= n_new
        if n_resid == 0:
            # every residual name resolved — the next trip can only
            # come back empty, so skip it and the two anti-join
            # checkpoints it would need as input
            break
        unmatched_names = unmatched_names.join(
            new.select("year", "chamber", "name"), ["year", "chamber", "name"], "left_anti"
        ).localCheckpoint()
        # the reference drops the whole surname group of a matched
        # member from future candidacy (match_names.py:153)
        matched_lasts = new.join(
            unmatched_members, ["year", "chamber", "member_id"]
        ).select("year", "chamber", "last_upper")
        unmatched_members = unmatched_members.join(
            matched_lasts, ["year", "chamber", "last_upper"], "left_anti"
        ).localCheckpoint()

    return pass1.union(accepted) if accepted is not None else pass1


def match_report(
    votes: DataFrame,
    roll_calls: DataFrame,
    session_days: DataFrame,
    members: DataFrame,
    service: DataFrame,
    matches: DataFrame,
) -> DataFrame:
    """Human-review report (``match_names.py:192-233`` as data).

    Output: (year, chamber, issue, name, member_id) with issue in
    {'vote_name_unmatched', 'member_unmatched', 'ambiguous'} — the
    ambiguous rows are unmatched vote names that collide with the
    surname of one or more unmatched members (``:196-203``).
    """
    years = roll_years(roll_calls, session_days)
    vote_names = (
        votes.join(years, "roll_id").select("year", "chamber", "name").distinct()
    )
    missing = vote_names.join(
        matches.select("year", "chamber", "name"), ["year", "chamber", "name"], "left_anti"
    )
    ros = roster(members, service)
    unmatched = ros.join(
        matches.select("year", "chamber", "member_id"),
        ["year", "chamber", "member_id"],
        "left_anti",
    )
    ambiguous = missing.join(
        unmatched.select("year", "chamber", F.col("last_upper").alias("name"), "member_id"),
        ["year", "chamber", "name"],
    ).select(
        "year", "chamber", F.lit("ambiguous").alias("issue"), "name", "member_id"
    )
    missing_rows = missing.join(
        ambiguous.select("year", "chamber", "name"), ["year", "chamber", "name"], "left_anti"
    ).select(
        "year",
        "chamber",
        F.lit("vote_name_unmatched").alias("issue"),
        "name",
        F.lit(None).cast("long").alias("member_id"),
    )
    member_rows = unmatched.join(
        ambiguous.select("year", "chamber", "member_id"),
        ["year", "chamber", "member_id"],
        "left_anti",
    ).select(
        "year",
        "chamber",
        F.lit("member_unmatched").alias("issue"),
        F.col("last_upper").alias("name"),
        "member_id",
    )
    return ambiguous.unionByName(missing_rows).unionByName(member_rows)


def backfill_member_ids(votes: DataFrame, matches: DataFrame, years: DataFrame) -> DataFrame:
    """Write pass: fill NULL votes.member_id from resolved names
    (``match_names.py:168-188``). ``years`` is roll_years(...)."""
    v = votes.join(years, "roll_id", "left")
    # rename the match-side keys: localCheckpoint preserves attribute
    # ids, so an unrenamed matches.year is the SAME attribute as the
    # vote-side year and the analyzer rejects the join as ambiguous
    m = F.broadcast(
        matches.select(
            F.col("year").alias("m_year"),
            F.col("chamber").alias("m_chamber"),
            F.col("name").alias("m_name"),
            F.col("member_id").alias("m_id"),
        )
    )
    return (
        v.join(
            m,
            (F.col("name") == F.col("m_name"))
            & (F.col("year") == F.col("m_year"))
            & (F.col("chamber") == F.col("m_chamber")),
            "left",
        )
        .select(
            "session_id",
            "roll_id",
            "name",
            "vote",
            F.coalesce("member_id", "m_id").alias("member_id"),
        )
    )
