"""Member-list ingest ER: match observations to the members dim,
allocate ids for new members, surface identity conflicts as data
(``crawl.py:302-321`` archive lists, ``:440-503`` current lists).

The reference processes one member at a time: look up the existing
row by archive/current id, assert names equal (fatal), patch the
missing current_id, or insert. The distributed shape is one
broadcast join per batch:

  * observations ⟕ members on the chamber's archive_id (preferred)
    or current_id — the dim is always broadcast-sized;
  * 0 matches -> new member, id allocated as max(id) + row_number
    over the batch (batches are page-sized, so the one global window
    is bounded — not a data-scale window);
  * 1 match -> identity check via ``names_match`` (Q1: violations as
    data, the repo's standing deviation from the reference's
    ``exit(-1)``), patch current_id when NULL;
  * >1 matches -> violation rows (reference exits at
    ``crawl.py:462-468``).

Everything returns DataFrames; callers persist via
``sources.merge.upsert_parquet`` keyed by id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.er.name_match import merge_template

MEMBER_COLS = [
    "id",
    "house_archive_id",
    "house_current_id",
    "senate_archive_id",
    "senate_current_id",
    "first",
    "middle",
    "last",
    "suffix",
    "dob",
    "last_crawl",
]

_NAME_FIELDS = ["first", "middle", "last", "suffix"]


def _keys(chamber: int) -> tuple[str, str]:
    prefix = "house_" if chamber == 1 else "senate_"
    return f"{prefix}archive_id", f"{prefix}current_id"


def _next_ids(members: DataFrame, new_rows: DataFrame, order_col: str) -> DataFrame:
    """Allocate ids past the dim's max; deterministic within a batch."""
    max_id = members.agg(
        F.coalesce(F.max("id"), F.lit(0)).alias("__max_id")
    )
    w = Window.orderBy(order_col)
    return new_rows.crossJoin(F.broadcast(max_id)).withColumn(
        "id", (F.col("__max_id") + F.row_number().over(w)).cast("long")
    ).drop("__max_id")


def _blank_member(df: DataFrame) -> DataFrame:
    """Fill whichever MEMBER_COLS the frame lacks with NULLs and
    project name-struct fields flat."""
    out = df.select(
        "id",
        *[F.col("name")[f].alias(f) for f in _NAME_FIELDS],
        *[c for c in df.columns if c not in ("id", "name")],
    )
    for c in MEMBER_COLS:
        if c not in out.columns:
            typ = "date" if c == "dob" else ("timestamp" if c == "last_crawl" else "long")
            out = out.withColumn(c, F.lit(None).cast(typ))
    return out.select(MEMBER_COLS)


def upsert_archive_members(
    members: DataFrame, obs: DataFrame, chamber: int
) -> DataFrame:
    """Stage-4a upsert (``crawl.py:302-321``): observations carry
    (archive_id, name struct, last_crawl); merge by the chamber's
    archive_id — matches take the freshly parsed name fields, new
    archive ids insert with allocated member ids."""
    akey, _ = _keys(chamber)
    o = obs.dropDuplicates(["archive_id"]).select(
        F.col("archive_id"),
        *[F.col("name")[f].alias(f"__new_{f}") for f in _NAME_FIELDS],
    )
    updated = members.join(
        F.broadcast(o), members[akey] == o.archive_id, "left"
    ).select(
        *[
            F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c)
            if c in _NAME_FIELDS
            else F.col(c)
            for c in MEMBER_COLS
        ]
    )
    new_obs = obs.dropDuplicates(["archive_id"]).join(
        members.select(F.col(akey).alias("archive_id")).dropna(),
        "archive_id",
        "left_anti",
    )
    new_rows = _blank_member(
        _next_ids(members, new_obs, "archive_id").withColumn(
            akey, F.col("archive_id")
        ).drop("archive_id")
    )
    return updated.unionByName(new_rows)


def upsert_current_members(
    members: DataFrame, obs: DataFrame, chamber: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stage-4b upsert (``crawl.py:440-503``).

    ``obs``: (current_id, archive_id nullable, name struct,
    last_crawl, ...passthrough). Returns (members', member_map,
    violations): ``member_map`` is (current_id, member_id) for every
    clean observation — the join key for the service rows built from
    the same page; ``violations`` carries multi-match and
    name-mismatch rows (kind column), which produce neither updates
    nor inserts.
    """
    akey, ckey = _keys(chamber)
    m = members.select(
        F.col("id").alias("__mid"),
        F.col(akey).alias("__makey"),
        F.col(ckey).alias("__mckey"),
        F.struct(*[F.col(f).alias(f) for f in _NAME_FIELDS]).alias("__mname"),
    )
    # One matching row per member: the same person appears on every
    # per-year page in the batch (the reference crawls those pages
    # sequentially, seeing its own earlier insert; a batch must
    # collapse them up front or each extra page double-counts matches
    # and double-inserts new members).
    mobs = obs.dropDuplicates(["current_id"])
    # Match by archive_id when present, else by current_id.  As one
    # join that disjunctive condition is not equi-joinable and Spark
    # falls back to BroadcastNestedLoopJoin (O(|obs|*|dim|) compares);
    # split into the two keyed branches and each is a broadcast HASH
    # join — same rows out, scales as O(|obs|).
    by_archive = mobs.filter(F.col("archive_id").isNotNull()).join(
        F.broadcast(m), F.col("archive_id") == F.col("__makey"), "left"
    )
    by_current = mobs.filter(F.col("archive_id").isNull()).join(
        F.broadcast(m), F.col("current_id") == F.col("__mckey"), "left"
    )
    joined = by_archive.unionByName(by_current)

    n_matches = joined.groupBy("current_id").agg(
        F.count("__mid").alias("__n")
    )
    joined = joined.join(F.broadcast(n_matches), "current_id")

    multi = joined.filter(F.col("__n") > 1)
    single = joined.filter((F.col("__n") == 1) & F.col("__mid").isNotNull())
    unmatched = joined.filter(F.col("__n") == 0)

    # identity check on the session's merge template (suffix required)
    single = single.select(
        "*",
        F.col("__mname").alias("name_1"),
        F.col("name").alias("name_2"),
        F.lit(True).alias("req"),
    )
    name_ok = merge_template().isNotNull()
    mismatch = single.filter(~name_ok)
    ok = single.filter(name_ok)

    violations = multi.select(
        "current_id", "name", F.lit("multiple matches").alias("kind")
    ).unionByName(
        mismatch.select("current_id", "name", F.lit("name mismatch").alias("kind"))
    ).distinct()

    # Patch the missing current_id on clean matches (crawl.py:458-459).
    patches = ok.select(
        F.col("__mid").alias("id"), F.col("current_id").alias("__patch_ckey")
    ).dropDuplicates(["id"])
    patched = members.join(F.broadcast(patches), "id", "left").select(
        *[
            F.coalesce(F.col(ckey), F.col("__patch_ckey")).alias(ckey)
            if c == ckey
            else F.col(c)
            for c in MEMBER_COLS
        ]
    )

    # Insert unmatched observations (crawl.py:460-461).
    new_rows = _blank_member(
        _next_ids(members, unmatched.select("current_id", "archive_id", "name"), "current_id")
        .withColumn(akey, F.col("archive_id"))
        .withColumn(ckey, F.col("current_id"))
        .drop("archive_id", "current_id")
    )
    members_out = patched.unionByName(new_rows)

    member_map = ok.select("current_id", F.col("__mid").alias("member_id")).unionByName(
        new_rows.select(F.col(ckey).alias("current_id"), F.col("id").alias("member_id"))
    ).dropDuplicates(["current_id"])
    return members_out, member_map, violations


def service_from_observations(
    obs: DataFrame, member_map: DataFrame, chamber: int
) -> DataFrame:
    """Year-expanded service rows for clean observations
    (``crawl.py:501-503``): one row per (member, year) with the
    page's district + party; key = (member_id, year, chamber)."""
    return (
        obs.join(F.broadcast(member_map), "current_id")
        .select(
            "member_id",
            F.explode("years").alias("year"),
            F.lit(chamber).alias("chamber"),
            "district",
            "party",
        )
        .select("member_id", "year", "chamber", "district", "party")
    )
