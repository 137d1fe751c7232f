"""Member deduplication: detect + merge (``find_duplicates.py``, Q2).

Candidate generation mirrors the reference's two blockings:
  * same (year, chamber, lower(last)) service block with full name
    match (``find_duplicates.py:49-59``);
  * same non-null dob, suffix not required (``find_duplicates.py:62-66``);
both gated by ``are_mergable`` — no conflicting non-null source-system
ids (``find_duplicates.py:11-15``).

Merging generalizes the reference's pairwise groups to connected
components (SURVEY §4.3.3): the survivor is the smallest member id in
each component; its name fields are overridden by the pairwise merged
canonical name of its best edge; id fields union across the component
(lowest-id donor wins on the conflicts a chain can introduce);
service rows re-point to the survivor and dedupe on (chamber, year,
district, party) (``find_duplicates.py:91-107``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.er.blocking import self_block_pairs
from palegislature_spark.er.components import connected_components
from palegislature_spark.er.name_match import merge_template, name_struct

ID_FIELDS = [
    "house_archive_id",
    "house_current_id",
    "senate_archive_id",
    "senate_current_id",
]

NAME_FIELDS = ["first", "middle", "last", "suffix"]


def _with_name(members: DataFrame) -> DataFrame:
    return members.withColumn("name", name_struct("first", "middle", "last", "suffix"))


def _mergable() -> F.Column:
    cond = F.lit(True)
    for k in ID_FIELDS:
        cond = cond & ~(F.col(f"{k}_1").isNotNull() & F.col(f"{k}_2").isNotNull())
    return cond


def candidate_pairs(members: DataFrame, service: DataFrame) -> DataFrame:
    """Match edges (id_1 < id_2, merged canonical name) from both blockings."""
    m = _with_name(members)
    payload = ["name", *ID_FIELDS]
    pair_cols = [
        "id_1", "id_2",
        *[f"{c}_{i}" for i in (1, 2) for c in payload],
    ]

    # Blocking 1: shared (year, chamber, lower(last)) service.
    svc_members = (
        service.select("member_id", "year", "chamber")
        .distinct()
        .join(m, service.member_id == m.id)
        .select("year", "chamber", F.lower("last").alias("blk_last"), "id", *payload)
    )
    p1 = self_block_pairs(
        svc_members, "id", ["year", "chamber", "blk_last"], payload
    ).select(*pair_cols, F.lit(True).alias("req"))

    # Blocking 2: shared non-null dob (suffix not required).
    dob_members = m.filter(F.col("dob").isNotNull()).select("dob", "id", *payload)
    p2 = self_block_pairs(dob_members, "id", ["dob"], payload).select(
        *pair_cols, F.lit(False).alias("req")
    )

    # One merge over both blockings: the suffix rule rides along as the
    # ``req`` column, and the merge is evaluated inside the per-pair
    # aggregate, so the plan carries the match expression once (as a
    # projection it would be pushed into both union branches, and the
    # NULL filter would copy it again).  A pair in both blockings that
    # matches in both gets the same merged name: ``req`` only decides
    # whether it is NULL.
    return (
        p1.union(p2)
        .filter(_mergable())
        .groupBy("id_1", "id_2")
        .agg(F.first(merge_template(), ignorenulls=True).alias("merged"))
        .filter(F.col("merged").isNotNull())
    )


def merge_members(
    members: DataFrame, service: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply dedup; returns (members', service', merge_map).

    ``merge_map`` is (id, survivor_id) for every merged-away member.
    """
    edges = candidate_pairs(members, service).localCheckpoint()
    comps = connected_components(edges, "id_1", "id_2")
    losers = comps.filter(F.col("id") != F.col("component"))
    merge_map = losers.select("id", F.col("component").alias("survivor_id"))

    # Canonical name for each survivor: the merged name of its
    # HIGHEST-partner edge — the reference's merge_names[member_id1]
    # is overwritten by each later match in the sorted id loop
    # (find_duplicates.py:24-30), so the last (max id_2) wins.
    w = Window.partitionBy("id_1").orderBy(F.col("id_2").desc())
    canon = (
        edges.join(
            comps.withColumnRenamed("id", "id_1"), "id_1"
        )
        .filter(F.col("id_1") == F.col("component"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(F.col("id_1").alias("id"), F.col("merged"))
    )

    # Union id fields: donate each loser's non-null ids to its
    # survivor; lowest donor id wins conflicts.
    donations = (
        members.join(merge_map, "id")
        .select(
            "survivor_id",
            F.col("id").alias("donor_id"),
            *[F.col(k) for k in ID_FIELDS],
        )
    )
    donated = donations.groupBy("survivor_id").agg(
        *[
            F.min(
                F.when(F.col(k).isNotNull(), F.struct("donor_id", F.col(k).alias("v")))
            )["v"].alias(f"don_{k}")
            for k in ID_FIELDS
        ]
    )

    survivors = (
        members.join(merge_map, "id", "left_anti")
        .join(canon, "id", "left")
        .join(donated.withColumnRenamed("survivor_id", "id"), "id", "left")
    )
    new_members = survivors.select(
        "id",
        *[F.coalesce(F.col(k), F.col(f"don_{k}")).alias(k) for k in ID_FIELDS],
        *[
            F.coalesce(F.col("merged")[n], F.col(n)).alias(n)
            for n in NAME_FIELDS
        ],
        "dob",
        "last_crawl",
    )

    # Re-point service rows and dedupe on the reference's key set.
    repointed = (
        service.join(merge_map, service.member_id == merge_map.id, "left")
        .select(
            F.coalesce("survivor_id", "member_id").alias("member_id"),
            "year",
            "chamber",
            "district",
            "party",
        )
        .dropDuplicates(["member_id", "chamber", "year", "district", "party"])
    )
    return new_members, repointed, merge_map
