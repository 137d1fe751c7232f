"""Identity validation — ``assert_names_equal`` as data (Q1).

The reference hard-fails the crawl when an incoming member-list name
disagrees with the stored member row beyond its tolerance rules
(``crawl.py:264-299``, fatal at :454). A distributed pipeline cannot
exit() mid-stage; the equivalent contract is a violations DataFrame
the job asserts empty (or routes to review) before committing the
batch — the same violations-as-data stance as the match report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from palegislature_spark.er.name_match import merge_template


def name_violations(
    existing: DataFrame,
    incoming: DataFrame,
    key: str,
) -> DataFrame:
    """Rows of ``incoming`` whose name conflicts with ``existing``.

    Both sides carry ``key`` plus a ``name`` struct column
    (first/middle/last/suffix). A row violates when the key matches
    an existing row but the names do not reconcile under
    ``is_same_name`` (suffix required — the crawl-time check is the
    strict one). Output: (key, existing name, incoming name).
    """
    ex = existing.select(F.col(key), F.col("name").alias("name_2"))
    inc = incoming.select(F.col(key), F.col("name").alias("name_1"))
    return (
        inc.join(ex, key)
        .withColumn("req", F.lit(True))
        .filter(merge_template().isNull())
        .select(
            key,
            F.col("name_1").alias("incoming_name"),
            F.col("name_2").alias("existing_name"),
        )
    )


def assert_no_violations(violations: DataFrame, context: str = "") -> None:
    """Fail the job if violations exist (the reference's fatal path,
    as an explicit gate the pipeline opts into)."""
    first = violations.limit(5).collect()
    if first:
        raise ValueError(
            f"name identity violations{' in ' + context if context else ''}: "
            + "; ".join(str(tuple(r)) for r in first)
        )
