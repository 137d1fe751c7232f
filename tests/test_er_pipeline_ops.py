"""ER operator tests over the snowflake fixture: blocking, connected
components, member dedup, vote-name matching, rulebook repair."""

from __future__ import annotations

import datetime as dt

import pytest

from palegislature_spark import er
from pyspark.sql import functions as F
from tests import snowflake_fixture
from tests.conftest import rows


@pytest.fixture(scope="module")
def snow(spark):
    return snowflake_fixture.build(spark)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (7, 7)], ["id_1", "id_2"]
    )
    got = rows(er.connected_components(edges), "id", "component")
    assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (7, 7)]


def test_connected_components_chain(spark):
    # long chain exercises multi-iteration propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["id_1", "id_2"]
    )
    got = rows(er.connected_components(edges), "component")
    assert set(got) == {(1,)}


def test_self_block_pairs_ordering(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "a", "z"), (4, "b", "w")],
        ["id", "blk", "v"],
    )
    got = rows(er.self_block_pairs(df, "id", ["blk"], ["v"]), "id_1", "id_2")
    assert got == [(1, 2), (1, 3), (2, 3)]


def test_member_candidate_pairs(snow):
    got = rows(
        er.candidate_pairs(snow["members"], snow["service"]), "id_1", "id_2"
    )
    # Tom/Thomas Smith share (2019, House, 'smith'); J./John Doe share dob.
    assert got == [(1, 2), (7, 8)]


def test_merge_members_golden_record(snow):
    members2, service2, merge_map = er.merge_members(snow["members"], snow["service"])
    mm = {r["id"]: r["survivor_id"] for r in merge_map.collect()}
    assert mm == {2: 1, 8: 7}

    m = {r["id"]: r for r in members2.collect()}
    assert set(m) == {1, 3, 4, 5, 6, 7, 9, 10}
    # canonical name: nickname resolved to formal
    assert m[1]["first"] == "Thomas"
    # id fields union: survivor 1 keeps 11, gains 2's house_current_id
    assert m[1]["house_archive_id"] == 11 and m[1]["house_current_id"] == 21
    # initial resolved to full first
    assert m[7]["first"] == "John"
    assert m[7]["house_archive_id"] == 17 and m[7]["house_current_id"] == 28

    svc = rows(
        service2.filter("member_id = 1 and year = 2019"),
        "member_id",
        "year",
        "chamber",
        "district",
        "party",
    )
    # two identical (year, chamber, district, party) rows collapse to one
    assert svc == [(1, 2019, 1, 10, "Republican")]


def test_match_vote_names_two_passes(snow):
    # run on the deduped snowflake (the reference order: find_duplicates
    # then match_names)
    members2, service2, _ = er.merge_members(snow["members"], snow["service"])
    matches = er.match_vote_names(
        snow["votes"], snow["roll_calls"], snow["session_days"], members2, service2
    )
    got = {
        r["name"]: (r["member_id"], r["method"]) for r in matches.collect()
    }
    assert got["SMITH"] == (1, "block")  # unique surname block
    assert got["WHITE, MARY JO"] == (3, "block")
    assert got["KELLER, M. K."] == (5, "block")  # initial disambiguates
    assert got["MCRAE"] == (6, "block")  # Mc-case title reconciliation
    assert got["DOE"] == (7, "block")
    assert got["ARTIS"] == (9, "substring")  # pass-2 containment
    assert "KRUGER" not in got  # misspelling stays unmatched


def test_merge_template_built_once_per_session(snow, monkeypatch):
    """merge_members then match_vote_names assemble the name-merge
    expression once: every caller aliases its columns onto the one
    template cached for the SparkContext."""
    from palegislature_spark.er import name_match
    from palegislature_spark.functions import expr_util

    builds = []
    real_merge_names = name_match.merge_names

    def counting_merge_names(*args, **kwargs):
        builds.append(args)
        return real_merge_names(*args, **kwargs)

    monkeypatch.setattr(expr_util, "_EXPR_CACHE", {})
    monkeypatch.setattr(name_match, "merge_names", counting_merge_names)
    members2, service2, _ = er.merge_members(snow["members"], snow["service"])
    matches = er.match_vote_names(
        snow["votes"], snow["roll_calls"], snow["session_days"], members2, service2
    )
    assert matches.count() > 0
    assert len(builds) == 1


def test_backfill_member_ids(snow):
    members2, service2, _ = er.merge_members(snow["members"], snow["service"])
    matches = er.match_vote_names(
        snow["votes"], snow["roll_calls"], snow["session_days"], members2, service2
    )
    years = er.vote_names.roll_years(snow["roll_calls"], snow["session_days"])
    filled = er.backfill_member_ids(snow["votes"], matches, years)
    got = {
        (r["roll_id"], r["name"]): r["member_id"] for r in filled.collect()
    }
    assert got[(300, "SMITH")] == 1
    assert got[(302, "SMITH")] == 1  # pre-resolved id preserved
    assert got[(300, "KELLER, M. K.")] == 5
    assert got[(300, "KRUGER")] is None  # unmatched stays null
    assert filled.count() == snow["votes"].count()


def test_apply_vote_renames(spark, snow):
    rules = spark.createDataFrame(
        [
            ("KRUGER", "KRUEGER", None, None),  # global
            (
                "SMITH",
                "SMITH, T.",
                dt.datetime(2019, 6, 1),
                dt.datetime(2019, 6, 2),
            ),  # windowed: only roll 300 (10:00 on 6/1) is inside
        ],
        "before string, after string, start timestamp, stop timestamp",
    )
    out = er.apply_vote_renames(snow["votes"], snow["roll_calls"], rules)
    got = rows(out.filter(F.col("name").startswith("SMITH")), "roll_id", "name")
    # roll 300 (6/1 10:00, strictly inside) renamed; 301 (null stamp)
    # and 302 (6/2 09:00, after the 6/2 00:00 stop) keep SMITH
    assert got == [(300, "SMITH, T."), (301, "SMITH"), (302, "SMITH")]
    assert out.filter("name = 'KRUGER'").count() == 0
    assert out.filter("name = 'KRUEGER'").count() == 1
    assert out.count() == snow["votes"].count()


def test_apply_service_rules(spark, snow):
    rules = spark.createDataFrame(
        [
            (2020, 1, "White", None, "add"),  # back-fill from 2019 row
            (2019, 1, "Krueger", None, "remove"),
        ],
        "year int, chamber int, last string, first string, action string",
    )
    svc2, report = er.apply_service_rules(snow["service"], snow["members"], rules)
    added = rows(
        svc2.filter("year = 2020 and member_id = 3"),
        "member_id",
        "year",
        "chamber",
        "district",
        "party",
    )
    assert added == [(3, 2020, 1, 11, "Democrat")]
    assert svc2.filter("member_id = 10").count() == 0
    assert report.count() == 0


def test_apply_member_renames(spark, snow):
    rules = spark.createDataFrame(
        [
            ("house_current_id", 21, "Thomas", None, None, None),
            ("house_archive_id", 16, None, "Patrick", None, None),
        ],
        "key_field string, key_value long, first string, middle string, last string, suffix string",
    )
    out = er.apply_member_renames(snow["members"], rules)
    m = {r["id"]: r for r in out.collect()}
    assert m[2]["first"] == "Thomas" and m[2]["last"] == "Smith"
    assert m[6]["middle"] == "Patrick" and m[6]["first"] == "Brian"
    assert out.count() == snow["members"].count()


def test_match_report(snow):
    members2, service2, _ = er.merge_members(snow["members"], snow["service"])
    matches = er.match_vote_names(
        snow["votes"], snow["roll_calls"], snow["session_days"], members2, service2
    )
    report = er.vote_names.match_report(
        snow["votes"], snow["roll_calls"], snow["session_days"],
        members2, service2, matches,
    )
    got = rows(report, "issue", "name")
    # KRUGER misspelling: unmatched vote name; members 4/5 (Kellers)
    # minus the matched 5 leaves 4 unmatched; member 10 Krueger also
    # unmatched (KRUGER is not a substring of KRUEGER).
    assert ("vote_name_unmatched", "KRUGER") in got
    issues = {i for i, _ in got}
    assert issues <= {"vote_name_unmatched", "member_unmatched", "ambiguous"}
    assert ("member_unmatched", "KELLER") in got


def test_merge_members_three_way(spark):
    """Transitive merges collapse to one survivor; the canonical name
    comes from the survivor's highest-partner edge (the reference
    overwrites merge_names[id1] per later match)."""
    from palegislature_spark import schemas

    members = spark.createDataFrame(
        [
            (1, 11, None, None, None, "Tom", None, "Smith", None, None, None),
            (2, None, 22, None, None, "Thomas", None, "Smith", None, None, None),
            (3, None, None, 33, None, "T.", None, "Smith", None, None, None),
        ],
        schemas.MEMBERS,
    )
    service = spark.createDataFrame(
        [(1, 2019, 1, 5, "Democrat"), (2, 2019, 1, 5, "Democrat"), (3, 2019, 1, 5, "Democrat")],
        schemas.SERVICE,
    )
    members2, service2, merge_map = er.merge_members(members, service)
    mm = {r["id"]: r["survivor_id"] for r in merge_map.collect()}
    assert mm == {2: 1, 3: 1}
    m = {r["id"]: r for r in members2.collect()}
    assert set(m) == {1}
    # edges from 1: (1,2) merges to 'Thomas', (1,3) merges to 'Tom'
    # (initial adopts the longer: T. vs Tom -> Tom); highest partner
    # is 3, so the canonical first is 'Tom'.
    assert m[1]["first"] == "Tom"
    # id fields union across the component
    assert (m[1]["house_archive_id"], m[1]["house_current_id"], m[1]["senate_archive_id"]) == (11, 22, 33)
    assert service2.count() == 1


def test_name_violations_gate(spark):
    from palegislature_spark.er import name_struct, validate

    existing = spark.createDataFrame(
        [(11, "Thomas", None, "Smith", None), (12, "Mary", None, "White", None)],
        "house_archive_id long, f string, m string, l string, s string",
    ).select("house_archive_id", name_struct("f", "m", "l", "s").alias("name"))
    incoming = spark.createDataFrame(
        [
            (11, "Tom", None, "Smith", None),    # nickname: reconciles
            (12, "Paula", None, "White", None),  # different person: violates
            (13, "New", None, "Member", None),   # no existing row: passes
        ],
        "house_archive_id long, f string, m string, l string, s string",
    ).select("house_archive_id", name_struct("f", "m", "l", "s").alias("name"))

    v = validate.name_violations(existing, incoming, "house_archive_id")
    got = [(r["house_archive_id"], r["incoming_name"]["first"]) for r in v.collect()]
    assert got == [(12, "Paula")]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="identity violations"):
        validate.assert_no_violations(v, "member list")
    validate.assert_no_violations(v.limit(0))


def test_synthetic_corpus_resolves_completely(spark):
    # The bench generator (er/scalegen.py): every "LAST, FIRST" name
    # resolves in pass 1; bare-surname voters (every 50th member, here
    # member 0) resolve in the pass-2 substring fixpoint once their
    # block-mates are claimed; backfill leaves no NULL member_id.
    from palegislature_spark.er.scalegen import synthetic_vote_corpus
    from palegislature_spark.er.vote_names import (
        backfill_member_ids,
        match_vote_names,
        roll_years,
    )

    c = synthetic_vote_corpus(spark, n_members=20, n_years=2, rolls_per_group=3)
    assert c["votes"].count() == 20 * 2 * 3
    m = match_vote_names(
        c["votes"], c["roll_calls"], c["session_days"], c["members"], c["service"]
    ).collect()
    # one resolution per (member, year): 20 members x 2 years
    assert len(m) == 40
    assert {r["method"] for r in m} == {"block", "substring"}
    assert sum(1 for r in m if r["method"] == "substring") == 2  # member 0, both years
    bf = backfill_member_ids(
        c["votes"],
        spark.createDataFrame(m),
        roll_years(c["roll_calls"], c["session_days"]),
    )
    assert bf.filter("member_id IS NULL").count() == 0
