"""Pairwise name-match semantics as Column expressions.

Re-expresses the reference's ``is_same_name`` (``names.py:96-149``)
and its helpers (``resolve_initial`` :52-67, ``match_middle`` :70-85,
``resolve_first_middle`` :87-93, ``is_nickname_of`` :35-49) as pure
``pyspark.sql`` when-chains over two {first, middle, last, suffix}
structs. The semantics are deliberately pinned to the reference,
with two deviations required for a distributed engine:

  * ambiguity is DATA, not a crash: where the reference calls
    ``exit(-1)`` (ambiguous nicknames) or prints a warning and falls
    through, this expression returns NULL (no match) — callers route
    non-matches to review output, reproducing the human-in-the-loop
    report (``match_names.py:192-233``) as a DataFrame;
  * the nickname relation is a curated directed table (nick ->
    formal names, common public English nicknames) instead of the
    ``nicknames`` PyPI package; the reference's special-cased pairs
    (Tommy/Thomas, Stan/Stanley — ``names.py:36``) are rows in it.

The whole match is one expression — no Python runs per row, so a
blocked candidate join evaluates it inside whole-stage codegen.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

from palegislature_spark.functions.expr_util import cached_expr, let, let2
from palegislature_spark.functions.names import parse_name, python_title

# Directed nickname relation: lower(nick) -> lower(formal) names.
# Curated from common public English nickname conventions; includes
# the reference's forced pairs (names.py:36) and the names its
# LONG_NAMES preference list would canonicalize to (names.py:6).
NICKNAMES: dict[str, list[str]] = {
    "al": ["albert", "alfred", "alan"],
    "andy": ["andrew"],
    "art": ["arthur"],
    "ben": ["benjamin"],
    "bernie": ["bernard"],
    "beth": ["elizabeth"],
    "bill": ["william"],
    "bob": ["robert"],
    "bobby": ["robert"],
    "cathy": ["catherine", "katherine"],
    "chris": ["christopher", "christine", "christian"],
    "chuck": ["charles"],
    "cindy": ["cynthia"],
    "dan": ["daniel"],
    "danny": ["daniel"],
    "dave": ["david"],
    "debbie": ["deborah"],
    "dick": ["richard"],
    "dom": ["dominic"],
    "don": ["donald"],
    "doug": ["douglas"],
    "ed": ["edward", "edwin"],
    "eddie": ["edward"],
    "fred": ["frederick"],
    "gene": ["eugene"],
    "greg": ["gregory"],
    "hank": ["henry"],
    "herb": ["herbert"],
    "jack": ["john"],
    "jake": ["jacob"],
    "jen": ["jennifer"],
    "jeff": ["jeffrey"],
    "jerry": ["gerald", "jerome"],
    "jim": ["james"],
    "jimmy": ["james"],
    "joe": ["joseph"],
    "josh": ["joshua"],
    "kate": ["katherine", "catherine"],
    "katie": ["katherine", "catherine"],
    "ken": ["kenneth"],
    "kim": ["kimberly"],
    "larry": ["lawrence"],
    "liz": ["elizabeth"],
    "lou": ["louis"],
    "maggie": ["margaret"],
    "marty": ["martin"],
    "matt": ["matthew"],
    "mel": ["melvin"],
    "mike": ["michael"],
    "nate": ["nathan", "nathaniel"],
    "ned": ["edward"],
    "nick": ["nicholas"],
    "pam": ["pamela"],
    "pat": ["patrick", "patricia"],
    "patty": ["patricia"],
    "peg": ["margaret"],
    "peggy": ["margaret"],
    "pete": ["peter"],
    "phil": ["philip", "phillip"],
    "ray": ["raymond"],
    "rich": ["richard"],
    "rick": ["richard"],
    "rob": ["robert"],
    "ron": ["ronald"],
    "russ": ["russell"],
    "sam": ["samuel"],
    "stan": ["stanley"],
    "steve": ["stephen", "steven"],
    "stu": ["stuart"],
    "sue": ["susan"],
    "ted": ["theodore", "edward"],
    "terry": ["terrence", "terence"],
    "tim": ["timothy"],
    "tom": ["thomas"],
    "tommy": ["thomas"],
    "tony": ["anthony"],
    "vince": ["vincent"],
    "walt": ["walter"],
    "will": ["william"],
    "zach": ["zachary"],
}

def _nick_map() -> Column:
    # built lazily: Column literals need an active SparkContext.
    # ONE from_json literal instead of a create_map of ~300 literal
    # nodes: Catalyst constant-folds JsonToStructs of a literal at
    # optimization time (same plan constant either way), but the
    # py4j-side CONSTRUCTION drops from ~300 gateway calls to 2 —
    # names_match builds this twice per call, and the build cost was
    # showing up as whole seconds of driver time per plan compile
    # (guide §1.2 step 2: per-task work includes the driver's
    # expression assembly when plans are rebuilt per query).
    return F.from_json(
        F.lit(json.dumps(NICKNAMES, sort_keys=True)),
        "map<string,array<string>>",
    )


def name_struct(first, middle, last, suffix) -> Column:
    """Assemble a name struct from four columns (empties -> NULL)."""
    blank = lambda c: F.nullif(F.col(c) if isinstance(c, str) else c, F.lit(""))  # noqa: E731
    return F.struct(
        blank(first).alias("first"),
        blank(middle).alias("middle"),
        blank(last).alias("last"),
        blank(suffix).alias("suffix"),
    )


def _is_nick(nick: Column, full: Column) -> Column:
    """True iff ``nick`` is a registered nickname of ``full``."""
    fulls = F.coalesce(_nick_map()[F.lower(nick)], F.array().cast("array<string>"))
    return F.array_contains(fulls, F.lower(full))


def _resolve_initial(a: Column, b: Column) -> Column:
    """names.py:52-67 — 'J.'/'J' vs 'John' -> 'John'; else NULL.

    Both non-null, same first char; the shorter must be a bare
    initial ('X.' or 'X') and the longer strictly longer.
    """
    short = F.when(F.length(a) < F.length(b), a).otherwise(b)
    long = F.when(F.length(a) < F.length(b), b).otherwise(a)
    ok = (
        a.isNotNull()
        & b.isNotNull()
        & (F.substring(a, 1, 1) == F.substring(b, 1, 1))
        & (
            ((F.length(short) == 2) & (F.substring(short, 2, 1) == ".") & (F.length(long) > 2))
            | ((F.length(short) == 1) & (F.length(long) > 1))
        )
    )
    return F.when(ok, long)


def _match_middle(m1: Column, m2: Column) -> Column:
    """names.py:70-85 — struct(ok, value); mismatch -> ok=false.

    One side empty -> the other; equal -> either; initial vs full ->
    full; anything else fails (the reference warns and returns None).
    """
    # bind the resolve-initial subtree once (referenced by both the
    # value branch and the ok predicate)
    return let(
        _resolve_initial(m1, m2),
        lambda resolved: F.struct(
            (
                m1.isNull() | m2.isNull() | (m1 == m2) | resolved.isNotNull()
            ).alias("ok"),
            (
                F.when(m1.isNotNull() & m2.isNull(), m1)
                .when(m2.isNotNull() & m1.isNull(), m2)
                .when(m1.isNull() & m2.isNull(), F.lit(None).cast("string"))
                .when(m1 == m2, m1)
                .otherwise(resolved)
            ).alias("value"),
        ),
    )


def merge_names(
    n1: Column, n2: Column, require_suffix: bool | Column = True
) -> Column:
    """``is_same_name`` (names.py:96-149): canonical merged struct, or
    NULL when the names don't refer to the same person.

    Resolution order matches the reference exactly: last (with
    title-case reconciliation — the non-title-cased variant is
    canonical, e.g. 'McRae' beats 'Mcrae'), bare-surname short-circuit
    (n1 with no first/middle/suffix adopts n2 wholesale), first
    (equality, nickname -> formal, initial -> full, then the
    'F. Scott' first<->middle swap), middle reconciliation, suffix
    (equal always passes; one-sided only when ``require_suffix`` is
    False; conflicting suffixes never match).

    ``require_suffix`` is data: a boolean Column (a Python bool becomes
    a literal), so rows of one plan may differ in it while the
    expression is built and compiled once -- see ``merge_template``.
    """
    if not isinstance(require_suffix, Column):
        require_suffix = F.lit(require_suffix)
    return let2(n1, n2, lambda a, b: _merge_impl(a, b, require_suffix))


def merge_template() -> Column:
    """``merge_names(name_1, name_2, req)`` over those fixed column
    names, built once per SparkContext: callers alias their two name
    structs and their suffix rule onto ``name_1``/``name_2``/``req``
    instead of assembling the ~3.6k-node expression again."""
    return cached_expr(
        "merge_names",
        lambda: merge_names(F.col("name_1"), F.col("name_2"), F.col("req")),
    )


def _merge_impl(n1: Column, n2: Column, require_suffix: Column) -> Column:
    f1, m1, l1, s1 = n1["first"], n1["middle"], n1["last"], n1["suffix"]
    f2, m2, l2, s2 = n2["first"], n2["middle"], n2["last"], n2["suffix"]

    # --- last: non-title-cased variant is canonical ------------------
    last_val = let2(
        python_title(l1),
        python_title(l2),
        lambda t1, t2: (
            F.when(l1 == l2, l1)
            .when((t1 == t2) & (t1 == l1), l2)
            .when((t1 == t2) & (t2 == l2), l1)
        ),
    )

    # --- bare-surname short-circuit (names.py:111-112) ---------------
    bare = f1.isNull() & m1.isNull() & s1.isNull()

    # 'F. Scott' swap (names.py:87-93): one side's first is an initial
    # with a middle present, the other side has no middle and a first
    # matching that middle as initial-or-full. Deliberate extension
    # over the reference: exact equality (first2 == middle1) also
    # qualifies — the reference's resolve_initial returns None for
    # equal strings, silently failing the very case FIXTURES.md §1(d)
    # calls out ("F. Scott"/"Scott"); equality is unambiguous.
    fs1 = (
        (F.length(f1) == 2)
        & (F.substring(f1, 2, 1) == ".")
        & m1.isNotNull()
        & m2.isNull()
        & (_resolve_initial(f2, m1).isNotNull() | (f2 == m1))
    )
    fs2 = (
        (F.length(f2) == 2)
        & (F.substring(f2, 2, 1) == ".")
        & m2.isNotNull()
        & m1.isNull()
        & (_resolve_initial(f1, m2).isNotNull() | (f1 == m2))
    )
    # bind the resolve-initial subtree once (it used to be BUILT and
    # carried twice — once for the isNotNull guard, once for the value)
    first_val = let(
        _resolve_initial(f1, f2),
        lambda ri: (
            F.when(f1 == f2, f1)
            .when(_is_nick(f1, f2), f2)
            .when(_is_nick(f2, f1), f1)
            .when(ri.isNotNull(), ri)
            .when(fs1, f1)
            .when(fs2, f2)
        ),
    )

    def assemble(lv: Column, fv: Column) -> Column:
        swap_middle = F.when(fs1, m1).when(fs2, m2)
        mm = _match_middle(m1, m2)
        return let2(
            F.coalesce(swap_middle, mm["value"]),
            mm["ok"],
            lambda middle_val, middle_raw_ok: _finish(
                lv, fv, middle_val, middle_raw_ok
            ),
        )

    def _finish(lv, fv, middle_val, middle_raw_ok):
        middle_ok = fs1 | fs2 | (m1.isNull() & m2.isNull()) | middle_raw_ok
        sfx_equal = (s1 == s2) | (s1.isNull() & s2.isNull())
        suffix_ok = sfx_equal | (~require_suffix & (s1.isNull() | s2.isNull()))
        # Both firsts absent: the reference compares empty strings
        # ('' == '' -> match, names.py:96-105), so e.g. two suffix-
        # bearing 'Smith Jr.' records merge even though neither is
        # ``bare`` (ADVICE r1) — fv stays NULL and the merged first
        # is NULL, matching the reference's empty-first output.
        both_null_first = f1.isNull() & f2.isNull()
        merged = F.struct(
            F.when(bare, f2).otherwise(fv).alias("first"),
            F.when(bare, m2).otherwise(middle_val).alias("middle"),
            lv.alias("last"),
            F.when(bare, s2).otherwise(F.coalesce(s1, s2)).alias("suffix"),
        )
        ok = lv.isNotNull() & (
            bare | ((fv.isNotNull() | both_null_first) & middle_ok & suffix_ok)
        )
        return F.when(ok, merged)

    return let2(last_val, first_val, assemble)


def names_match(
    n1: Column, n2: Column, require_suffix: bool | Column = True
) -> Column:
    """Boolean form of merge_names."""
    return merge_names(n1, n2, require_suffix).isNotNull()


def parse_vote_name(col: Column | str) -> Column:
    """Vote-name string -> name struct, the way ``get_match`` parses it
    (``match_names.py:14-18``): no space -> bare title-cased surname;
    otherwise full parse of the title-cased string. A bare 'X.'
    first is normalized to 'X' (``match_names.py:36-37``).
    """
    col = F.col(col) if isinstance(col, str) else col

    def build(titled: Column) -> Column:
        bare = F.struct(
            F.lit(None).cast("string").alias("first"),
            F.lit(None).cast("string").alias("middle"),
            titled.alias("last"),
            F.lit(None).cast("string").alias("suffix"),
        )
        return let(
            F.when(~col.contains(" "), bare).otherwise(parse_name(titled)),
            lambda chosen: F.struct(
                F.when(
                    (F.length(chosen["first"]) == 2)
                    & (F.substring(chosen["first"], 2, 1) == "."),
                    F.substring(chosen["first"], 1, 1),
                )
                .otherwise(chosen["first"])
                .alias("first"),
                chosen["middle"].alias("middle"),
                chosen["last"].alias("last"),
                chosen["suffix"].alias("suffix"),
            ),
        )

    return let(python_title(col), build)
