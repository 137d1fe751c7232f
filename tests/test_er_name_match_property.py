"""Property test: merge_names vs an independent Python spec.

The spec restates names.py:35-149 semantics (with the two documented
engine deviations: directed curated nickname table; F.-Scott swap
accepts exact first==middle equality). Name pairs are generated from
a pool that exercises every path; Spark evaluates the whole batch in
one job, then every pair's merged struct is compared to the spec.
"""

from __future__ import annotations

import itertools

from palegislature_spark.er import merge_names, name_struct
from palegislature_spark.er.name_match import NICKNAMES, merge_template

# ---------------------------------------------------------------------------
# Python spec (independent restatement, not the implementation)
# ---------------------------------------------------------------------------


def spec_title(s: str) -> str:
    return s.title()


def spec_is_nick(a: str | None, b: str | None) -> bool:
    if not a or not b:
        return False
    return b.lower() in NICKNAMES.get(a.lower(), [])


def spec_resolve_initial(a: str | None, b: str | None) -> str | None:
    if not a or not b:
        return None
    if a[0] != b[0]:
        return None
    short, long = (a, b) if len(a) < len(b) else (b, a)
    if len(short) == 2 and short[1] == "." and len(long) > 2:
        return long
    if len(short) == 1 and len(long) > 1:
        return long
    return None


def spec_match_middle(m1, m2):
    """-> (ok, value)"""
    if m1 and not m2:
        return True, m1
    if m2 and not m1:
        return True, m2
    if not m1 and not m2:
        return True, None
    if m1 == m2:
        return True, m1
    r = spec_resolve_initial(m1, m2)
    if r:
        return True, r
    return False, None


def spec_fscott(f1, m1, f2, m2):
    """One-directional swap check: n1 carries 'X.' + middle."""
    return (
        f1 is not None
        and len(f1) == 2
        and f1[1] == "."
        and m1 is not None
        and m2 is None
        and (spec_resolve_initial(f2, m1) is not None or f2 == m1)
    )


def spec_merge(n1, n2, require_suffix=True):
    f1, m1, l1, s1 = n1
    f2, m2, l2, s2 = n2
    # last
    if l1 == l2:
        last = l1
    elif spec_title(l1) == spec_title(l2):
        if spec_title(l1) == l1:
            last = l2
        elif spec_title(l2) == l2:
            last = l1
        else:
            return None
    else:
        return None
    # bare short-circuit
    if not f1 and not m1 and not s1:
        return (f2, m2, last, s2)
    # first
    middle_from_swap = None
    if f1 == f2 and f1 is not None:
        first = f1
    elif spec_is_nick(f1, f2):
        first = f2
    elif spec_is_nick(f2, f1):
        first = f1
    elif spec_resolve_initial(f1, f2):
        first = spec_resolve_initial(f1, f2)
    elif spec_fscott(f1, m1, f2, m2):
        first, middle_from_swap = f1, m1
    elif spec_fscott(f2, m2, f1, m1):
        first, middle_from_swap = f2, m2
    else:
        return None
    # middle
    if middle_from_swap is not None:
        middle = middle_from_swap
    elif m1 or m2:
        ok, middle = spec_match_middle(m1, m2)
        if not ok:
            return None
    else:
        middle = None
    # suffix
    if s1 == s2:
        suffix = s1
    elif require_suffix:
        return None
    elif s1 and not s2:
        suffix = s1
    elif s2 and not s1:
        suffix = s2
    else:
        return None
    return (first, middle, last, suffix)


# ---------------------------------------------------------------------------
# Batch comparison
# ---------------------------------------------------------------------------

FIRSTS = [None, "John", "J.", "J", "Tom", "Thomas", "Mary", "F."]
MIDDLES = [None, "Q.", "Quincy", "Scott"]
LASTS = ["Smith", "Mcrae", "McRae"]
SUFFIXES = [None, "Jr."]


def gen_pairs():
    names = []
    for f, m, l, s in itertools.product(FIRSTS, MIDDLES, LASTS, SUFFIXES):
        # bare-surname rows only without middle/suffix noise
        if f is None and (m or s):
            continue
        names.append((f, m, l, s))
    # pair each name with a deterministic sample of others
    pairs = []
    for i, a in enumerate(names):
        for b in names[i::7]:  # stride keeps the batch ~2k pairs
            pairs.append(a + b)
    return pairs


PAIR_SCHEMA = (
    "f1 string, m1 string, l1 string, s1 string, "
    "f2 string, m2 string, l2 string, s2 string"
)


def _as_tuple(got):
    return None if got is None else (
        got["first"], got["middle"], got["last"], got["suffix"]
    )


def test_merge_names_matches_spec(spark):
    pairs = gen_pairs()
    df = spark.createDataFrame(pairs, PAIR_SCHEMA)
    for require_suffix in (True, False):
        out = df.select(
            "f1", "m1", "l1", "s1", "f2", "m2", "l2", "s2",
            merge_names(
                name_struct("f1", "m1", "l1", "s1"),
                name_struct("f2", "m2", "l2", "s2"),
                require_suffix,
            ).alias("merged"),
        ).collect()
        mismatches = []
        for r in out:
            want = spec_merge(
                (r["f1"], r["m1"], r["l1"], r["s1"]),
                (r["f2"], r["m2"], r["l2"], r["s2"]),
                require_suffix,
            )
            got_t = _as_tuple(r["merged"])
            if got_t != want:
                mismatches.append((r["f1"], r["m1"], r["l1"], r["s1"],
                                   r["f2"], r["m2"], r["l2"], r["s2"],
                                   got_t, want))
        assert not mismatches, mismatches[:5]


def test_merge_template_matches_spec_in_one_plan(spark):
    """The suffix rule as data: every pair appears once with req true
    and once with req false, on different rows of ONE plan evaluated
    through the shared template, and each row matches the spec for
    its own req."""
    pairs = gen_pairs()
    df = spark.createDataFrame(
        [p + (req,) for p in pairs for req in (True, False)],
        PAIR_SCHEMA + ", req boolean",
    )
    out = df.select(
        "*",
        name_struct("f1", "m1", "l1", "s1").alias("name_1"),
        name_struct("f2", "m2", "l2", "s2").alias("name_2"),
    ).select(
        "f1", "m1", "l1", "s1", "f2", "m2", "l2", "s2", "req",
        merge_template().alias("merged"),
    ).collect()
    assert len(out) == 2 * len(pairs)
    mismatches = [
        tuple(r)
        for r in out
        if _as_tuple(r["merged"]) != spec_merge(
            (r["f1"], r["m1"], r["l1"], r["s1"]),
            (r["f2"], r["m2"], r["l2"], r["s2"]),
            r["req"],
        )
    ]
    assert not mismatches, mismatches[:5]
    # the rule must actually differ between the two halves somewhere
    matched = {(tuple(r)[:8], r["req"]): r["merged"] is not None for r in out}
    assert any(matched[(k, False)] and not matched[(k, True)] for k, _ in matched)
