"""Expression-level let-binding.

Composite Column expressions that reference an expensive sub-
expression many times (a parsed struct consumed field-by-field, a
char-fold used in several branches) blow up: every reference copies
the whole subtree, so analysis/optimization cost grows multiplica-
tively with nesting and the value is re-evaluated at runtime.

``let(value, body)`` binds ``value`` to a higher-order-function
lambda variable: ``transform(array(value), v -> body(v))[1]``. The
lambda variable is a leaf node — the tree stays small — and the
engine evaluates ``value`` exactly once per row. Nesting works;
inner lambdas may reference outer variables.

``cached_expr(key, build)`` keeps one assembled template per
SparkContext (see its docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once; feed it to ``body`` as a bound variable."""
    return F.element_at(F.transform(F.array(value), body), 1)


def let2(a: Column, b: Column, body: Callable[[Column, Column], Column]) -> Column:
    """Two-value let (packed through a struct)."""
    packed = F.struct(a.alias("a"), b.alias("b"))
    return let(packed, lambda p: body(p["a"], p["b"]))


# Unresolved-expression templates, built once per SparkContext.  The
# name match/parse when-trees are large enough that ASSEMBLING them
# over py4j costs whole seconds of driver time; the assembled Column
# is an immutable unresolved expression over fixed input names (e.g.
# "name_1", "name_2", "req" for the merge template), so it is reusable
# across every plan whose caller aliases its own columns onto those
# names -- the compile-the-regex-once discipline, applied to the
# driver.  This caches CODE (an expression template), never data or
# results.
_EXPR_CACHE: dict = {}


def cached_expr(key: str, build: Callable[[], Column]) -> Column:
    """``build()`` once per (SparkContext, key); the same Column after."""
    from pyspark import SparkContext

    ck = (id(SparkContext._active_spark_context), key)
    if ck not in _EXPR_CACHE:
        _EXPR_CACHE[ck] = build()
    return _EXPR_CACHE[ck]
