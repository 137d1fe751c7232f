"""Operator API guard: one production path per operator.

An expression twin that exists only to pin a kernel's bit-equality
lives in tests/reference_impls.py, never behind an operator switch,
kernels measured as losers stay deleted, persisted datasets commit
through palegislature_spark.sources.commit only, and every Arrow
kernel runs through palegislature_spark.operators.kernels.  Pure
introspection — no Spark session.
"""

from __future__ import annotations

import importlib
import inspect
import pathlib
import pkgutil
import re

import pytest

import palegislature_spark.operators as operators_pkg

BANNED_PARAMS = {"impl", "fold_impl", "encode_impl", "broadcast_vocab"}


def _modules():
    names = [
        f"{operators_pkg.__name__}.{m.name}"
        for m in pkgutil.iter_modules(operators_pkg.__path__)
    ]
    names += [operators_pkg.__name__, "palegislature_spark.streaming",
              "palegislature_spark.streaming.jobs"]
    return [importlib.import_module(n) for n in sorted(names)]


def _public_functions():
    seen = {}
    for mod in _modules():
        for name, obj in vars(mod).items():
            if (
                not name.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__.startswith("palegislature_spark.")
            ):
                seen[f"{obj.__module__}.{obj.__qualname__}"] = obj
    return seen


def test_walk_finds_the_operators():
    funcs = _public_functions()
    for name in (
        "palegislature_spark.operators.dedup.minhash_band_keys",
        "palegislature_spark.operators.graph.pagerank",
        "palegislature_spark.operators.bpe.apply_bpe",
        "palegislature_spark.streaming.jobs.value_transitions",
    ):
        assert name in funcs


def test_no_operator_takes_an_impl_switch():
    offenders = sorted(
        f"{name}({param})"
        for name, fn in _public_functions().items()
        for param in inspect.signature(fn).parameters
        if param in BANNED_PARAMS
    )
    assert offenders == []


@pytest.mark.parametrize(
    "module, name",
    [
        ("palegislature_spark.operators.dedup", "_xxh64_long_np"),
        ("palegislature_spark.operators.dedup", "_xxh64_int_np"),
        ("palegislature_spark.operators.graph", "_fold_sums_arrow"),
        ("palegislature_spark.streaming", "value_transitions_tws"),
        ("palegislature_spark.streaming.jobs", "value_transitions_tws"),
        # the unsafe in-place index appends and the per-family copies of
        # the commit protocol, now sources/commit.py
        ("palegislature_spark.operators.similarity", "ivf_append"),
        ("palegislature_spark.operators.dedup", "append_minhash_index"),
        ("palegislature_spark.operators.similarity", "_promote_folded"),
        ("palegislature_spark.streaming.jobs", "_promote_swap"),
        ("palegislature_spark.streaming.jobs", "_recover_interrupted_swap"),
        ("palegislature_spark.operators.similarity", "_ivf_folded_high_water"),
        ("palegislature_spark.operators.dedup", "_folded_high_water"),
        ("palegislature_spark.operators.dedup", "_committed_delta_ids"),
        ("palegislature_spark.operators.similarity", "_ivf_committed_delta_ids"),
        ("palegislature_spark.operators.pq", "_pq_committed_delta_ids"),
        ("palegislature_spark.streaming.jobs", "_unfolded_minhash_deltas"),
        ("palegislature_spark.streaming.jobs", "_unfolded_ivf_deltas"),
        # test-only pure-Python twins, now in tests/reference_impls.py,
        # and the fan-out policy, now the kernel seam's
        ("palegislature_spark.operators.multimodal", "_kr_mix_py"),
        ("palegislature_spark.operators.multimodal", "_ahash_py"),
        ("palegislature_spark.operators.multimodal", "_audio_fp_py"),
        ("palegislature_spark.operators.multimodal", "_fan_out"),
    ],
)
def test_deleted_kernels_stay_deleted(module, name):
    assert not hasattr(importlib.import_module(module), name)


def test_embedding_drift_has_no_assign_switch():
    from palegislature_spark.operators.audit import embedding_drift

    assert "assign_impl" not in inspect.signature(embedding_drift).parameters


def test_storage_goes_through_the_commit_module():
    """Operators and streaming sinks publish through
    palegislature_spark.sources.commit; none calls the raw Hadoop
    rename/create/delete/listStatus itself."""
    root = pathlib.Path(operators_pkg.__file__).parents[1]
    raw = re.compile(r"fs\.(rename|create|delete|listStatus)\b")
    offenders = [
        f"{path.relative_to(root)}:{n}"
        for sub in ("operators", "streaming")
        for path in sorted((root / sub).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert offenders == []


def test_ivf_assignments_offers_no_expression_assign():
    """Only the two Arrow kernels remain; the expression assignment is
    the test twin tests/reference_impls.assign_to_centroids_expr.  The
    switch is validated before any Spark work, so no session is needed."""
    from palegislature_spark.operators.similarity import ivf_assignments

    with pytest.raises(ValueError, match="assign_impl"):
        ivf_assignments(None, assign_impl="expr")


def test_arrow_kernels_go_through_the_seam():
    """palegislature_spark.operators.kernels is the only caller of
    DataFrame.mapInPandas, and no module reaches for the fan-out policy
    as another module's private helper."""
    root = pathlib.Path(operators_pkg.__file__).parents[1]
    seam = root / "operators" / "kernels.py"
    callers, fan_out = [], []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        if ".mapInPandas(" in text and path != seam:
            callers.append(str(path.relative_to(root)))
        if "_fan_out" in text:
            fan_out.append(str(path.relative_to(root)))
    assert callers == []
    assert fan_out == []
    assert ".mapInPandas(" in seam.read_text()
