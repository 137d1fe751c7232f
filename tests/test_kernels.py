"""The Arrow-kernel seam (palegislature_spark.operators.kernels): the
bounded per-task memo, and the two memoized kernels on a vocabulary
larger than the memo cap."""

from __future__ import annotations

from palegislature_spark.operators import kernels
from palegislature_spark.operators.bpe import apply_bpe, bpe_merge_table
from palegislature_spark.operators.dedup import simhash_signatures
from tests.reference_impls import apply_bpe_expr, simhash_signatures_expr


def test_task_memo_caps_entries_and_values_match_past_the_cap():
    calls = []

    def compute(k):
        calls.append(k)
        return ("v", k)

    memo = kernels.TaskMemo()
    n = kernels.MEMO_CAP + 100
    first = [memo.get(k, compute) for k in range(n)]
    assert len(memo) == kernels.MEMO_CAP
    again = [memo.get(k, compute) for k in range(n)]
    assert len(memo) == kernels.MEMO_CAP
    assert first == again == [("v", k) for k in range(n)]
    # stored keys hit; the 100 keys past the cap are computed again
    assert len(calls) == n + 100


def _word(i: int) -> str:
    letters = "etaoinshrdlucmfw"
    return "".join(letters[(i >> (4 * d)) & 15] for d in range(5))


def test_memoized_kernels_exact_past_the_memo_cap(spark):
    """One giant document in one partition with more distinct words
    than the memo cap (an adversarial vocabulary): the BPE and SimHash
    kernels still equal their expression twins bit for bit."""
    n_words = kernels.MEMO_CAP + 4096
    words = [_word(i) for i in range(n_words)]
    assert len(set(words)) == n_words
    # repeat words stored in the memo and words past the cap
    giant = " ".join(words + words[:500] + words[-500:])
    docs = spark.createDataFrame(
        [(0, giant), (1, "tea sat on the mat")], "doc_id long, text string"
    ).coalesce(1)
    sample = spark.createDataFrame(
        [(0, " ".join(words[:2000]))], "doc_id long, text string"
    )
    mt = bpe_merge_table(sample, n_merges=8, merge_batch=8)
    assert mt.count() == 8

    def tokens(df):
        return {r["doc_id"]: r["tokens"] for r in df.collect()}

    assert tokens(apply_bpe(docs, mt)) == tokens(apply_bpe_expr(docs, mt))

    def sigs(df):
        return {r["doc_id"]: r["simhash"] for r in df.collect()}

    assert sigs(simhash_signatures(docs, "doc_id", "text")) == sigs(
        simhash_signatures_expr(docs, "doc_id", "text")
    )
