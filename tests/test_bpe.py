"""BPE trainer tests: parity with an independent pure-Python reference
implementation, fold semantics edge cases, tokenizer application."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from palegislature_spark.operators.bpe import apply_bpe, bpe_merge_table
from tests.reference_impls import apply_bpe_expr


def _reference_bpe(texts: list[str], n_merges: int):
    """Independent reference: classic dict-based BPE (Sennrich et al.
    2016 pseudocode shape), tie-broken (count desc, left, right)."""
    vocab = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                vocab[tuple(w)] += 1
    merges = []
    for step in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        (a, b), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, a, b, a + b, n))
        new_vocab: Counter = Counter()
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += cnt
        vocab = new_vocab
    return merges


TEXTS = [
    "low low lower lowest",
    "new newer newest low",
    "widest wide wider new",
    "lll llll ll",  # overlapping-pair fold semantics
]


def test_bpe_matches_reference(spark):
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in bpe_merge_table(docs, n_merges=10).orderBy("step").collect()
    ]
    assert got == _reference_bpe(TEXTS, 10)


def test_bpe_overlap_fold_semantics(spark):
    """[l,l,l] under merge (l,l) -> [ll,l]: the second pair shares the
    middle symbol and must NOT merge (left-to-right non-overlapping)."""
    docs = spark.createDataFrame([(1, "lll lll")], "doc_id long, text string")
    mt = bpe_merge_table(docs, n_merges=2)
    rows = {r["step"]: (r["left_sym"], r["right_sym"], r["pair_count"]) for r in mt.collect()}
    assert rows[1] == ("l", "l", 4)  # 2 non-overlapping pairs per word
    assert rows[2] == ("ll", "l", 2)


def test_apply_bpe_tokenizes_with_learned_merges(spark):
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )
    mt = bpe_merge_table(docs, n_merges=10)
    toks = {
        r["doc_id"]: r["tokens"]
        for r in apply_bpe(docs, mt).collect()
    }
    # every token decomposes back to the original text
    for i, t in enumerate(TEXTS):
        assert "".join(toks[i]) == t.replace(" ", "")
    # the hot merges actually fused: 'low' appears as ONE token
    assert "low" in toks[0]


def test_apply_bpe_broadcast_paths_agree(spark):
    """The expression twin's dictionary join must produce identical
    tokens whether the word->tokens table is broadcast (small-corpus
    gate) or left to the optimizer (the replica-scale fallback — a
    forced broadcast of the corpus-grown vocabulary overflowed at 500k
    docs)."""
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )
    mt = bpe_merge_table(docs, n_merges=10)
    bcast = {
        r["doc_id"]: r["tokens"]
        for r in apply_bpe_expr(docs, mt, broadcast_vocab=True).collect()
    }
    plain = {
        r["doc_id"]: r["tokens"]
        for r in apply_bpe_expr(docs, mt, broadcast_vocab=False).collect()
    }
    assert bcast == plain


def test_bpe_exhausted_corpus_stops_early(spark):
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    mt = bpe_merge_table(docs, n_merges=50).collect()
    assert len(mt) == 1  # only (a,b) exists; loop must break, not spin
    assert (mt[0]["left_sym"], mt[0]["right_sym"]) == ("a", "b")


_WORD = st.text(alphabet="abcde", min_size=1, max_size=6)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(st.lists(_WORD, min_size=1, max_size=8), min_size=1, max_size=4))
def test_bpe_property_matches_reference(spark, word_lists):
    """Random small corpora over a 5-letter alphabet: the distributed
    trainer must equal the dict-based reference on every draw (the
    alphabet forces heavy pair collisions and tie-breaks)."""
    texts = [" ".join(ws) for ws in word_lists]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in bpe_merge_table(docs, n_merges=5).orderBy("step").collect()
    ]
    assert got == _reference_bpe(texts, 5)


def test_batched_rounds_equal_sequential(spark):
    """merge_batch > 1 must be a pure round-count optimization: the
    merge table is identical to one-at-a-time training."""
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )
    seq = [
        tuple(r)
        for r in bpe_merge_table(docs, n_merges=10).orderBy("step").collect()
    ]
    for k in (2, 4, 16):
        batched = [
            tuple(r)
            for r in bpe_merge_table(docs, n_merges=10, merge_batch=k)
            .orderBy("step")
            .collect()
        ]
        assert batched == seq, f"merge_batch={k} diverged"


@settings(max_examples=6, deadline=None, derandomize=True)
@given(st.lists(st.lists(_WORD, min_size=1, max_size=8), min_size=1, max_size=4))
def test_batched_property_equals_sequential(spark, word_lists):
    """Tie-heavy random corpora: the disjoint-prefix batching with its
    count bound must never diverge from sequential training."""
    texts = [" ".join(ws) for ws in word_lists]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    seq = [
        tuple(r)
        for r in bpe_merge_table(docs, n_merges=6).orderBy("step").collect()
    ]
    batched = [
        tuple(r)
        for r in bpe_merge_table(docs, n_merges=6, merge_batch=3)
        .orderBy("step")
        .collect()
    ]
    assert batched == seq


def test_apply_bpe_arrow_equals_expr(spark):
    """The shuffle-free mapInPandas encode must be bit-equal to the
    expression twin (tests/reference_impls.py) on every path:
    the wrapped replace chain, the \\x01/\\x02 fold fallback, empty/
    NULL/multi-space documents, and non-BMP unicode."""
    rows = [
        (0, "low lower lowest low low"),
        (1, "ab ab ba \x01weird\x02 café élève"),
        (2, ""),
        (3, None),
        (4, "a  b   c"),
        (5, "\x01\x02 \x02\x01"),
        (6, "\U0001f600ab ab\U0001f600"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    mt = bpe_merge_table(
        docs.filter("text is not null"), n_merges=6, merge_batch=6
    )
    arrow = {
        r["doc_id"]: r["tokens"]
        for r in apply_bpe(docs, mt).collect()
    }
    expr = {
        r["doc_id"]: r["tokens"]
        for r in apply_bpe_expr(docs, mt).collect()
    }
    assert arrow == expr
