"""Unit tests for benchmark decontamination and duplicate-span
coverage (operators/contamination.py) on handcrafted fixtures where
the expected answer is derivable by eye."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from palegislature_spark.operators.contamination import (
    _word_ngrams,
    decontaminate,
    duplicate_span_coverage,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams_positions(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b")])
    got = sorted(
        (r.doc_id, r.start, r.gram)
        for r in _word_ngrams(df, "doc_id", "text", 3).collect()
    )
    assert got == [(1, 1, "a b c"), (1, 2, "b c d")]  # doc 2: too short


def test_decontaminate_flags_any_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here nothing shared at all"),
            (3, "quick brown fox jumps over something else entirely now"),
        ],
    )
    eval_df = _docs(spark, [(100, "the quick brown fox jumps over it")])
    out = {
        r.doc_id: r
        for r in decontaminate(train, eval_df, n=5).collect()
    }
    assert set(out) == {1, 2, 3}
    # doc 1 shares 5-grams starting at 'the quick...' and 'quick brown...'
    assert out[1].contaminated and out[1].n_hit == 2
    assert out[1].n_grams == 5
    assert out[1].hit_share == 2 / 5
    # doc 3 shares exactly 'quick brown fox jumps over'
    assert out[3].contaminated and out[3].n_hit == 1
    # doc 2 is clean and still present with zeros
    assert not out[2].contaminated and out[2].n_hit == 0
    assert out[2].hit_share == 0.0


def test_decontaminate_reports_short_docs_clean(spark):
    """A training doc shorter than n words has no n-grams; it must
    still appear in the output as clean (n_grams=0, hit_share=0.0),
    not silently vanish."""
    train = _docs(spark, [(1, "only three words"), (2, "a b c d e f g")])
    eval_df = _docs(spark, [(9, "a b c d e")])
    out = {r.doc_id: r for r in decontaminate(train, eval_df, n=5).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_grams == 0 and out[1].n_hit == 0
    assert out[1].hit_share == 0.0 and not out[1].contaminated
    assert out[2].contaminated


def test_decontaminate_short_doc_clean_under_hash_collision(spark, monkeypatch):
    """A doc shorter than n words has one NULL gram; its hash must stay
    NULL. xxhash64(NULL) is the seed 42, so an eval gram that hashes to
    42 would otherwise flag the short doc. A constant hash forces that
    collision."""
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(42).cast("long"))
    train = _docs(spark, [(1, "only three words")])
    eval_df = _docs(spark, [(9, "a b c d e")])
    out = decontaminate(train, eval_df, n=5).collect()
    assert [(r.doc_id, r.n_hit, r.contaminated) for r in out] == [(1, 0, False)]


def test_decontaminate_shuffle_path_equals_broadcast(spark, sf_dir):
    """The >5M-gram fallback (broadcast_eval=False) must produce
    exactly the broadcast path's rows — the left-join restructure has
    to hold on both join strategies."""
    from palegislature_spark.catalog import load
    from palegislature_spark.operators.sampling import hash_split
    import pyspark.sql.functions as SF

    docs = hash_split(
        load(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    train = docs.filter(SF.col("split") != "test")
    eval_df = docs.filter(SF.col("split") == "test")
    a = sorted(
        tuple(r)
        for r in decontaminate(train, eval_df, n=5, broadcast_eval=True).collect()
    )
    b = sorted(
        tuple(r)
        for r in decontaminate(train, eval_df, n=5, broadcast_eval=False).collect()
    )
    assert a == b
    assert any(r[4] for r in a)  # the fixture really has contamination


def test_decontaminate_broadcasts_eval_side(spark):
    train = _docs(spark, [(1, "a b c d e f")])
    eval_df = _docs(spark, [(9, "a b c d e")])
    plan = decontaminate(train, eval_df, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_span_coverage_merges_overlapping_intervals(spark):
    # k=3: docs 1 and 2 share the run "a b c d" -> spans (a b c) and
    # (b c d) at doc positions 1 and 2 -> union covers tokens 1..4.
    df = _docs(
        spark,
        [
            (1, "a b c d x y z"),
            (2, "p q a b c d r"),
            (3, "u v w m n o t"),
        ],
    )
    out = {
        r.doc_id: r for r in duplicate_span_coverage(df, k=3).collect()
    }
    assert out[1].n_tokens == 7 and out[1].covered_tokens == 4
    assert out[1].coverage == 4 / 7
    # doc 2: the shared run sits at positions 3..6
    assert out[2].covered_tokens == 4
    # doc 3 shares nothing but still appears
    assert out[3].covered_tokens == 0 and out[3].coverage == 0.0


def test_span_coverage_disjoint_islands_sum(spark):
    # shared spans at both ends, gap in the middle: extents add up
    df = _docs(
        spark,
        [
            (1, "a b c GAP1 GAP2 d e f"),
            (2, "a b c OTHER1 OTHER2 d e f"),
        ],
    )
    out = {
        r.doc_id: r for r in duplicate_span_coverage(df, k=3).collect()
    }
    # islands [1,3] and [6,8] -> 6 covered of 8
    assert out[1].covered_tokens == 6 and out[1].n_tokens == 8
    assert out[2].covered_tokens == 6


def test_span_coverage_within_doc_repeat_not_counted(spark):
    # a span repeated only WITHIN one doc is not a cross-doc duplicate
    df = _docs(
        spark,
        [
            (1, "a b c a b c"),
            (2, "x y z w v u"),
        ],
    )
    out = {
        r.doc_id: r for r in duplicate_span_coverage(df, k=3).collect()
    }
    assert out[1].covered_tokens == 0
    assert out[2].covered_tokens == 0


def test_strip_spans_keeps_first_occurrence(spark):
    from palegislature_spark.operators.contamination import (
        strip_duplicate_spans,
    )

    df = _docs(
        spark,
        [
            (1, "a b c x y z w"),
            (2, "p q a b c r s"),
            (3, "a b c t u v m"),
        ],
    )
    out = {
        r.doc_id: r for r in strip_duplicate_spans(df, k=3).collect()
    }
    # doc 1 holds the canonical (min doc_id, start) occurrence of
    # "a b c": untouched; docs 2 and 3 lose those three tokens
    assert out[1].n_removed == 0
    assert out[1].text_clean == "a b c x y z w"
    assert out[2].n_removed == 3 and out[2].text_clean == "p q r s"
    assert out[3].n_removed == 3 and out[3].text_clean == "t u v m"


def test_strip_spans_overlapping_runs_merge(spark):
    from palegislature_spark.operators.contamination import (
        strip_duplicate_spans,
    )

    # shared 4-token run -> two overlapping 3-gram spans in each doc;
    # the non-canonical doc loses the union, not double-counted
    df = _docs(
        spark,
        [
            (1, "a b c d x y"),
            (2, "z a b c d w"),
        ],
    )
    out = {
        r.doc_id: r for r in strip_duplicate_spans(df, k=3).collect()
    }
    assert out[1].n_removed == 0
    assert out[2].n_removed == 4 and out[2].text_clean == "z w"


def _py_spans(texts: dict[int, str], k: int):
    """Brute-force reference: doc -> list of (start, end, gram)."""
    out = {}
    for d, t in texts.items():
        tk = t.split(" ")
        out[d] = [
            (i + 1, i + k, " ".join(tk[i : i + k]))
            for i in range(len(tk) - k + 1)
        ]
    return out


def _py_union(intervals):
    covered = set()
    for s, e in intervals:
        covered.update(range(s, e + 1))
    return covered


def _py_coverage(texts: dict[int, str], k: int):
    spans = _py_spans(texts, k)
    gram_docs: dict[str, set] = {}
    for d, sp in spans.items():
        for _, _, g in sp:
            gram_docs.setdefault(g, set()).add(d)
    out = {}
    for d, t in texts.items():
        ivals = [
            (s, e) for s, e, g in spans[d] if len(gram_docs[g]) >= 2
        ]
        out[d] = (len(t.split(" ")), len(_py_union(ivals)))
    return out


def _py_rewrite(texts: dict[int, str], k: int):
    spans = _py_spans(texts, k)
    gram_docs: dict[str, set] = {}
    occ: dict[str, list] = {}
    for d in sorted(texts):
        for s, e, g in spans[d]:
            gram_docs.setdefault(g, set()).add(d)
            occ.setdefault(g, []).append((d, s, e))
    removable: dict[int, list] = {d: [] for d in texts}
    for g, lst in occ.items():
        if len(gram_docs[g]) < 2:
            continue
        for d, s, e in sorted(lst)[1:]:  # canonical = min (doc, start)
            removable[d].append((s, e))
    out = {}
    for d, t in texts.items():
        tk = t.split(" ")
        cov = _py_union(removable[d])
        kept = [w for i, w in enumerate(tk, start=1) if i not in cov]
        out[d] = (len(tk), len(tk) - len(kept), " ".join(kept))
    return out


_word = st.sampled_from(["a", "b", "c", "d"])
_text = st.lists(_word, min_size=1, max_size=14).map(" ".join)
_corpus = st.lists(_text, min_size=2, max_size=5)


@settings(max_examples=12, deadline=None)
@given(_corpus)
def test_span_coverage_matches_bruteforce(spark, corpus):
    """Tiny random corpora over a 4-word alphabet (dense duplicate
    structure by construction) pin the Spark interval-union coverage
    against an independent O(n^2) Python reference."""
    from palegislature_spark.operators.contamination import (
        duplicate_span_coverage,
    )

    texts = {i + 1: t for i, t in enumerate(corpus)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens)
        for r in duplicate_span_coverage(df, k=3).collect()
    }
    assert got == _py_coverage(texts, 3)


@settings(max_examples=12, deadline=None)
@given(_corpus)
def test_span_rewrite_matches_bruteforce(spark, corpus):
    from palegislature_spark.operators.contamination import (
        strip_duplicate_spans,
    )

    texts = {i + 1: t for i, t in enumerate(corpus)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in strip_duplicate_spans(df, k=3).collect()
    }
    assert got == _py_rewrite(texts, 3)


def test_bm25_score_monotone_in_tf(spark, sf_dir):
    from palegislature_spark.queries.corpus import bm25_relevance

    out = bm25_relevance(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    # zero-tf docs score exactly 0; any matching term scores positive
    for r in rows:
        tf_sum = r.tf_spark + r.tf_hash + r.tf_window + r.tf_merge
        assert (r.score > 0) == (tf_sum > 0)


def test_mixture_weights_shares_sum_to_one(spark, sf_dir):
    from palegislature_spark.queries.corpus import domain_mixture_weights

    rows = domain_mixture_weights(spark, sf_dir).collect()
    assert abs(sum(r.raw_share for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-9
    # temperature flattens: every repeat factor is finite and positive,
    # small domains get boosted (factor > 1) and the largest damped
    big = max(rows, key=lambda r: r.n_tokens)
    small = min(rows, key=lambda r: r.n_tokens)
    assert small.repeat_factor > 1.0 > big.repeat_factor


def test_pad_batching_beats_arrival_order(spark, sf_dir):
    """Length-bucketed batches must waste fewer padded tokens than
    naive arrival-order batches of the same size over the same
    corpus (the whole point of the bucketing)."""
    from palegislature_spark.catalog import load
    from palegislature_spark.queries.corpus import batch_pad_efficient

    bucketed = batch_pad_efficient(spark, sf_dir).collect()
    total_padded = sum(r.n_docs * r.max_len for r in bucketed)
    total_real = sum(r.sum_len for r in bucketed)

    docs = load(spark, sf_dir, "documents")
    naive = (
        docs.select(
            (F.col("doc_id") / 32).cast("long").alias("batch_id"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("sum_len"),
        )
        .collect()
    )
    naive_padded = sum(r.n_docs * r.max_len for r in naive)
    naive_real = sum(r.sum_len for r in naive)
    assert total_real == naive_real  # same tokens either way
    assert total_padded < naive_padded


def test_bpe_encode_roundtrip_concat(spark):
    from palegislature_spark.operators.bpe import apply_bpe, bpe_merge_table

    df = _docs(spark, [(1, "low lower lowest low"), (2, "low slow")])
    merges = bpe_merge_table(df, n_merges=4)
    enc = {r.doc_id: r.tokens for r in apply_bpe(df, merges).collect()}
    # concatenating each doc's tokens reproduces its words in order
    assert "".join(enc[1]) == "lowlowerlowestlow"
    assert "".join(enc[2]) == "lowslow"
    # the top merge over this corpus is (l, o) then (lo, w): 'low'
    # appears as a single token after 4 merges
    assert "low" in enc[1]


def test_epoch_sample_copy_counts_track_repeat_factors(spark, sf_dir):
    """Every document appears floor(r) or ceil(r) times for its
    domain's repeat factor, and the realized per-domain copy total
    sits between the two bounds implied by r."""
    import math

    from palegislature_spark.queries.corpus import (
        domain_mixture_weights,
        corpus_epoch_sample,
    )

    rf = {
        r.source: r.repeat_factor
        for r in domain_mixture_weights(spark, sf_dir).collect()
    }
    plan = corpus_epoch_sample(spark, sf_dir).collect()
    per_doc: dict = {}
    for r in plan:
        per_doc.setdefault((r.source, r.doc_id), 0)
        per_doc[(r.source, r.doc_id)] += 1
    for (src, _doc), n in per_doc.items():
        lo, hi = math.floor(rf[src]), math.ceil(rf[src])
        assert lo <= n <= hi


def _py_decontam(train: dict[int, str], eval_texts: list[str], n: int):
    def grams(t):
        tk = t.split(" ")
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    eg = set()
    for t in eval_texts:
        eg |= grams(t)
    out = {}
    for d, t in train.items():
        g = grams(t)
        hit = len(g & eg)
        out[d] = (len(g), hit, hit / len(g) if g else 0.0, hit > 0)
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=10).map(
            " ".join
        ),
        min_size=1,
        max_size=4,
    ),
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=3, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=2,
    ),
)
def test_decontaminate_matches_bruteforce(spark, train_texts, eval_texts):
    """Random tiny corpora over a 3-word alphabet pin decontaminate
    against an independent Python set-intersection reference —
    including sub-n docs (zero grams, reported clean)."""
    texts = {i + 1: t for i, t in enumerate(train_texts)}
    train = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    eval_df = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(eval_texts)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.hit_share, r.contaminated)
        for r in decontaminate(train, eval_df, n=3).collect()
    }
    assert got == _py_decontam(texts, eval_texts, 3)


def test_eval_side_overlap_reversed_roles(spark):
    """benchmark_eval_overlap's composition: decontaminate() with the
    roles swapped scores the EVAL side — a fully-leaked eval doc gets
    hit_share 1.0, a clean doc reports 0 without dropping, a
    single-gram leak flags contaminated but not high_overlap, and the
    exactly-half case flags high_overlap (2*n_hit >= n_grams is
    inclusive)."""
    import pyspark.sql.functions as F

    from palegislature_spark.operators.contamination import decontaminate

    train = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    evals = spark.createDataFrame(
        [
            (10, "a b c d e f g h"),          # 4 grams, all in train
            (11, "a b c d e z y x w"),        # 5 grams, exactly 1 hit? no:
                                              # grams: abcde(hit) bcdez cdezy dezyx ezyxw -> 1/5
            (12, "q r s t u v w x"),          # clean
        ],
        "doc_id long, text string",
    )
    rep = decontaminate(evals, train, "doc_id", "text", n=5).withColumn(
        "high_overlap",
        (F.col("n_grams") > 0) & (F.col("n_hit") * 2 >= F.col("n_grams")),
    )
    out = {r.doc_id: r for r in rep.collect()}
    assert out[10].hit_share == 1.0 and bool(out[10].high_overlap)
    assert out[11].n_grams == 5 and out[11].n_hit == 1
    assert not out[11].high_overlap and bool(out[11].contaminated)
    assert out[12].n_hit == 0 and not out[12].contaminated
    assert not out[12].high_overlap

    # inclusive boundary: 2 of 4 grams dirty == exactly half -> flags
    half = spark.createDataFrame(
        [(13, "a b c d e f y z")],  # grams: abcde(hit) bcdef(hit) cdefy defyz
        "doc_id long, text string",
    )
    r13 = (
        decontaminate(half, train, "doc_id", "text", n=5)
        .withColumn(
            "high_overlap",
            (F.col("n_grams") > 0) & (F.col("n_hit") * 2 >= F.col("n_grams")),
        )
        .collect()[0]
    )
    assert r13.n_grams == 4 and r13.n_hit == 2
    assert bool(r13.high_overlap)  # 2*2 >= 4: the >= rule is inclusive
