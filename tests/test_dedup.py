"""Dedup operator tests: exact, shingles, Jaccard, MinHash-LSH, SimHash.

Expected values are hand-computed on tiny corpora so every algorithm
is pinned independently of the DuckDB oracle harness.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from palegislature_spark.operators import dedup
from tests.conftest import rows
from tests.reference_impls import simhash_signatures_expr, winnow_fingerprints_expr

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "completely different text about spark engines here"),
    (5, "one two"),  # shorter than 3 tokens -> no shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(docs):
    got = rows(dedup.exact_dedup(docs, "doc_id", "text"), "keep_id", "group_size")
    # 1&3 identical -> keep min id 1 with group size 2.
    assert got == [(1, 2), (2, 1), (4, 1), (5, 1)]


def test_shingles_distinct_and_min_length(docs):
    sh = dedup.shingles(docs, "doc_id", "text", n=3)
    per_doc = {r["doc_id"]: r["cnt"] for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "cnt").collect()}
    # 9 tokens -> 7 trigrams, all distinct here; doc 5 too short.
    assert per_doc == {1: 7, 2: 7, 3: 7, 4: 5}
    # duplicated shingle within a doc collapses
    assert dedup.shingles(
        sh.sparkSession.createDataFrame([(9, "a b a b a b")], ["doc_id", "text"]),
        "doc_id",
        "text",
    ).count() == 2  # "a b a" and "b a b"


def test_jaccard_exact(docs):
    got = rows(
        dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5),
        "id_1",
        "id_2",
    )
    # docs 1,2 share 6 of 8 distinct trigrams (j=0.75); 1&3 identical (j=1).
    assert got == [(1, 2), (1, 3), (2, 3)]
    j = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0).collect()
    }
    assert j[(1, 3)] == 1.0
    assert abs(j[(1, 2)] - 0.75) < 1e-12


def test_minhash_lsh_matches_exact_jaccard(docs):
    exact = rows(
        dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7),
        "id_1",
        "id_2",
        "jaccard",
    )
    lsh = rows(
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.7),
        "id_1",
        "id_2",
        "jaccard",
    )
    # Verification step recomputes exact Jaccard, so values agree exactly
    # whenever LSH recalls the pair; at j>=0.75 with 16x2 banding the
    # miss probability is ~1e-8.
    assert lsh == exact


def test_simhash_identical_and_near(docs):
    sig = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs, "doc_id", "text").collect()
    }
    assert sig[1] == sig[3]
    assert 0 <= sig[1] < (1 << 60)
    pairs = rows(
        dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=20),
        "id_1",
        "id_2",
    )
    assert (1, 3) in pairs  # hamming 0
    ham = {
        (r["id_1"], r["id_2"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=59).collect()
    }
    assert ham[(1, 3)] == 0
    # near-dup pair is closer than the unrelated pair
    assert ham[(1, 2)] < ham.get((1, 4), 60)


def test_simhash_pigeonhole_guarantee(spark):
    # All pairs within max_hamming MUST be found (banding is only a
    # candidate filter; pigeonhole guarantees no false negatives).
    df = spark.createDataFrame(
        [(i, f"shared common prefix tokens everywhere plus unique{i}") for i in range(8)],
        ["doc_id", "text"],
    )
    for mh in (3, 6, 10):
        banded = rows(dedup.simhash_pairs(df, "doc_id", "text", max_hamming=mh), "id_1", "id_2")
        brute = rows(
            dedup.simhash_pairs(df, "doc_id", "text", max_hamming=mh, chunks=60),
            "id_1",
            "id_2",
        )
        assert banded == brute


def test_simhash_band_size_invariant(docs):
    # band_chunks only shapes candidate generation; the verified pair
    # set must be identical for 1-chunk and 2-chunk bands (the scale
    # path past ~20k docs — VERDICT r5 second-decade hardening)
    for mh in (6, 12):
        j1 = sorted(
            map(tuple, dedup.simhash_pairs(
                docs, "doc_id", "text", max_hamming=mh, band_chunks=1
            ).collect())
        )
        j2 = sorted(
            map(tuple, dedup.simhash_pairs(
                docs, "doc_id", "text", max_hamming=mh, band_chunks=2
            ).collect())
        )
        assert j1 == j2


def test_winnow_fingerprints_shared_substring(spark):
    # documents sharing a substring of length >= k + w - 1 = 8 must
    # share at least one fingerprint (the winnowing guarantee)
    df = spark.createDataFrame(
        [
            (1, "xxCOMMON-SUBSTRINGyy"),
            (2, "aaCOMMON-SUBSTRINGbb"),
            (3, "completely unrelated content"),
            (4, "tiny"),  # shorter than k -> no fingerprints
        ],
        ["doc_id", "text"],
    )
    fp = dedup.winnow_fingerprints(df, "doc_id", "text", k=5, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2]  # shared fingerprint
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc


def test_winnow_impls_agree(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "völlig unrelated ünïcode text here to pin codepoint parity"),
            (4, "shrt"),  # below k: no fingerprints from either path
        ],
        "doc_id long, text string",
    )
    a = set(map(tuple, winnow_fingerprints_expr(docs, "doc_id", "text").collect()))
    b = set(map(tuple, dedup.winnow_fingerprints(docs, "doc_id", "text").collect()))
    assert a == b and len(a) > 0
    assert not any(i == 4 for i, _ in a)


def test_winnow_arrow_null_text_dropped(spark):
    # NULL text must be DROPPED (the expression twin's length-filter
    # semantics), not crash the Arrow loop (ADVICE r4)
    docs = spark.createDataFrame(
        [(1, "a normal document body here"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    a = set(map(tuple, winnow_fingerprints_expr(docs, "doc_id", "text").collect()))
    b = set(map(tuple, dedup.winnow_fingerprints(docs, "doc_id", "text").collect()))
    assert a == b
    assert {i for i, _ in b} == {1}


# mixed scripts + surrogate-adjacent codepoints + astral plane; real
# surrogates are unencodable in any UTF and cannot appear in data read
# from Parquet, so they are out of domain
_WINNOW_ALPHABET = (
    "ab e\t\n.-ü√Ω世界ж"  # latin/space/punct/greek/CJK/cyrillic
    "퟿"          # the codepoints bracketing the surrogate gap
    "\U0001f600\U0010ffff"  # astral plane incl. the max codepoint
)


@given(
    texts=st.lists(
        st.text(alphabet=_WINNOW_ALPHABET, min_size=0, max_size=5 + 4 + 4),
        min_size=1,
        max_size=16,
    )
)
@settings(max_examples=12, deadline=None, derandomize=True)
def test_winnow_impls_bit_identical_property(spark, texts):
    """Hypothesis corpus over the adversarial alphabet, lengths
    0..k+w+4 straddling both drop thresholds: the Arrow kernel must
    produce BIT-IDENTICAL fingerprints to the expression twin
    (tests/reference_impls.py) on every document."""
    k, w = 5, 4
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = sorted(map(tuple, winnow_fingerprints_expr(df, "doc_id", "text", k=k, w=w).collect()))
    b = sorted(map(tuple, dedup.winnow_fingerprints(df, "doc_id", "text", k=k, w=w).collect()))
    assert a == b
    # drop semantics: every doc shorter than k contributes nothing
    short = {i for i, t in docs if len(t) < k}
    assert not ({i for i, _ in b} & short)


def test_containment_catches_embedded_quote(spark):
    """A short doc fully quoted inside a longer one has containment
    1.0 even though Jaccard is far below the near-dup threshold."""
    from palegislature_spark.queries.text import containment_shingle_subset  # noqa: F401
    from palegislature_spark.operators import dedup as D
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "intro words here alpha beta gamma delta and a very "
                "long tail of unrelated content follows this quote now"),
            (3, "nothing shared with either document at all here"),
        ],
        ["doc_id", "text"],
    )
    sh = D.shingles(docs, "doc_id", "text", 3)
    cnt = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    # doc 1's 2 shingles all appear in doc 2
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") == 1)
        .filter(F.col("b.doc_id") == 2)
        .count()
    )
    assert common == cnt[1]  # containment 1.0


def test_simhash_pairs_rejects_unsupported_band_chunks(docs):
    # j >= 3 is supported since r8; invalid rungs are 0 and any j that
    # would leave a chunk with zero bits (j + k > 60)
    with pytest.raises(ValueError, match="band_chunks must be >= 1"):
        dedup.simhash_pairs(docs, "doc_id", "text", band_chunks=0)
    with pytest.raises(ValueError, match="band_chunks must be >= 1"):
        dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=6, band_chunks=55
        )


def test_simhash_j3_equals_exact_hamming(spark):
    """band_chunks=3 (the >1M-doc auto rung) must produce the IDENTICAL
    pair set as the exact Hamming check on a planted corpus (VERDICT r7
    #4). The corpus plants near-dup clusters (small token edits off
    shared bases -> pairs spread across hamming 0..~20), so the k=6
    cut runs through populated distance levels."""
    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    alt = "a completely different set of tokens about spark catalyst tungsten shuffle plans"
    rows_in = []
    did = 0
    for b in (base, alt):
        toks = b.split()
        for edit in range(6):
            t = list(toks)
            for e in range(edit):
                t[2 * e] = f"edit{edit}_{e}"
            rows_in.append((did, " ".join(t)))
            did += 1
    df = spark.createDataFrame(rows_in, ["doc_id", "text"])
    # exact: verify every pair by popcount (chunks=60 => every band is
    # a single bit-chunk... instead replay signatures directly)
    sig = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(df, "doc_id", "text").collect()
    }
    ids = sorted(sig)
    exact = sorted(
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sig[a] ^ sig[b]).count("1") <= 6
    )
    assert exact, "planted corpus produced no qualifying pairs"
    got3 = sorted(
        map(tuple, dedup.simhash_pairs(
            df, "doc_id", "text", max_hamming=6, band_chunks=3
        ).select("id_1", "id_2", "hamming").collect())
    )
    assert got3 == exact
    # and the j-ladder is output-invariant end to end
    for j in (1, 2, 4):
        gj = sorted(
            map(tuple, dedup.simhash_pairs(
                df, "doc_id", "text", max_hamming=6, band_chunks=j
            ).select("id_1", "id_2", "hamming").collect())
        )
        assert gj == exact, f"band_chunks={j} diverged from exact"


def test_soft_dedup_weights_unit_mass_per_cluster(spark, tmp_path):
    """Planted: 3 near-identical docs + 2 singletons. The dup trio
    forms one cluster with weight 1/3 each; singletons weigh 1; every
    cluster's total mass is exactly 1."""
    base = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, base, "en", "s", 1),
        (2, base + " tail", "en", "s", 1),
        (3, "prefix " + base, "en", "s", 1),
        (10, " ".join(f"x{i}" for i in range(30)), "en", "s", 1),
        (11, " ".join(f"y{i}" for i in range(30)), "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    from palegislature_spark.queries.text import cluster_soft_dedup

    out = {r.doc_id: r for r in cluster_soft_dedup(spark, str(tmp_path)).collect()}
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].cluster_size == 3 and out[1].weight == 1.0 / 3
    assert out[10].cluster_size == 1 and out[10].weight == 1.0
    from collections import defaultdict

    mass = defaultdict(float)
    for r in out.values():
        mass[r.cluster_id] += r.weight
    assert all(abs(m - 1.0) < 1e-9 for m in mass.values())


def test_hot_bucket_audit_reports_planted_degenerate_key(spark):
    """VERDICT r11 #2: a constant signature region shared corpus-wide
    (the audio pad-suffix collision-floor shape) must surface in
    hot_bucket_audit as ONE bucket holding the flood — with the pair
    count the banded self-join would expand it to — while normal
    buckets stay below threshold."""
    # 60 ids whose low 9 bits (chunk 0 of the [9,9,9,9,8,8,8] plan)
    # are all zero; every OTHER chunk carries a per-id distinct value
    # so no other bucket heats
    def enc(i):
        return (i << 1) | (bin(i).count("1") & 1)

    def spread(v):
        return (v << 9) | (v << 18) | (v << 27) | (v << 36) | (v << 44) | (v << 52)

    sig_rows = [(i, spread(enc(i + 1))) for i in range(60)]
    sig = spark.createDataFrame(sig_rows, "id long, h long")
    keys = dedup.hamming_band_keys(sig, "id", "h", max_hamming=6, band_chunks=1)
    hot = dedup.hot_bucket_audit(keys, ["band", "v1"], "id", threshold=50)
    got = [(r.band, r.v1, r.n_ids, r.n_pairs) for r in hot.collect()]
    assert got == [(0, 0, 60, 60 * 59 // 2)]


def test_hamming_pairs_max_bucket_drops_flood_keeps_true_pairs(spark):
    """The enforcement half: max_bucket anti-joins the degenerate
    bucket away before the self-join.  A planted near-dup pair that
    agrees on a NON-hot chunk survives; a pair whose ONLY agreeing
    chunk is the hot one is lost (the documented recall trade); and
    the guarded output is a subset of the unguarded one."""
    # flood: 60 ids sharing chunk0 == 0, mutually far apart in every
    # other chunk (parity coding => pairwise per-chunk distance >= 2,
    # so flood members are never true pairs: hamming >= 12 > 6)
    def enc(i):
        return (i << 1) | (bin(i).count("1") & 1)

    def spread(v):
        return (v << 9) | (v << 18) | (v << 27) | (v << 36) | (v << 44) | (v << 52)

    flood = [(i, spread(enc(i + 1))) for i in range(60)]
    # true pair agreeing on chunk 0 (= 5, a COLD bucket of 2): differs
    # in exactly one bit (bit 40), hamming 1
    h100 = 5 | (3 << 9) | (7 << 18) | (11 << 27) | (13 << 36) | (17 << 44) | (19 << 52)
    pair_cold = [(100, h100), (101, h100 ^ (1 << 40))]
    # pair agreeing ONLY on the hot chunk 0 (= 0): one bit flipped in
    # each of the six other chunks -> hamming 6, every other chunk
    # value differs
    h200 = (3 << 9) | (7 << 18) | (11 << 27) | (13 << 36) | (17 << 44) | (19 << 52)
    h201 = h200 ^ (1 << 9) ^ (1 << 18) ^ (1 << 27) ^ (1 << 36) ^ (1 << 44) ^ (1 << 52)
    sig = spark.createDataFrame(
        flood + pair_cold + [(200, h200), (201, h201)], "id long, h long"
    )

    def pairs(max_bucket):
        return {
            (r.id_1, r.id_2)
            for r in dedup.hamming_pairs(
                sig, "id", "h", max_hamming=6, band_chunks=1,
                max_bucket=max_bucket,
            ).collect()
        }

    unguarded = pairs(None)
    assert (100, 101) in unguarded and (200, 201) in unguarded
    guarded = pairs(50)
    assert (100, 101) in guarded          # cold-bucket pair survives
    assert (200, 201) not in guarded      # hot-only pair is the trade
    assert guarded <= unguarded
    # (200, 201) is the ONLY pair the guard can lose here: the flood
    # members are mutually far apart, so they were never true pairs
    assert unguarded - guarded == {(200, 201)}


def test_minhash_max_bucket_drops_identical_flood(spark):
    """An identical-document flood makes every one of its MinHash
    band buckets quadratic.  max_bucket drops those buckets (losing
    the flood's own C(n,2) pairs — exactly the pairs exact_dedup
    already handles at O(n)) while a distinct near-dup pair in a cold
    bucket is still found and exactly verified."""
    flood = [(i, "the same boilerplate body repeated verbatim "
                 "across the whole flood of documents") for i in range(30)]
    near = [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(flood + near, "doc_id long, text string")

    def pairs(max_bucket):
        return {
            (r.id_1, r.id_2)
            for r in dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=0.5, max_bucket=max_bucket
            ).collect()
        }

    unguarded = pairs(None)
    assert (100, 101) in unguarded
    assert len(unguarded) == 30 * 29 // 2 + 1
    guarded = pairs(20)
    assert guarded == {(100, 101)}


def test_simhash_arrow_equals_expr(spark):
    """The shuffle-free mapInPandas SimHash must be bit-equal to the
    expression twin (tests/reference_impls.py): the computation is pure
    integer (md5 nibbles, shifts, occurrence counts), so there is no
    rounding to diverge — including empty-string tokens from repeated
    spaces, unicode, and NULL text (dropped on both paths)."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, ""),
        (3, None),
        (4, "a  b   c"),
        (5, "café élève \U0001f600 café"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(df, "doc_id", "text").collect()
    }
    expr = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures_expr(df, "doc_id", "text").collect()
    }
    assert arrow == expr
    assert 3 not in arrow  # NULL text drops on both paths



def test_verify_pairs_by_array_drops_zero_overlap_at_nonpositive_threshold(spark):
    """A candidate pair with disjoint shingle arrays has jaccard 0 and
    must not emit even at threshold 0: the array verifier matches the
    inverted index, which never pairs documents sharing no shingle."""
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_1 long, id_2 long")
    sharr = spark.createDataFrame(
        [(1, [10, 11, 12]), (2, [20, 21]), (3, [12, 30])],
        "doc_id long, sha array<long>",
    )
    got = rows(dedup._verify_pairs_by_array(cand, sharr, "doc_id", 0.0))
    assert got == [(1, 3, 1 / 4)]
