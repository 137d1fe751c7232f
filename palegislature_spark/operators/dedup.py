"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

The reference's dedup is blocked pairwise name matching over members
(``find_duplicates.py:49-66``); these operators generalize that
blocking idea to document-scale near-duplicate detection, the way a
training-data pipeline needs it:

    exact_dedup        — hash-groupBy (one shuffle on a 128-bit key)
    shingles           — word n-gram shingling, all JVM-side
    jaccard_pairs      — exact all-pairs Jaccard via an inverted
                         shingle index (the correctness oracle)
    minhash_lsh_pairs  — MinHash signatures + banded LSH candidates +
                         exact verification (the 100 TB path: candidate
                         generation is linear in corpus size, the
                         quadratic step touches only same-bucket pairs)
    simhash_*          — 60-bit SimHash + banded Hamming search

Shape discipline: signatures (MinHash mins, SimHash bit votes) are
computed per-row over the token/shingle ARRAY with array expressions
— zero shuffles until the candidate join. The only exchanges left
are the ones the algorithms require (bucket join, inverted-index
join). MinHash and the joins are built-in expressions (md5 / xxhash64 /
conv / bit ops are whole-stage-codegen); winnowing and SimHash
signatures are Arrow kernels, each pinned bit-equal to an expression
twin in tests/reference_impls.py.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from palegislature_spark.operators.kernels import TaskMemo, map_batches
from palegislature_spark.sources.commit import (
    MINHASH_DELTAS,
    commit_generation,
    current_generation,
    generation_dir,
    hadoop_fs,
    names,
    stamp_folded,
)


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts; keep the minimum id as canonical.

    Returns (keep_id, group_size, text_md5). One shuffle on the md5
    key — the md5 is computed map-side so the wide text column never
    shuffles.
    """
    return (
        df.select(F.col(id_col).alias("__id"), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("__id").alias("keep_id"), F.count(F.lit(1)).alias("group_size"))
        .select("keep_id", "group_size", "text_md5")
    )


# --------------------------------------------------------------------------
# Shingling
# --------------------------------------------------------------------------


def shingle_set_expr(toks, n: int = 3):
    """Column expression: DISTINCT word n-gram shingles of a token
    array — row-local, reusable wherever two texts' gram sets must be
    computed side by side in ONE row (delta_severity compares
    generations without a shingle-grain shuffle).

    Sliding window via zipped slices: k bulk slice ops + one struct
    concat per shingle — measurably faster than per-element
    element_at chains, and safe for short docs (slice clamps). The
    gram expression is gated on size >= n inside the row (not just by
    any outer filter): sequence(1, size-n+1) DESCENDS ([1,0]) when
    size < n, and codegen subexpression elimination can evaluate the
    projection alongside a filter predicate in the same stage, so an
    unguarded element_at would throw on short documents.
    """
    win = F.arrays_zip(
        *[F.slice(toks, j + 1, F.size(toks) - (n - 1)) for j in range(n)]
    )
    gram = F.when(
        F.size(toks) >= n,
        F.transform(win, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(gram)


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-document array of DISTINCT word n-gram shingles: (id, sh).

    Small parquet inputs arrive as one partition; fan out first so
    every core shares the per-row shingling work. The within-document
    distinct is array_distinct — no shuffle.
    """
    toks = (
        df.repartition(F.col(id_col))
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
        .filter(F.size("__toks") >= n)
    )
    return toks.select(
        id_col, shingle_set_expr(F.col("__toks"), n).alias("sh")
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows."""
    return shingle_arrays(df, id_col, text_col, n).select(
        id_col, F.explode("sh").alias("shingle")
    )


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Shingles hashed to 64-bit ints at creation: (id, sh_hash).

    Every downstream stage (MinHash family, inverted-index join,
    Jaccard counts) works on fixed-width longs instead of shingle
    strings — the string is hashed exactly once, shuffles carry 8
    bytes per shingle, and equality joins compare ints. Collisions
    (~2^-64 per shingle pair) are quantitatively irrelevant to
    near-dup detection at any realistic corpus size.
    """
    return shingle_arrays(df, id_col, text_col, n).select(
        id_col, F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("sh_hash")
    )


def _pair_jaccard(sh: DataFrame, id_col: str, key: str = "sh_hash") -> DataFrame:
    """All same-shingle pairs -> (id_1, id_2, jaccard) via inverted index."""
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    s1 = sh.select(F.col(id_col).alias("id_1"), key)
    s2 = sh.select(F.col(id_col).alias("id_2"), key)
    common = (
        s1.join(s2, key)
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    c1 = counts.select(F.col(id_col).alias("id_1"), F.col("__n").alias("__n1"))
    c2 = counts.select(F.col(id_col).alias("id_2"), F.col("__n").alias("__n2"))
    return (
        common.join(c1, "id_1")
        .join(c2, "id_2")
        .select(
            "id_1",
            "id_2",
            (
                F.col("__common")
                / (F.col("__n1") + F.col("__n2") - F.col("__common"))
            ).alias("jaccard"),
        )
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (id_1 < id_2).

    Scale note: the shingle inverted index is exact but its join fans
    out on hot shingles; at corpus scale prefer minhash_lsh_pairs and
    keep this as the verification oracle on candidate pairs.
    """
    sh = hashed_shingles(df, id_col, text_col, n)
    return _pair_jaccard(sh, id_col).filter(F.col("jaccard") >= threshold)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    base: int = 257,
) -> DataFrame:
    """Winnowing document fingerprints (Karp-Rabin rolling-hash selection).

    Hash every character k-gram with an integer Karp-Rabin polynomial
    (``sum code(c_t) * base^(k-1-t)`` — pure 64-bit arithmetic, exact
    and collision-free for ASCII text with base > 255, and reproducible
    verbatim in DuckDB SQL), then keep the minimum of each sliding
    window of ``w`` consecutive gram hashes; the distinct minima are
    the document's fingerprints. Two documents sharing a substring of
    length >= k + w - 1 are guaranteed to share a fingerprint — the
    winnowing property that makes this the standard local-similarity
    sketch. Output: (id, fingerprint: long) rows, one linear pass
    until the caller aggregates.

    Winnowing's inner loop is inherently per-position sequential work,
    which interpreted Catalyst higher-order functions execute one
    lambda call at a time; this runs it vectorized over Arrow batches
    — three numpy passes (codepoints via utf-32 decode, gram hashes via
    a sliding-window matmul, window minima via a strided view) —
    measured ~5x faster at sf0.1 (0.6s vs 3.0s warm) than the
    expression form.  That expression twin (the shape the DuckDB
    oracle replays) is ``winnow_fingerprints_expr`` in
    tests/reference_impls.py; tests/test_dedup.py pins the two
    fingerprint sets bit-identical.
    Overflow: max code 0x10FFFF * base^(k-1) * k must stay < 2^63 —
    holds for the defaults (k=5, base=257) by ~380x.
    """
    if base ** (k - 1) * 0x110000 * k >= 2**63:
        raise ValueError(f"k={k}, base={base} would overflow 64-bit gram hashes")
    import numpy as np

    from pyspark.sql import types as T

    pow_row = np.array([base ** (k - 1 - t) for t in range(k)], dtype=np.int64)
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("fingerprint", T.LongType()),
        ]
    )

    def batch(pdf):
        from numpy.lib.stride_tricks import sliding_window_view

        ids, fps = [], []
        for did, text in zip(pdf[id_col], pdf[text_col]):
            # NULL/short text: drop the row, matching the expression
            # twin's length(text) >= k filter
            if not isinstance(text, str) or len(text) < k:
                continue
            # utf-32-le decode = exact codepoints, matching F.ascii
            codes = np.frombuffer(
                text.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            grams = sliding_window_view(codes, k) @ pow_row
            if grams.size < w:
                continue
            u = np.unique(sliding_window_view(grams, w).min(axis=1))
            ids.extend([did] * len(u))
            fps.extend(u.tolist())
        return {id_col: ids, "fingerprint": fps}

    # no fan-out here (unlike the heavier simhash/BPE kernels): the
    # winnow kernel is ~0.5s single-worker at sf0.1, so the fan-out
    # repartition costs more than it parallelizes (measured 0.75s vs
    # 0.85s), and at replica scale the scan is already parallel
    return map_batches(df, (id_col, text_col), out_schema, batch)


# --------------------------------------------------------------------------
# MinHash + banded LSH
# --------------------------------------------------------------------------


def minhash_signatures(sh: DataFrame, id_col: str, num_hashes: int = 32) -> DataFrame:
    """Per-id MinHash signature: (id, h0..h{k-1}) — one wide row.

    Input is hashed_shingles() rows. Hash family: xxhash64(sh_hash,
    i) — re-hashing the 8-byte base hash per family member instead of
    re-hashing the shingle string k times (a multiply-add family
    would be cheaper still, but long-overflow errors under ANSI mode,
    which the driver's default session enables). Computed as
    `num_hashes` parallel min() aggregates in one groupBy — all
    codegen'd, map-side combine shrinks the shuffle to one wide row
    per id. (An array_min-over-transform variant avoids the shuffle
    but higher-order lambdas are interpreted per element — measurably
    slower.)
    """
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("sh_hash", F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def _verify_pairs_by_array(
    cand: DataFrame, sharr: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_1, id_2) pairs by
    joining each side's distinct shingle-hash ARRAY and intersecting
    row-locally: common = |A ∩ B|, jaccard = common / (|A| + |B| -
    common) — the same integer counts (hence bit-identical division)
    as the inverted-index ``_pair_jaccard`` path, at O(candidates)
    join work instead of a chain of candidate-bounded shuffles.
    Pairs with no shared shingle never emit, at any threshold (even
    <= 0), like the inverted index (which never emits them)."""
    j = (
        cand.join(
            sharr.select(F.col(id_col).alias("id_1"), F.col("sha").alias("__a1")),
            "id_1",
        )
        .join(
            sharr.select(F.col(id_col).alias("id_2"), F.col("sha").alias("__a2")),
            "id_2",
        )
        .select(
            "id_1",
            "id_2",
            F.size(F.array_intersect("__a1", "__a2")).alias("__common"),
            F.size("__a1").alias("__n1"),
            F.size("__a2").alias("__n2"),
        )
    )
    return j.filter(F.col("__common") > 0).select(
        "id_1",
        "id_2",
        (
            F.col("__common")
            / (F.col("__n1") + F.col("__n2") - F.col("__common"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def minhash_band_keys(
    sharr: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """(id, band, band_key) from a per-doc hashed-shingle ARRAY frame
    — the banded LSH key construction of :func:`minhash_lsh_pairs`:
    :func:`minhash_signatures` (codegen'd, map-side-combined min
    aggregates) plus one xxhash64 per band.  It stays an expression
    because a bit-equal numpy XXH64 kernel measured no faster at sf0.1
    (1.12 vs 1.14s) and slower at the 100x replica (4.3s vs 6-12s):
    the Arrow round-trip of the shingle arrays costs more than the
    per-element hash work it saves.
    """
    rows = num_hashes // bands
    sh = sharr.select(id_col, F.explode("sha").alias("sh_hash"))
    sig = minhash_signatures(sh, id_col, num_hashes)
    band_arr = F.array(
        *[
            F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Banding: `bands` bands of `num_hashes/bands` consecutive hashes;
    two documents are candidates iff some band agrees. With the
    defaults (16 bands of 2) a pair at jaccard 0.8 is missed with
    probability (1 - 0.8^2)^16 ≈ 5e-8. Candidates are then verified
    with the exact Jaccard so the output matches jaccard_pairs.

    Scale: signature computation is a linear projection (no shuffle);
    the candidate join shuffles on (band, band_key) — skewed buckets
    split by AQE; the quadratic verify runs only on same-bucket
    survivors, pruned by a semi-join on candidate ids.

    Reuse discipline (ADVICE r1 — the previous persist()s leaked
    cached blocks across calls): the candidate PAIR set — the only
    subtree with multiple consumers (id prune + final pair semi-join)
    — is localCheckpointed once; it is output-sized (pairs, not
    shingles), so materializing it is cheap while recomputing it
    costs a full signature+band pass per consumer (measured r4:
    2.5s vs 3.5s warm at sf0.1; the r2 persist()-everything variant
    was slower than both because it cached the 3M-row shingle set).
    The candidate-id prune carries no broadcast hint — AQE picks
    broadcast vs shuffle semi-join at runtime from the OBSERVED
    candidate-set size, which is exactly the high-dup-rate guard a
    static hint can't give.

    ``max_bucket`` (opt-in) anti-joins away (band, band_key) buckets
    past that many members before the candidate self-join — the
    hot-bucket guard (VERDICT r11 #2): an identical-prefix flood or a
    boilerplate band shared corpus-wide makes one bucket quadratic,
    and the exact verify then pays O(bucket²) shingle joins.  The
    recall trade is documented at :func:`hot_bucket_audit`; default
    None keeps the operator exactly equal to the jaccard oracle.
    """
    # One corpus shingle pass, checkpointed as ARRAYS: the band-key
    # kernel reads it and the verify leg joins it per candidate id —
    # the split+slice+distinct work runs exactly once per action
    # however many consumers read it.
    sharr = (
        shingle_arrays(df, id_col, text_col, n)
        .select(
            id_col, F.transform("sh", lambda s: F.xxhash64(s)).alias("sha")
        )
        .localCheckpoint(eager=False)
    )
    # expression band keys: the measured winner at both scales
    band_key = minhash_band_keys(sharr, id_col, num_hashes, bands)
    # b1/b2 below are DIFFERENT projections of this frame, so exchange
    # reuse never fires and the shingle+signature pipeline would run
    # twice inside the candidate join alone (guide §2.4: two consumers,
    # one computation).  The frame is narrow — `bands` rows of three
    # longs per id — so one lazy checkpoint halves the expensive pass
    # (measured 2.6s -> 1.9s on dedup_minhash_lsh at sf0.1).
    band_key = band_key.localCheckpoint(eager=False)
    if max_bucket is not None:
        band_key = _drop_hot_buckets(
            band_key, ["band", "band_key"], max_bucket
        )
    b1 = band_key.select(F.col(id_col).alias("id_1"), "band", "band_key")
    b2 = band_key.select(F.col(id_col).alias("id_2"), "band", "band_key")
    cand = (
        b1.join(b2, ["band", "band_key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
        # single consumer now (the array verify below) — no checkpoint
    )
    # Exact verification directly on the candidate PAIRS: attach each
    # side's checkpointed shingle-hash array and count the overlap
    # with array_intersect — |A ∩ B| / (|A| + |B| - |A ∩ B|) over the
    # per-document DISTINCT shingle sets, the identical integer counts
    # (and so the identical division) the former inverted-index join
    # produced, without its cand_ids distinct + doc semi-join +
    # re-shingle + gram self-join + two count-attach joins (each a
    # scheduling round over candidate-bounded rows; the whole verify
    # leg measured ~1.1s of the 2.2s pipeline at sf0.1). Candidates
    # are output-bounded, so the pair join is two broadcast-sized
    # attaches against the single shingle pass.
    return _verify_pairs_by_array(cand, sharr, id_col, threshold)


# --------------------------------------------------------------------------
# SimHash (60-bit, md5-nibble hash family)
# --------------------------------------------------------------------------

_SIMHASH_BITS = 60


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document from token md5s: (id, simhash).

    Token weight = occurrence count (the full token array is folded,
    duplicates included); bit b of the signature is the sign of the
    weighted vote over bit b of each token's md5 (first 15 hex
    nibbles => 60 bits, fits a BIGINT). md5 is used (not xxhash64) so
    external engines can reproduce the signature exactly.

    One shuffle-free Arrow-kernel pass — bounded per-task token->md5
    memo (``kernels.TaskMemo``; Zipf: tokens repeat corpus-wide, guide
    §4.5), numpy bit extraction and vote sums — emitting one (id,
    simhash) row per document with zero exchanges, so the signature
    stage is a pure map over the corpus scan.  NULL-text rows drop.  The expression twin
    the DuckDB oracle structurally mirrors (token explode + 60
    integer-shift partial sums in one groupBy) is
    ``simhash_signatures_expr`` in tests/reference_impls.py; the two
    are BIT-IDENTICAL by construction — the whole computation is
    integer (md5 nibbles, shifts, counts), so there is no rounding to
    re-order — and tests/test_dedup.py pins it.
    """
    import numpy as np

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("simhash", T.LongType())]
    )
    shifts = np.array(
        [4 * (14 - i // 4) + (i % 4) for i in range(_SIMHASH_BITS)],
        dtype=np.uint64,
    )
    bit_vals = np.uint64(1) << np.arange(_SIMHASH_BITS, dtype=np.uint64)

    def md5_60(w: str) -> int:
        import hashlib

        return int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)

    def batch(pdf, memo):
        ids, sigs = [], []
        for did, text in zip(pdf[id_col], pdf[text_col]):
            if not isinstance(text, str):
                continue
            toks = text.split(" ")
            vals = np.empty(len(toks), dtype=np.uint64)
            for j, w in enumerate(toks):
                vals[j] = memo.get(w, md5_60)
            bits = (vals[:, None] >> shifts) & np.uint64(1)
            votes = 2 * bits.astype(np.int64).sum(axis=0) - len(toks)
            sigs.append(int(bit_vals[votes > 0].sum()))
            ids.append(did)
        return {id_col: ids, "simhash": sigs}

    return map_batches(
        df, (id_col, text_col), out_schema, batch, setup=TaskMemo,
        fan_out_by=id_col,
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    chunks: int = 4,
    band_chunks: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= max_hamming.

    Banded search, generalized pigeonhole (Manku et al., WWW'07): the
    60-bit signature splits into ``m`` chunks; a pair within Hamming
    distance ``k`` disturbs at most ``k`` chunks, leaving ``m - k``
    intact — so with band size ``j <= m - k`` every qualifying pair
    agrees on ALL ``j`` chunks of at least one of the C(m, j) index
    combinations. Candidates join on (band, chunk values) and the
    exact popcount verifies, so the OUTPUT is band-invariant; banding
    only controls candidate density:

    * ``band_chunks=1`` (classic one-chunk bands, m = k+1): few wide
      bands, but each key is only ~60/(k+1) bits — bucket collision
      density grows quadratically with the corpus (the 39x second-
      decade growth VERDICT r5 flagged).
    * ``band_chunks=2`` (m = k+2): C(m, 2) bands keyed on ~2x the
      bits — candidate pairs shrink by ~2^width/(m-1) (~30x at k=6)
      for a (m-1)/2-fold explode increase. The sub-quadratic lever.
    * ``band_chunks=j >= 3`` (m = k+j): the same pigeonhole scheme at
      any rung — a pair within Hamming ``k`` leaves ``m - k >= j``
      chunks intact, so SOME j-subset of chunks matches exactly and
      the C(m, j) band keys (~j*60/m bits each) catch it. Each rung
      up multiplies the explode by ~(m-1)/j but divides bucket
      collision density by another ~2^(60/m) — the knob a 10^9-doc
      corpus turns when C(m, 2) candidate density rises again
      (Manku et al. §3: the index-combination count is a tunable).
    * ``band_chunks=None``: auto — 1 below ~20k docs (explode cost
      dominates), 2 to ~1M docs, 3 above (collision density per
      j=2 key ~ n^2 * C(k+2,2) / 2^(2*60/(k+2)) passes ~10^9
      candidates near a million docs at k=6 — thresholds derived in
      BASELINE.md "SimHash banding rungs"); one count() action to
      size it, same policy as ivf_assignments(n_lists=None) — pass
      ``n_docs`` to skip the count when the cardinality is already
      known (semantic_dedup's n_vectors precedent).  ``n_docs`` may
      be an upper bound on the signature rows (a metadata count that
      includes NULL-text rows, which the signature pass drops): an
      over-estimate only moves the rung choice, i.e. cost, never the
      output, which is band-invariant.

    ``band_chunks`` must satisfy ``band_chunks + max_hamming <= 60``
    (every chunk needs at least one bit).
    """
    sig = simhash_signatures(df, id_col, text_col)
    return hamming_pairs(
        sig,
        id_col,
        "simhash",
        max_hamming=max_hamming,
        min_chunks=chunks,
        band_chunks=band_chunks,
        n_rows=n_docs,
    )


def chunk_plan(
    n_bits: int, max_hamming: int, band_chunks: int, min_chunks: int = 4
) -> tuple[list[int], list[int]]:
    """(widths, offsets) of the generalized-pigeonhole chunking used
    by :func:`hamming_pairs` — ``max(min_chunks, max_hamming +
    band_chunks)`` chunks, uneven widths fine for the pigeonhole
    argument (the first ``n_bits % m`` chunks get the extra bit).
    Public so SQL oracles can replay the exact band keys."""
    need = max(min_chunks, max_hamming + band_chunks)
    base, extra = divmod(n_bits, need)
    widths = [base + (1 if i < extra else 0) for i in range(need)]
    offsets = [sum(widths[:i]) for i in range(need)]
    return widths, offsets


def hamming_band_keys(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 6,
    n_bits: int = _SIMHASH_BITS,
    min_chunks: int = 4,
    band_chunks: int = 1,
) -> DataFrame:
    """The banded candidate KEYS of :func:`hamming_pairs`, exposed:
    one row per (id, band) with the band's chunk values ``v1..vB`` —
    the exact frame the candidate self-join buckets on.  This is the
    observability seam for :func:`hot_bucket_audit`: a degenerate key
    (a constant signature region shared corpus-wide) shows up here as
    one bucket holding a large fraction of ids, BEFORE the join goes
    quadratic on it."""
    if band_chunks < 1 or band_chunks + max_hamming > n_bits:
        raise ValueError(
            f"band_chunks must be >= 1 with band_chunks + max_hamming <= "
            f"{n_bits}; got {band_chunks!r}"
        )
    widths, offsets = chunk_plan(n_bits, max_hamming, band_chunks, min_chunks)
    need = len(widths)

    def chunk_val(i: int) -> F.Column:
        return F.expr(
            f"shiftright({hash_col}, {offsets[i]}) & {(1 << widths[i]) - 1}"
        )

    from itertools import combinations

    bands = [
        F.struct(
            F.lit(b).alias("band"),
            *[chunk_val(ix).alias(f"v{t + 1}") for t, ix in enumerate(combo)],
        )
        for b, combo in enumerate(combinations(range(need), band_chunks))
    ]
    return sig.select(
        id_col, hash_col, F.explode(F.array(*bands)).alias("__b")
    ).select(id_col, hash_col, "__b.*")


def hot_bucket_audit(
    keys: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    threshold: int = 1000,
) -> DataFrame:
    """Bucket-cardinality alarm for banded candidate joins (VERDICT
    r11 #2): per bucket key, the member count and the pair count the
    self-join would expand it to — rows only for buckets at or above
    ``threshold`` (violations-as-data, the er/validate.py idiom).

    Why this exists: a degenerate band key — a constant signature
    region shared corpus-wide, like the audio pad-suffix collision
    floor (commit a667848) — turns a banded join silently QUADRATIC
    in that bucket; at 100 TB the first symptom is an executor OOM,
    not a wrong answer.  This audit is one map-side-combined
    aggregation over the key frame (O(keys), no join), so it can run
    ahead of every pair join as a gate: alarm rows mean "salt, raise
    the band resolution, or cap this bucket" before paying the join.
    The ``max_bucket`` parameter of :func:`hamming_pairs` /
    :func:`minhash_lsh_pairs` is the enforcement half."""
    n = F.count(F.lit(1))
    return (
        keys.groupBy(*key_cols)
        .agg(
            n.cast("long").alias("n_ids"),
            (n * (n - 1) / 2).cast("long").alias("n_pairs"),
        )
        .filter(F.col("n_ids") >= threshold)
    )


def _drop_hot_buckets(chunked: DataFrame, key_cols: list, max_bucket: int):
    """Anti-join away buckets past ``max_bucket`` members — the
    enforcement half of :func:`hot_bucket_audit`.  Dropping a bucket
    is a RECALL trade (pairs whose only agreeing band is the hot one
    are lost), which is the right trade exactly when the bucket is a
    collision floor: its pairs are overwhelmingly non-dups sharing a
    degenerate key, and the alternative is a quadratic join blow-up.
    The aggregation shuffles on the same key as the join it guards,
    map-side combined."""
    hot = (
        chunked.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket)
        .select(*key_cols)
    )
    return chunked.join(hot, list(key_cols), "left_anti")


def hamming_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 6,
    n_bits: int = _SIMHASH_BITS,
    min_chunks: int = 4,
    band_chunks: int | None = None,
    n_rows: int | None = None,
    max_bucket: int | None = None,
    ckpt_keys: bool | None = None,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` over ANY <=60-bit
    integer signature column — the banded generalized-pigeonhole
    search :func:`simhash_pairs` documents (Manku et al., WWW'07),
    factored out (VERDICT r10 #5) so non-text signatures plug in: the
    image perceptual hash (operators/multimodal.py ``image_ahash``)
    rides the identical machinery.  Output is band-invariant — the
    exact popcount verifies every candidate — and the rung ladder /
    auto policy is exactly simhash_pairs' (its docstring is the
    reference; ``n_rows`` skips the sizing count() when cardinality
    is known).

    ``max_bucket`` (opt-in) drops candidate buckets past that many
    members before the self-join — the hot-bucket guard (VERDICT r11
    #2; see :func:`hot_bucket_audit` for the measurement half and the
    recall trade).  Default None keeps the operator exact over its
    band construction, as every oracle-pinned caller requires.
    """
    if band_chunks is None:
        if n_rows is None:
            n_rows = sig.count()
        band_chunks = 1 if n_rows < 20_000 else (2 if n_rows < 1_000_000 else 3)
    chunked = hamming_band_keys(
        sig, id_col, hash_col, max_hamming, n_bits, min_chunks, band_chunks
    )
    # Both sides of the candidate self-join derive from `chunked` with
    # DIFFERENT projections, so exchange reuse never fires and the whole
    # signature subtree (for the multimodal callers: synthesis + real
    # codec decode + fingerprint) executes TWICE per action.  One lazy
    # checkpoint of the band-key frame halves that (guide §2.4: two
    # consumers, one computation; measured 2.9s -> 1.7s on
    # binary_video_fingerprint at sf0.1) — but the trade FLIPS when the
    # key frame is large and the signature pass is cheap: at the 100x
    # replica (500k docs, band_chunks=2 -> 14M key rows) materializing
    # the frame costs more than recomputing the arrow SimHash pass
    # (27.7s vs 24.1s min-of-2, this session).  ``ckpt_keys=None``
    # auto-gates on the estimated key-frame row count (env-overridable
    # threshold); callers whose signatures are EXPENSIVE to recompute
    # (the multimodal codec decodes) pass ckpt_keys=True explicitly.
    if ckpt_keys is None:
        import math

        max_keys = int(
            os.environ.get("SPARK_GRAFT_HAMMING_CKPT_MAX_KEYS", "2000000")
        )
        widths, _ = chunk_plan(n_bits, max_hamming, band_chunks, min_chunks)
        n_bands = math.comb(len(widths), band_chunks)
        ckpt_keys = n_rows is None or n_rows * n_bands <= max_keys
    if ckpt_keys:
        chunked = chunked.localCheckpoint(eager=False)
    key_cols = ["band"] + [f"v{t + 1}" for t in range(band_chunks)]
    if max_bucket is not None:
        chunked = _drop_hot_buckets(chunked, key_cols, max_bucket)
    c1 = chunked.select(
        F.col(id_col).alias("id_1"), F.col(hash_col).alias("h1"), *key_cols
    )
    c2 = chunked.select(
        F.col(id_col).alias("id_2"), F.col(hash_col).alias("h2"), *key_cols
    )
    cand = (
        c1.join(c2, key_cols)
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", "h1", "h2")
        .distinct()
    )
    return cand.select(
        "id_1",
        "id_2",
        F.expr("bit_count(h1 ^ h2)").cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# Incremental MinHash-LSH (index the corpus once, dedup arriving batches)
# --------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """(id, band, band_key) rows — the persistable LSH index of a
    corpus. Build once per corpus generation (write to Parquet,
    partition/bucket by (band, band_key) at scale) and dedup every
    arriving batch against it WITHOUT touching historical text: the
    full-corpus signature pass is the expensive stage, and an
    incremental pipeline must not repeat it per batch."""
    sharr = shingle_arrays(df, id_col, text_col, n).select(
        id_col, F.transform("sh", lambda s: F.xxhash64(s)).alias("sha")
    )
    return minhash_band_keys(sharr, id_col, num_hashes, bands)


# --------------------------------------------------------------------------
# Persisted MinHash index lifecycle: save -> append xN -> compact
# --------------------------------------------------------------------------


def save_minhash_index(index: DataFrame, path: str) -> None:
    """Persist a :func:`minhash_index` result as generation 0 of a
    long-lived on-disk index: ``path/gen-000000/*.parquet`` plus an
    atomically-committed generation marker. Layout contract: readers
    (:func:`load_minhash_index`) resolve the highest committed marker,
    so a generation directory becomes visible only once fully written
    — a crashed save/compact leaves the previous generation live
    (sources/commit.py)."""
    spark = index.sparkSession
    base = path.rstrip("/")
    index.repartition("band").write.mode("overwrite").parquet(
        generation_dir(base, 0)
    )
    fs, HPath = hadoop_fs(spark, base)
    commit_generation(fs, HPath, base, 0)


def _current_generation_dir(fs, HPath, base: str) -> str:
    gen = current_generation(fs, HPath, base)
    if gen is None:
        raise ValueError(f"no committed MinHash index at {base}")
    return generation_dir(base, gen)


def append_minhash_index_delta(
    spark,
    path: str,
    new_docs: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> bool:
    """Index a NEW document batch without touching historical rows:
    one signature pass over the batch, written as its OWN
    ``delta-<batch_id>`` directory published by an atomic marker —
    O(batch) per batch. Ids are append-only (the caller dedups
    re-derived ids via the merge layer first).

    Idempotence under foreachBatch's at-least-once contract: a replay
    whose ``batch_id`` already has a committed marker — or is already
    folded into the current generation (``_FOLDED`` high-water) — is
    a no-op, so replays never double-index a window.  A crash between
    the delta write and the marker rename leaves an UNCOMMITTED
    directory that readers ignore and the replay overwrites.  Returns
    True iff the batch was newly committed.
    :func:`compact_minhash_index` folds accumulated deltas back into
    one band-clustered generation."""
    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    gen_dir = _current_generation_dir(fs, HPath, base)

    def write(delta: str) -> None:
        keys = minhash_index(new_docs, id_col, text_col, n, num_hashes, bands)
        keys.repartition("band").write.mode("overwrite").parquet(delta)

    return MINHASH_DELTAS.append(fs, HPath, base, gen_dir, batch_id, write)


def load_minhash_index(spark, path: str) -> DataFrame:
    """The current committed generation's (id, band, band_key) rows —
    the ``index`` input of :func:`minhash_lsh_pairs_incremental` —
    UNIONed with every committed streaming delta the generation has
    not yet folded (``_FOLDED`` high-water; uncommitted delta
    directories are invisible by construction)."""
    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    gen_dir = _current_generation_dir(fs, HPath, base)
    return spark.read.parquet(
        *MINHASH_DELTAS.read_paths(fs, HPath, base, gen_dir)
    )


def compact_minhash_index(spark, path: str) -> dict:
    """Fold the current generation PLUS every committed-but-unfolded
    delta (:func:`append_minhash_index_delta`) into ONE band-clustered
    dataset (VERDICT r9 #5): repartition on ``band`` and sort each
    partition by (band, band_key) — so row-group min/max stats prune
    candidate lookups and the file count drops from O(appended batches
    x partitions) back to O(bands) — then publish as generation N+1
    via the atomic marker commit (crash before the commit leaves N
    live and untouched; N stays readable one more generation).
    Row-set-preserving by construction — a pure repartition+rewrite;
    the pre/post candidate-equality test in
    tests/test_dedup_incremental.py pins it.

    Returns {"generation", "files_before", "files_after", "rows"}.
    """
    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    gen = current_generation(fs, HPath, base)
    if gen is None:
        raise ValueError(f"no committed MinHash index at {base}")

    def n_files(d: str) -> int:
        return sum(1 for f in names(fs, HPath, d) if f.startswith("part-"))

    cur_dir = generation_dir(base, gen)
    nxt_dir = generation_dir(base, gen + 1)
    # fold EXACTLY the pinned delta snapshot (sources/commit.py
    # DeltaLog.fold_by_swap: re-listing would race a concurrent append)
    fw, delta_ids = MINHASH_DELTAS.unfolded(fs, HPath, base, cur_dir)
    deltas = [MINHASH_DELTAS.path(base, d) for d in delta_ids]
    cur = spark.read.parquet(cur_dir, *deltas)
    rows = cur.count()
    (
        cur.repartition("band")
        .sortWithinPartitions("band", "band_key")
        .write.mode("overwrite")
        .parquet(nxt_dir)
    )
    # the high-water rides INSIDE the new generation, visible
    # atomically with its commit
    new_fw = max([fw] + delta_ids)
    stamp_folded(fs, HPath, nxt_dir, new_fw)
    files_before = n_files(cur_dir) + sum(n_files(d) for d in deltas)
    commit_generation(fs, HPath, base, gen + 1)
    MINHASH_DELTAS.gc(fs, HPath, base, new_fw)
    return {
        "generation": gen + 1,
        "files_before": files_before,
        "files_after": n_files(nxt_dir),
        "rows": rows,
    }


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch: new-vs-corpus and
    new-vs-new, exactly verified — equal to the pairs of
    ``minhash_lsh_pairs(corpus ∪ new)`` that touch a new id (asserted
    in tests/test_dedup_incremental.py). Ids must be unique across
    corpus and batch.

    Cost shape, which is the point: shingles + signatures are computed
    for the BATCH only; the corpus side contributes its prebuilt
    ``index`` rows to the candidate join, and only the candidate
    corpus documents (id-pruned semi-join, typically a vanishing
    fraction) are re-shingled for the exact verify. Per-batch work is
    O(batch + candidates), not O(corpus).
    """
    new_keys = minhash_index(
        new_docs, id_col, text_col, n, num_hashes, bands
    )
    # k1/k2 are different projections of the batch key frame — one
    # lazy checkpoint keeps the batch shingle+signature pipeline from
    # running twice in the candidate join (guide §2.4; the
    # minhash_lsh_pairs band_key discipline).
    new_keys = new_keys.localCheckpoint(eager=False)
    k1 = new_keys.select(F.col(id_col).alias("id_a"), "band", "band_key")
    k2 = new_keys.select(F.col(id_col).alias("id_b"), "band", "band_key")
    old = index.select(F.col(id_col).alias("id_b"), "band", "band_key")
    cand = (
        k1.join(k2.unionByName(old), ["band", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_1"),
            F.greatest("id_a", "id_b").alias("id_2"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = (
        cand.select(F.col("id_1").alias(id_col))
        .union(cand.select("id_2"))
        .distinct()
    )
    # shingle ONLY candidate docs (batch or corpus): one union, one
    # semi-join prune, then the candidate-bounded shingle ARRAYS,
    # checkpointed once; the verify is the array-intersect path
    # (bit-identical Jaccard, see _verify_pairs_by_array) instead of
    # the inverted-index join chain
    touched = new_docs.select(id_col, text_col).unionByName(
        corpus.select(id_col, text_col)
    )
    sharr = (
        shingle_arrays(
            touched.join(cand_ids, id_col, "left_semi"), id_col, text_col, n
        )
        .select(
            id_col, F.transform("sh", lambda s: F.xxhash64(s)).alias("sha")
        )
        .localCheckpoint(eager=False)
    )
    return _verify_pairs_by_array(cand, sharr, id_col, threshold)
