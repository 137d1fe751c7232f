"""Expression twins of the engine's Arrow kernels.

Each function here is the pure-JVM Column-expression construction that
an operator's production kernel is pinned against: the kernel must
return BIT-identical output to its twin on the same input, and the
equality tests (``tests/test_{dedup,similarity,ivf,pq,bpe}.py``) assert
exactly that with ``==``.  The twins are also the shapes the DuckDB
oracle queries structurally mirror.  No production caller runs them,
so they live with the tests instead of behind an operator switch.

    winnow_fingerprints_expr  — dedup.winnow_fingerprints
    simhash_signatures_expr   — dedup.simhash_signatures
    cosine_pairs_expr         — similarity.cosine_pairs
    assign_to_centroids_expr  — similarity.assign_to_centroids
    pq_encode_expr            — pq.pq_encode
    apply_bpe_expr            — bpe.apply_bpe

The pure-Python twins of the multimodal kernels follow: each is the
per-row loop a vectorized numpy kernel is pinned against
(tests/test_multimodal.py).

    kr_mix_py    — multimodal._kr_mix_np
    ahash_py     — multimodal.image_ahash
    audio_fp_py  — multimodal.audio_fingerprint
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.functions.expr_util import let
from palegislature_spark.operators.bpe import _replace_merge, _unwrap_toks, _wrap
from palegislature_spark.operators.dedup import _SIMHASH_BITS
from palegislature_spark.operators.multimodal import AHASH_BITS
from palegislature_spark.operators.pq import _codebook_literal, _sq_l2
from palegislature_spark.operators.similarity import _as_double, _dot, _norm


def winnow_fingerprints_expr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    base: int = 257,
) -> DataFrame:
    """Winnowing fingerprints as Catalyst higher-order functions: the
    char-code and gram arrays are ``let``-bound lambda variables, so
    each is evaluated once per row (inlining them re-evaluates the
    gram subtree per window position)."""

    def grams_of(codes):  # codes: bound array<long> of char codes
        # Guarded so the expression is total: Catalyst may reorder the
        # row filter below with the projection, so a too-short text
        # must yield NULL here, not an element_at out-of-bounds.
        return F.when(
            F.size(codes) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(codes) - (k - 1)),
                lambda i: sum(
                    (
                        F.element_at(codes, i + t) * F.lit(base ** (k - 1 - t))
                        for t in range(1, k)
                    ),
                    start=F.element_at(codes, i) * F.lit(base ** (k - 1)),
                ),
            ),
        )

    def wins_of(g):  # g: bound array<long> of gram hashes
        return F.when(
            F.size(g) >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(g) - (w - 1)),
                    lambda j: F.array_min(F.slice(g, j, w)),
                )
            ),
        )

    # split('') chars the string in ONE pass; per-position substr()
    # inside a transform would re-scan the string per char (O(L^2)).
    codes = F.transform(
        F.split(F.col(text_col), ""), lambda c: F.ascii(c).cast("long")
    )
    fps = let(codes, lambda c: let(grams_of(c), wins_of))
    return (
        df.filter(F.length(text_col) >= k)
        .repartition(F.col(id_col))
        .select(F.col(id_col), fps.alias("__fps"))
        .filter(F.col("__fps").isNotNull())
        .select(id_col, F.explode("__fps").alias("fingerprint"))
    )


def simhash_signatures_expr(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """60-bit SimHash as JVM expressions: explode tokens, md5 once per
    token row, convert the first 15 hex nibbles to ONE 60-bit long per
    row (single conv), then 60 integer-shift partial sums in a single
    groupBy(id).  Bit i lives in hex nibble i//4 at in-nibble position
    i%4, and nibble p of the big-endian 15-nibble number sits at
    integer bit 4*(14-p)."""
    hexed = (
        df.repartition(F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
        )
        .withColumn(
            "bits", F.expr("CAST(conv(substring(md5(__tok), 1, 15), 16, 10) AS BIGINT)")
        )
    )

    def vote(i: int):
        shift = 4 * (14 - i // 4) + (i % 4)
        return F.expr(f"sum(2 * (shiftright(bits, {shift}) & 1) - 1)").alias(f"s{i}")

    votes = hexed.groupBy(id_col).agg(*[vote(i) for i in range(_SIMHASH_BITS)])
    hash_expr = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SIMHASH_BITS)
    )
    return votes.select(id_col, F.expr(hash_expr).alias("simhash"))


def cosine_pairs_expr(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine as a broadcast join of the query panel with
    interpreted HOF dot/norm folds per pair."""
    l = left.select(
        F.col(id_left).alias("__qid"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    r = right.select(
        F.col(id_right).alias("__cid"), _as_double(vec_col).alias("__cv")
    ).withColumn("__cn", _norm(F.col("__cv")))
    return (
        F.broadcast(l)
        .join(r, F.col("__qid") != F.col("__cid"))
        .select(
            F.col("__qid").alias(id_left),
            F.col("__cid").alias(id_right),
            (_dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias(
                "cosine"
            ),
        )
    )


def assign_to_centroids_expr(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-centroid assignment as a broadcast centroid attach plus an
    argmax-cosine window (ties to the smaller list_id)."""
    vecs = vectors.select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
    )
    vecs = vecs.withColumn("__n", _norm(F.col("__v")))
    scored = vecs.join(F.broadcast(centroids)).select(
        "__id",
        "__v",
        "list_id",
        (
            _dot(F.col("__v"), F.col("centroid")) / (F.col("__n") * F.col("__cn"))
        ).alias("__cos"),
    )
    w = Window.partitionBy("__id").orderBy(F.col("__cos").desc(), "list_id")
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter("__r = 1")
        .select(F.col("__id").alias(id_col), "list_id", F.col("__v").alias("__vec"))
    )


def pq_encode_expr(
    embeddings: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode with the codebook as one folded literal and an
    in-order squared-L2 HOF fold per code (first-minimum tie-break)."""
    cb, m, _k = _codebook_literal(codebooks)
    v = _as_double(vec_col)
    sub_dim = F.floor(F.size(v) / m).cast("int")

    def code_for(j):
        sv = F.slice(v, F.lit(j) * sub_dim + F.lit(1), sub_dim)
        dists = F.transform(cb[j], lambda c: _sq_l2(sv, c))
        return F.array_position(dists, F.array_min(dists)).cast("int")

    return embeddings.select(
        F.col(id_col),
        F.array(*[code_for(j) for j in range(m)]).alias("codes"),
    )


def apply_bpe_expr(
    docs: DataFrame,
    merge_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool = False,
) -> DataFrame:
    """BPE encode over the DISTINCT-word dictionary: explode words with
    positions, encode each distinct word once by the boundary-wrapped
    replace chain (or the per-symbol fold for words holding the
    \\x01/\\x02 delimiters), join the dictionary back and reassemble
    each document with a sorted collect.  ``broadcast_vocab`` forces
    the dictionary join to broadcast; off, the optimizer picks."""
    rules = [
        (r["left_sym"], r["right_sym"])
        for r in merge_table.orderBy("step").collect()
    ]
    word_pos = docs.select(
        F.col(id_col),
        F.posexplode(
            F.filter(F.split(text_col, " "), lambda w: w != "")
        ).alias("pos", "w"),
    )
    vocab = word_pos.select("w").distinct()
    # fast path: the oracle-equivalent boundary-wrapped string replay —
    # one native replace per rule.  A word containing \x01/\x02 would
    # collide with the wrap delimiters, so those rows take the fold
    # twin (the original interpreted construction); the conditional is
    # evaluated per row and the untaken branch costs nothing at
    # runtime.  Trained rule symbols never contain the control chars
    # (vocabulary() excludes them), so the split is exhaustive.
    scol = _wrap(F.col("w"))
    fold_col = F.split("w", "")
    for a, b in rules:
        scol = _replace_merge(scol, a, b)
        # PySpark's higher-order-function bridge inspects lambda
        # signatures (default args would read as extra lambda params),
        # so each rule's fold is built by a closure factory
        fold_col = _fold_syms(fold_col, _make_step(a, b))
    col = F.when(
        F.col("w").contains("\x01") | F.col("w").contains("\x02"),
        fold_col,
    ).otherwise(_unwrap_toks(scol))
    word_toks = vocab.select("w", col.alias("toks"))
    if broadcast_vocab:
        word_toks = F.broadcast(word_toks)
    rebuilt = (
        word_pos.join(word_toks, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
    )
    # documents with no non-empty words still get a row (empty array)
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(
            "tokens", F.expr("array()").cast("array<string>")
        ).alias("tokens"),
    )


def _make_step(a: str, b: str):
    merged = a + b

    def step(acc, s):
        last = F.when(F.size(acc) > 0, F.element_at(acc, -1))
        return F.when(
            (last == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s)))

    return step


def _fold_syms(col, step):
    """Fold one symbol-array column through a merge step."""
    return F.aggregate(col, F.expr("array()").cast("array<string>"), step)


def kr_mix_py(s: str, n: int) -> bytes:
    """Pure-Python Karp-Rabin pixel/sample mix over a PREPARED window
    string of length >= n+3 — byte i is the base-31 mix of chars
    [i, i+3] mod 256 (multipliers 95/193/31/1 are 31^3..31^0 mod 256)."""
    a = [ord(c) for c in s]
    return bytes(
        (a[i] * 95 + a[i + 1] * 193 + a[i + 2] * 31 + a[i + 3]) % 256
        for i in range(n)
    )


def ahash_py(px: list, n_bits: int = AHASH_BITS) -> int:
    """Pure-Python aHash: bit i set iff ``n * px[i] > sum(px)``."""
    n = len(px)
    if n == 0:
        return 0
    total = sum(px)
    h = 0
    for i, p in enumerate(px[:n_bits]):
        if n * p > total:
            h |= 1 << i
    return h


def audio_fp_py(pcm: bytes, frames: int = 60, frame_len: int = 4) -> int:
    """Pure-Python frame-energy fingerprint: bit i set iff frame i's
    energy (sum of (sample-128)^2) is above the mean frame energy."""
    energies = []
    for i in range(frames):
        seg = pcm[i * frame_len:(i + 1) * frame_len]
        energies.append(sum((b - 128) * (b - 128) for b in seg))
    total = sum(energies)
    h = 0
    for i, e in enumerate(energies):
        if frames * e > total:
            h |= 1 << i
    return h
