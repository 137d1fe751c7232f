"""Embedding similarity search: brute-force cosine top-k + LSH scale path.

Vector math is defined by JVM expressions: arrays cast to double, dot
products via ``aggregate(zip_with(...))`` folds.  The exact scoring
operators (cosine pairs, fixed-centroid assignment) run that fold as a
bit-identical Arrow kernel — one production path each; their
expression twins live in tests/reference_impls.py as equality pins.

Brute-force is the correctness baseline (exact top-k). The scale path
is random-hyperplane LSH: sign-bucket every vector once (linear), then
rank only same-bucket (plus near-bucket) candidates. Hyperplane
components are derived from xxhash64 so the index is deterministic and
needs no stored model.
"""

from __future__ import annotations

from collections.abc import Sequence  # noqa: TC003 — runtime default for meta_cols

import pandas as pd  # noqa: TC002 — needed at runtime for pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.operators.kernels import map_batches
from palegislature_spark.sources.commit import IVF_DELTAS, hadoop_fs, recover_swap


def _as_double(col: str):
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _seq_norms(V):
    """Row L2 norms of a float64 matrix, accumulated dimension-
    SEQUENTIALLY (``acc += x_i * x_i``, one rounding per step): the same
    IEEE left fold as :func:`_norm`, vectorized across rows."""
    import numpy as np

    acc = np.zeros(len(V), dtype=np.float64)
    for i in range(V.shape[1]):
        acc += V[:, i] * V[:, i]
    return np.sqrt(acc)


def _seq_cosines(V, M, m_norms):
    """Cosine of every row of ``V`` against every row of ``M`` (whose
    norms are ``m_norms``): the one scoring kernel of
    :func:`cosine_pairs` and :func:`_assign_exact_arrow`.

    BIT-IDENTICAL to the expression ``_dot(v, m) / (norm(v) * norm(m))``
    (the multimodal-codec discipline — same IEEE ops in the same order,
    vectorized ACROSS rows instead of down them): dot and norm
    accumulate dimension-sequentially (``acc += v_i * m_i``, one
    rounding per step, exactly the HOF left fold), and the cosine is the
    same single product-then-divide (IEEE multiply is commutative, so
    the denominator's operand order is free).  A BLAS matmul would
    re-associate the sum; that is the ``assign_arrow`` kernel, which is
    not exact.  Zero norms yield inf/NaN as the expression does."""
    import numpy as np

    S = np.zeros((len(V), len(M)), dtype=np.float64)
    for i in range(V.shape[1]):
        S += V[:, i][:, None] * M[None, :, i]
    with np.errstate(divide="ignore", invalid="ignore"):
        return S / (_seq_norms(V)[:, None] * m_norms[None, :])


def with_norm(df: DataFrame, vec_col: str, out: str = "norm") -> DataFrame:
    """Append the L2 norm of an array<float> column (computed in double)."""
    return df.withColumn(out, _norm(_as_double(vec_col)))


def cosine_pairs(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine similarity (left x right) — exact, quadratic.

    Use only with a bounded left side (the query set): the panel (its
    norms computed by the JVM expression) is collected once, and each
    Arrow batch of ``right`` is scored against it with a sequential
    numpy kernel.  Emits one row per (query, candidate) pair with
    different ids; downstream consumers group or rank, so pair order
    is free.  The cosines are BIT-IDENTICAL to the broadcast-join
    expression (``cosine_pairs_expr`` in tests/reference_impls.py,
    pinned in tests/test_similarity.py) by the :func:`_seq_cosines`
    argument, and the panel's own norms are collected FROM the
    expression plan, not recomputed.  The expression's per-pair HOF
    fold never enters codegen, which is why the kernel is the one path.
    """
    import numpy as np
    from pyspark.sql import types as T

    l = left.select(
        F.col(id_left).alias("__qid"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    rows = l.collect()
    qids = [row["__qid"] for row in rows]
    Q = np.array([list(row["__qv"]) for row in rows], dtype=np.float64)
    qn = np.array([row["__qn"] for row in rows], dtype=np.float64)
    n_q = len(rows)

    r_src = right.select(
        F.col(id_right).alias("__cid"), _as_double(vec_col).alias("__cv")
    )
    out_schema = T.StructType(
        [
            T.StructField(id_left, l.schema["__qid"].dataType),
            T.StructField(id_right, r_src.schema["__cid"].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def batch(pdf):
        if not n_q:
            return {id_left: [], id_right: [], "cosine": []}
        S = _seq_cosines(np.array(pdf["__cv"].tolist(), dtype=np.float64), Q, qn)
        cids = pdf["__cid"].to_numpy()
        out_q, out_c, out_s = [], [], []
        for j, qid in enumerate(qids):
            mask = cids != qid
            out_q.append(np.full(int(mask.sum()), qid))
            out_c.append(cids[mask])
            out_s.append(S[mask, j])
        return {
            id_left: np.concatenate(out_q),
            id_right: np.concatenate(out_c),
            "cosine": np.concatenate(out_s),
        }

    return map_batches(r_src, ("__cid", "__cv"), out_schema, batch)


def _band_keys_udf(n_bands: int, band_bits: int):
    """Arrow-vectorized banded sign-LSH signature: array<long> of
    ``n_bands`` keys, key b = the ``band_bits`` sign bits of planes
    [b*band_bits, (b+1)*band_bits).

    Signature generation is a dense matmul ((batch x dim) @ (dim x
    n_planes)) — the one vector op built-in Columns cannot express
    without O(n_planes * dim) interpreted HOF folds per row, so this is
    a deliberate Arrow/pandas UDF (BLAS does the work; one batch
    transfer each way).  Planes use the same shared multiplicative hash
    as :func:`plane_sign`, so the index is deterministic and model-free.
    """

    @F.pandas_udf("array<long>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415

        if vecs.empty:
            return pd.Series([], dtype=object)
        mat = np.array(vecs.tolist(), dtype=np.float64)
        dim = mat.shape[1]
        n_planes = n_bands * band_bits
        planes = np.array(
            [[plane_sign(p, i, dim) for i in range(dim)] for p in range(n_planes)],
            dtype=np.float64,
        )
        bits = (mat @ planes.T > 0).astype(np.int64)
        weights = 1 << np.arange(band_bits, dtype=np.int64)
        keys = bits.reshape(len(mat), n_bands, band_bits) @ weights
        return pd.Series(list(keys))

    return band_keys


def near_dup_candidates_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 16,
    band_bits: int = 8,
) -> DataFrame:
    """Banded sign-LSH candidate pairs (id_1 < id_2), pre-verify.

    Scale shape (mirrors operators/dedup.py MinHash-LSH): one linear
    Arrow pass emits per-row band keys; the self-join shuffles ONLY
    (id, band, key) triples — vectors are joined back by id afterwards
    — so candidate generation is sub-quadratic whenever keys spread
    (random corpora: ~n^2 * n_bands / 2^band_bits pairs, vs n^2/2).
    """
    keys = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(_band_keys_udf(n_bands, band_bits)(F.col(vec_col))).alias(
            "__band", "__key"
        ),
    )
    a = keys.select(F.col("__id").alias("id_1"), "__band", "__key")
    b = keys.select(F.col("__id").alias("id_2"), "__band", "__key")
    return (
        a.join(b, ["__band", "__key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .dropDuplicates(["id_1", "id_2"])
    )


def _near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_bands: int,
    band_bits: int,
) -> DataFrame:
    """LSH-banded candidates + exact cosine verify (the tight-threshold
    scale path).  High-recall approximate: a qualifying pair is missed
    only if it collides in NO band (miss prob (1 - p^r)^b with
    p = 1 - theta/pi; at t=0.9, r=8, b=16: ~0.4%)."""
    cand = near_dup_candidates_lsh(df, id_col, vec_col, n_bands, band_bits)
    vecs = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("__vv")
    ).withColumn("__vn", _norm(F.col("__vv")))
    joined = (
        cand.join(vecs.withColumnRenamed("__vid", "id_1"), "id_1")
        .withColumnsRenamed({"__vv": "__v_1", "__vn": "__n_1"})
        .join(vecs.withColumnRenamed("__vid", "id_2"), "id_2")
    )
    return joined.select(
        "id_1",
        "id_2",
        (
            _dot(F.col("__v_1"), F.col("__vv")) / (F.col("__n_1") * F.col("__vn"))
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_grid_dims: int = 1,
    n_filter_projections: int = 3,
    seed: int = 42,
    method: str = "auto",
    n_bands: int = 16,
    band_bits: int = 8,
) -> DataFrame:
    """Cosine-threshold pairs (id_1 < id_2) without a cartesian.

    Two regimes, picked by ``method='auto'``:

    - ``exact`` (threshold < 0.8): lossless grid-projection bucketing
      (``near_dup_candidates_exact`` — ``n_grid_dims`` projections
      compose the bucket key, selectivity compounding per dim) —
      zero-miss, oracle-checkable, but candidate volume is delta-
      driven and a loose threshold means most pairs qualify-ish, so
      the work is inherently ~O(qualifying pairs).
    - ``lsh`` (threshold >= 0.8): banded sign-LSH candidates + exact
      cosine verify.  At tight thresholds the RESULT is small but the
      lossless bucket (width delta = sqrt(2-2t), still ~2.5x the
      sqrt(2/dim) projection spread at t=0.9/dim=64) barely prunes, so
      candidates stay ~O(n^2); band keys spread candidates over
      2^band_bits buckets per band instead, trading a bounded miss
      probability ((1-p^r)^b, ~0.4% at t=0.9) for sub-quadratic
      candidate volume.  This is the 100 TB path for near-dup mining.

    Exact-path scale: one linear pass computes norms + projections;
    the candidate join is an EQUI-join on the grid cell (no
    CartesianProduct in the plan — plan-asserted); degenerate hot
    cells are split by AQE skew handling, and the non-key projections
    are cheap scalar prefilters before the dot-product verify.  The
    zero-miss guarantee and the pair-once probing scheme are
    documented on ``near_dup_candidates_exact``.  Projections are
    xxhash64-seeded sign vectors — deterministic, no stored model,
    reproducible across runs (rand() would break retry determinism).
    """
    if method not in ("auto", "exact", "lsh"):
        raise ValueError(f"unknown near_dup_pairs method: {method}")
    if method == "lsh" or (method == "auto" and threshold >= 0.8):
        return _near_dup_pairs_lsh(
            df, id_col, vec_col, threshold, n_bands, band_bits
        )

    cand = near_dup_candidates_exact(
        df, id_col, vec_col, threshold, n_grid_dims, n_filter_projections, seed
    )
    verified = cand.select(
        F.least("__id_1", "__id_2").alias("id_1"),
        F.greatest("__id_1", "__id_2").alias("id_2"),
        (
            _dot(F.col("__v_1"), F.col("__v_2")) / (F.col("__n_1") * F.col("__n_2"))
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
    return verified.dropDuplicates(["id_1", "id_2"])


def near_dup_candidates_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_grid_dims: int = 1,
    n_filter_projections: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Zero-miss candidate pairs for the exact near-dup path.

    The bucket key is a k-dim GRID of Rademacher projections, each
    floor-bucketed at delta = sqrt(2 - 2t): a qualifying pair differs
    by <= delta in every projection (Cauchy-Schwarz on unit vectors),
    so its cell coordinates differ by at most 1 per dimension and
    probing the neighbor cells can never drop it.  Each grid dim
    moves one projection's pruning from the post-join prefilter into
    the shuffle key, and key selectivity compounds per dim.

    Measured geometry (what the grid can and cannot buy): unit-vector
    projections concentrate in ~±4/sqrt(dim), so at dim=64 /
    t=0.45 delta (~1.05) exceeds the entire projection spread and NO
    lossless 1-Lipschitz scheme prunes anything — 100% of pairs share
    a cell on both an isotropic 10k corpus and the driver's
    embeddings table, for 1, 2 and 3 grid dims alike (the 2^k-cell
    composition hypothesized in the r3 review compounds 100%^k).
    On low-dim or strongly anisotropic data the compounding is real:
    dim=4 / t=0.7 join cardinality falls 71% -> 48% -> 32% of all
    pairs for 1 -> 2 -> 3 dims.  The default therefore stays 1 dim —
    at high dim extra dims only multiply probe-side explode volume
    ((3^k - 1) / 2 + 1 cells) with zero selectivity — and tight-
    threshold mining belongs to the banded-LSH path, which prunes by
    spreading keys, not by the Lipschitz bound.

    Pair-once probing generalizes the 1-dim {own, lower} trick: the
    probe side explodes over the zero offset plus every offset in
    {-1, 0, 1}^k whose first nonzero component is +1 (the canonical
    half, (3^k - 1) / 2 + 1 cells); role symmetry of the self-join
    covers the mirrored half, and same-cell pairs are ordered by id.
    Remaining projections stay scalar prefilters after the join.
    """
    import itertools
    import math

    k = max(1, n_grid_dims)
    delta = math.sqrt(max(2.0 - 2.0 * threshold, 1e-12))

    vec = _as_double(vec_col)
    base = df.select(F.col(id_col).alias("__id"), vec.alias("__v")).withColumn(
        "__n", _norm(F.col("__v"))
    )

    def projection(i: int):
        signed = F.transform(
            F.col("__v"),
            lambda x, j: x
            * F.when(
                F.pmod(F.xxhash64(F.lit(seed + i), j), F.lit(2)) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )
        # normalized-vector projection, scaled to unit direction norm
        return F.aggregate(signed, F.lit(0.0), lambda a, x: a + x) / (
            F.col("__n") * F.sqrt(F.size("__v"))
        )

    n_proj = k + n_filter_projections
    projs = [projection(i).alias(f"__p{i}") for i in range(n_proj)]
    cells = [
        F.floor(F.col(f"__p{i}") / F.lit(delta)).cast("long").alias(f"__c{i}")
        for i in range(k)
    ]
    scored = base.select("__id", "__v", "__n", *projs).select("*", *cells)

    keys = [f"__c{i}" for i in range(k)]
    offsets = [(0,) * k] + [
        d
        for d in itertools.product((-1, 0, 1), repeat=k)
        if any(d) and next(x for x in d if x != 0) == 1
    ]
    a = scored.select(
        *[F.col(c).alias(f"{c}_1") for c in scored.columns if c not in keys],
        *keys,
    )
    probe = F.explode(
        F.array(
            *[
                F.struct(
                    *[(F.col(f"__c{i}") + F.lit(d[i])).alias(f"c{i}") for i in range(k)],
                    F.lit(all(x == 0 for x in d)).alias("self"),
                )
                for d in offsets
            ]
        )
    )
    b = scored.select(
        *[F.col(c).alias(f"{c}_2") for c in scored.columns if c not in keys],
        probe.alias("__probe"),
    ).select(
        "*",
        *[F.col(f"__probe.c{i}").alias(f"__c{i}") for i in range(k)],
        F.col("__probe.self").alias("__self"),
    )
    cand = a.join(b, keys).filter(
        (F.col("__self") & (F.col("__id_1") < F.col("__id_2"))) | ~F.col("__self")
    )
    # every projection (grid dims included) is a valid scalar prefilter
    for i in range(n_proj):
        cand = cand.filter(
            F.abs(F.col(f"__p{i}_1") - F.col(f"__p{i}_2")) <= F.lit(delta)
        )
    return cand


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector (pairs scored by
    :func:`cosine_pairs`).

    Output: (query_id, neighbor_id, rank, cosine). Deterministic
    tiebreak on neighbor id.
    """
    pairs = cosine_pairs(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        embeddings.select(F.col(id_col).alias("neighbor_id"), vec_col),
        "query_id",
        "neighbor_id",
        vec_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


# Shared 31-bit xorshift-multiply hash: plane signs and centroid ranks
# derive from mix31(x) = two rounds of h = ((h ^ h>>16) * 73244475) &
# (2^31-1) plus a final xor-fold.  Pure integer arithmetic (xor, shift,
# multiply, mask — products stay < 2^58, so no 64-bit overflow under
# ANSI mode) that Spark SQL, DuckDB (the correctness oracle), and plain
# Python all compute IDENTICALLY — which is what lets the approximate
# ANN paths have EXACT replayable oracles instead of rows-only checks.
# A plain Lehmer hash ((x*A) mod M) is NOT usable here: it is linear,
# so sequential plane indices produce near-identical sign vectors
# (measured mean |corr| 0.50 across planes); the xorshift rounds break
# the linearity (measured 0.10, the random-planes floor at dim 64).
_HASH_A = 73244475
_HASH_M31 = 2147483647  # 2^31 - 1 mask


def _mix31(x: int) -> int:
    """Pure-Python twin of :func:`_mix31_col` (and of the inline SQL in
    the knn_ivf oracle, queries/vectors.py)."""
    h = x & _HASH_M31
    for _ in range(2):
        h = ((h ^ (h >> 16)) * _HASH_A) & _HASH_M31
    return h ^ (h >> 16)


def _mix31_col(c):
    """mix31 as a Column expression.  The cast to long is load-bearing:
    int32 * 73244475 overflows, and Spark 4 ANSI mode errors on it."""
    h = c.cast("long").bitwiseAND(F.lit(_HASH_M31))
    for _ in range(2):
        h = (h.bitwiseXOR(F.shiftright(h, 16)) * F.lit(_HASH_A)).bitwiseAND(
            F.lit(_HASH_M31)
        )
    return h.bitwiseXOR(F.shiftright(h, 16))


def plane_sign(p: int, i: int, dim: int) -> int:
    """±1 component i of hyperplane p — pure-Python twin of the Column
    expression in :func:`_hyperplane_sign_bits`; used to embed the plane
    matrix as literals in the DuckDB oracle (queries/vectors.py) and to
    build the numpy plane matrix in :func:`_band_keys_udf`."""
    return 2 * ((_mix31(p * dim + i + 1) >> 7) & 1) - 1


def _hyperplane_sign_bits(vec_col, dim: int, n_planes: int):
    """LSH bucket id: sign bits against pseudo-random hyperplanes.

    Plane p component i = ±1 from bit 7 of mix31(p*dim + i + 1) — fully
    deterministic, no stored model, recomputable on any cluster AND in
    the DuckDB oracle (integer arithmetic, identical on every engine).
    """
    plane_dot = lambda p: F.aggregate(  # noqa: E731
        F.zip_with(
            vec_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: (
                    F.shiftright(_mix31_col(F.lit(p * dim + 1) + i), 7)
                    .bitwiseAND(F.lit(1))
                    * 2
                    - 1
                ).cast("double"),
            ),
            lambda x, s: x * s,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        bucket = bucket + F.when(plane_dot(p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _centroid_panel(cents: DataFrame):
    """The collected centroid table as (list_ids, float64 matrix),
    sorted by list_id so that an argmax tie goes to the smallest
    list_id, as the expression's ``ORDER BY cos DESC, list_id`` does."""
    import numpy as np

    rows = sorted(
        cents.select("list_id", "centroid").collect(),
        key=lambda r: r["list_id"],
    )
    C = np.array([list(r["centroid"]) for r in rows], dtype=np.float64)
    return [r["list_id"] for r in rows], C


def _assign_exact_arrow(
    cents: DataFrame,
    src: DataFrame,
    id_name: str,
    vec_name: str,
    out_id: str,
    out_vec: str,
) -> DataFrame:
    """Arrow-batched argmax-cosine assignment that is BIT-IDENTICAL to
    the expression path (``_dot``/``_norm`` folds + ``ORDER BY cos
    DESC, list_id``), unlike the BLAS ``assign_arrow`` kernel whose
    matmul re-associates the sum.

    Exactness argument: the cosines are :func:`_seq_cosines` (the
    centroid norms by the same sequential fold, :func:`_seq_norms`);
    ``np.argmax`` ties to the first maximum = smallest ``list_id`` (rows
    sorted), and NaN propagates to "first NaN wins" on both sides (Spark
    sorts NaN greatest, numpy argmax returns the first NaN).  Equality
    is pinned in tests/test_ivf.py.

    ``src`` must be ``(id_name, vec_name)`` with the vector already
    cast to ``array<double>``; output is ``(out_id, list_id,
    out_vec)`` with the input id/vector types preserved.  Collecting
    ``cents`` (index-sized by construction) replaces the broadcast
    the expression path paid.
    """
    import numpy as np
    from pyspark.sql import types as T

    ids, C = _centroid_panel(cents)
    list_type = cents.schema["list_id"].dataType
    list_ids = np.array(
        ids, dtype="int32" if isinstance(list_type, T.IntegerType) else "int64"
    )
    cn = _seq_norms(C) if C.ndim == 2 else np.zeros(0, dtype=np.float64)

    out_schema = T.StructType(
        [
            T.StructField(out_id, src.schema[id_name].dataType),
            T.StructField("list_id", list_type),
            T.StructField(out_vec, src.schema[vec_name].dataType),
        ]
    )

    def batch(pdf):
        V = np.array(pdf[vec_name].tolist(), dtype=np.float64)
        best = np.argmax(_seq_cosines(V, C, cn), axis=1)
        return {
            out_id: pdf[id_name],
            "list_id": list_ids[best],
            out_vec: pdf[vec_name],
        }

    return map_batches(src, (id_name, vec_name), out_schema, batch)


def ivf_assignments(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = 8,
    refine_iters: int = 0,
    exact_replay: bool = False,
    assign_impl: str = "arrow_exact",
    n_vectors: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF index: (centroids, assignments).

    Starting centroids are ``n_lists`` corpus vectors picked
    deterministically (smallest shared multiplicative hash of the id —
    the IVF-flat sampled-point construction).  ``n_lists=None`` scales
    the list count with the corpus: ``max(8, isqrt(n))`` — the √n
    guidance that keeps both the broadcast centroid set and each
    inverted list ~√n-sized as the corpus grows (one count() action to
    size it).  ``refine_iters`` Lloyd iterations then move each
    centroid to the mean of its assigned vectors and re-assign — the
    k-means refinement real IVF users expect on skewed corpora, where
    sampled points cluster in the dense region.

    Two mean implementations:

    * default (``exact_replay=False``) — the SCALE path: the per-list
      mean is a fully parallel per-dimension aggregate
      (``posexplode(vec)`` → ``groupBy(list_id, dim).avg`` →
      dimension-sized reassembly).  Map-side partial aggregation
      combines the component sums before the shuffle, every task holds
      scalars, and nothing ever materializes a whole inverted list in
      one row — at 100 TB a list is corpus/n_lists vectors, far past
      single-row limits.
    * ``exact_replay=True`` — the ORACLE twin: a sequential fold in id
      order (``array_sort(collect_list)`` + left fold), bit-reproducible
      so the DuckDB oracle replays the identical iteration with
      ``list(v ORDER BY id)`` + ``list_reduce``.  Collects each full
      list into one row — correct and deliberately used ONLY by the
      sf0.01-scale ``knn_ivf`` oracle query, never the operator default.

    Two assignment kernels (``assign_impl``): ``"arrow_exact"`` (the
    default) is bit-identical to the expression twin
    (:func:`_assign_exact_arrow`); ``"arrow"`` scores with one BLAS
    matmul per batch, faster on large builds but last-ulp inexact
    (semantic_dedup's 1e5-vector gate selects it).  Every assignment
    pass collects the tiny centroid set into the kernel — linear passes,
    no shuffle beyond the grouping.  Lists emptied by a re-assignment
    drop out of both mean paths, matching the SQL replay's GROUP BY.
    """
    if assign_impl not in ("arrow", "arrow_exact"):
        raise ValueError(
            f"assign_impl must be 'arrow' or 'arrow_exact', not {assign_impl!r}"
        )
    if n_lists is None:
        import math

        # one count() action to size sqrt-n lists; pass n_vectors to
        # skip it when the cardinality is already known (the
        # semantic_dedup / simhash_pairs hint convention)
        n_lists = max(
            8,
            math.isqrt(embeddings.count() if n_vectors is None else n_vectors),
        )
    ranked = embeddings.select(
        F.col(id_col).alias("__cid"), _as_double(vec_col).alias("__cv")
    ).withColumn("__rk", _mix31_col(F.col("__cid")))
    centroids = (
        ranked.orderBy("__rk", "__cid")
        .limit(n_lists)
        .select(
            F.row_number()
            .over(Window.orderBy("__cid"))
            .alias("list_id"),
            F.col("__cv").alias("centroid"),
        )
        .withColumn("__cn", _norm(F.col("centroid")))
    )
    vecs = embeddings.select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
    )

    def assign_arrow(cents: DataFrame) -> DataFrame:
        """Vectorized assignment: one BLAS matmul per Arrow batch
        against the broadcast-small centroid matrix, instead of
        n x n_lists interpreted higher-order dot expressions.  The
        n_lists=sqrt(n) build is O(n^1.5) pair-scores either way, but
        numpy turns each score into a fused multiply-add: the 200k x
        447-list build drops from ~108s (expression) to seconds.
        Argmax tie-break = first max = smallest list_id (centroid rows
        sorted), matching the expression twin's ORDER BY cos DESC,
        list_id; last-ulp cosine drift vs the fold-sum is possible, so
        the ORACLE-pinned queries use assign_impl='arrow_exact'."""
        import numpy as np
        from pyspark.sql import types as T

        ids, C = _centroid_panel(cents)
        list_ids = np.array(ids, dtype=np.int32)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

        out_schema = T.StructType(
            [
                vecs.schema["__id"],
                T.StructField("list_id", T.IntegerType()),
                vecs.schema["__v"],
            ]
        )

        def batch(pdf):
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            best = np.argmax((V @ Cn.T) / np.where(nrm == 0.0, 1.0, nrm), axis=1)
            return {
                "__id": pdf["__id"],
                "list_id": list_ids[best],
                "__v": pdf["__v"],
            }

        return map_batches(vecs, ("__id", "__v"), out_schema, batch)

    def list_means_exact(assigned: DataFrame) -> DataFrame:
        # Oracle twin: sequential id-ordered fold, bit-reproducible in
        # SQL — but one row per WHOLE inverted list (small-SF only).
        lists = assigned.groupBy("list_id").agg(
            F.array_sort(F.collect_list(F.struct("__id", "__v"))).alias("__svs"),
            F.count(F.lit(1)).cast("double").alias("__cnt"),
        )
        vs = F.transform(F.col("__svs"), lambda s: s["__v"])
        zero = F.transform(F.element_at(vs, 1), lambda x: F.lit(0.0))
        summed = F.aggregate(
            vs, zero, lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b)
        )
        return lists.select(
            "list_id",
            F.transform(summed, lambda x: x / F.col("__cnt")).alias("centroid"),
        )

    def list_means_scale(assigned: DataFrame) -> DataFrame:
        # Scale path: per-dimension parallel mean. posexplode fans each
        # vector into (list_id, dim, component) scalars; the avg is
        # map-side combined before its shuffle; the reassembly
        # collect_list is DIMENSION-sized (dim rows per list), never
        # list-sized.
        dims = assigned.select(
            "list_id", F.posexplode("__v").alias("__pos", "__x")
        )
        means = dims.groupBy("list_id", "__pos").agg(F.avg("__x").alias("__m"))
        return (
            means.groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("__pos", "__m"))).alias("__pm"))
            .select(
                "list_id",
                F.transform(F.col("__pm"), lambda s: s["__m"]).alias("centroid"),
            )
        )

    def assign_exact(cents: DataFrame) -> DataFrame:
        # bit-identical Arrow kernel (module helper, resolved here at
        # call time): same folds, same tie-break as the expression twin
        # (assign_to_centroids_expr in tests/reference_impls.py, which
        # cost ~n * n_lists interpreted HOF dots; measured ~0.6 ms/row)
        return _assign_exact_arrow(cents, vecs, "__id", "__v", "__id", "__v")

    list_means = list_means_exact if exact_replay else list_means_scale
    do_assign = assign_arrow if assign_impl == "arrow" else assign_exact

    assigned = do_assign(centroids)
    for _ in range(refine_iters):
        # The refined centroid table is n_lists rows but its lineage is
        # a full corpus assignment + the per-list means; it is consumed
        # at least twice (the final re-assign below AND the returned
        # handle every probe/serve path broadcasts), and nothing in
        # Spark reuses the subtree across those consumers (guide §2.4).
        # One lazy checkpoint of the tiny table collapses the duplicate
        # corpus passes; values are unchanged (the exact_replay fold is
        # bit-pinned, and materializing the scale path once per plan is
        # strictly MORE deterministic than recomputing it per consumer).
        pre_ckpt = list_means(assigned).withColumn(
            "__cn", _norm(F.col("centroid"))
        )
        centroids = pre_ckpt.localCheckpoint(eager=False)
        # the checkpoint node hides the mean construction from plan
        # inspection; keep the un-checkpointed frame reachable so the
        # scale-path plan guard (tests/test_ivf.py) still sees it
        centroids._pre_checkpoint = pre_ckpt
        assigned = do_assign(centroids)

    assignments = assigned.select(
        F.col("__id").alias(id_col), "list_id", F.col("__v").alias("__vec")
    )
    return centroids, assignments


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = 8,
    n_probe: int = 2,
    refine_iters: int = 0,
    exact_replay: bool = False,
    assign_impl: str = "arrow_exact",
    n_vectors: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF: search only the ``n_probe``
    inverted lists whose centroids are closest to each query.

    Output schema matches brute_force_topk. Scale: assignment and
    probing are linear passes against a broadcast centroid set; the
    candidate join shuffles on list_id, so per-query work is
    ~ corpus * n_probe / n_lists; ``n_lists=None`` sizes the index by
    √n (``n_vectors`` skips the sizing count when known).
    ``exact_replay`` selects the bit-reproducible sequential-fold
    refinement used only by the ``knn_ivf`` oracle query (see
    :func:`ivf_assignments`).
    """
    centroids, assignments = ivf_assignments(
        embeddings, id_col, vec_col, n_lists, refine_iters, exact_replay,
        assign_impl, n_vectors,
    )
    return ivf_probe(centroids, assignments, queries, k, id_col, vec_col, n_probe)


def probe_lists(
    centroids: DataFrame,
    queries: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The probe-selection half of IVF serving, shared by
    :func:`ivf_probe` (cosine ranking) and the IVFPQ composition
    (operators/pq.py ivfpq_topk, ADC ranking): each query's
    ``n_probe`` nearest lists by centroid cosine, ties to the smaller
    list_id — ``(query_id, __qv, __qn, list_id)`` with the query
    vector (and its norm, computed once here rather than once per
    candidate pair downstream) kept as doubles for the ranking stage.
    The centroid set is broadcast (n_lists ~ √n rows); the window
    ranks n_lists rows per query, never corpus rows."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    q_scored = q.join(F.broadcast(centroids)).select(
        "query_id",
        "__qv",
        "__qn",
        "list_id",
        (_dot(F.col("__qv"), F.col("centroid")) / (F.col("__qn") * F.col("__cn"))).alias(
            "__cos"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), "list_id")
    return (
        q_scored.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select("query_id", "__qv", "__qn", "list_id")
    )


def ivf_probe(
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    where: Column | None = None,
) -> DataFrame:
    """Probe a (pre)built IVF index — the serving half of ivf_topk,
    usable against an index loaded from disk (:func:`load_ivf_index`):
    the index is built ONCE per corpus generation and probed by every
    query batch after, instead of re-clustering per call.

    ``where`` is the metadata-filtered-search seam: a predicate over
    the ASSIGNMENTS table's columns (source / license / date — persist
    them beside the lists via ``save_ivf_index(meta_cols=...)``),
    applied BEFORE the candidate join, so the result is the exact
    top-k among matching vectors in the probed lists. Pre-filter
    beats post-filter on both axes that matter at scale: no candidate
    scoring is wasted on excluded vectors, and a selective filter
    cannot silently shrink the result below k the way filtering an
    already-truncated top-k would (the classic post-filter recall
    bug). On a disk-resident index the predicate additionally pushes
    into the Parquet scan (PushedFilters — plan-asserted in
    tests/test_ivf.py), so excluded row groups never leave storage.
    What filtering cannot change is which lists are probed: a filter
    whose matches live outside the ``n_probe`` nearest lists still
    misses them — the standard filtered-IVF trade; raise ``n_probe``
    as filter selectivity rises (the recall ladder is pinned in
    tests/test_ivf.py)."""
    if where is not None:
        assignments = assignments.filter(where)
    probes = probe_lists(
        centroids, queries, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    )
    # Per-ROW norms, not per-pair: the query norm rides on the probe
    # frame (probe_lists computes it anyway) and the candidate norm is
    # computed once per assignment row BEFORE the fan-out join — the
    # same fold over the same doubles, evaluated candidates-many fewer
    # times (previously both _norm folds re-ran inside every pair's
    # projection; bit-identical by construction).
    cands = assignments.withColumnRenamed(id_col, "neighbor_id").withColumn(
        "__n", _norm(F.col("__vec"))
    )
    pairs = (
        F.broadcast(probes)
        .join(cands, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qv"), F.col("__vec"))
                / (F.col("__qn") * F.col("__n"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine"
        )
    )


def recall_vs_exact(approx_topk: DataFrame, exact_topk: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k against the exact one —
    the index-tuning measurement every ANN deployment runs before
    pinning ``n_lists``/``n_probe``/plane counts (recall@k against
    served cost; the recall LADDER, its monotone version, is what
    tests/test_ivf.py pins qualitatively — this operator turns it into
    a served, per-query report).

    Both inputs are the ``(query_id, neighbor_id, rank, cosine)``
    frame that :func:`brute_force_topk` / :func:`ivf_topk` /
    :func:`ivf_probe` / :func:`lsh_topk` all emit, so any approximate
    path plugs in unchanged. Output: one row per query present in
    ``exact_topk`` — ``(query_id, hits, exact_k, recall)`` where
    ``exact_k`` is that query's exact-neighbor count (``min(k,
    corpus-1)``), so a short result set near a tiny corpus does not
    deflate recall, and ``recall = hits / exact_k`` (an int/int IEEE
    division — both engines produce the identical double).

    Scale: joins two ≤k-row-per-query frames on (query_id,
    neighbor_id) — O(|queries| × k), independent of corpus size. In
    production the exact side is the expensive leg, so the audit runs
    over a SAMPLED query panel (hash_split of the query log) while the
    index serves the full corpus; the measurement plan itself never
    touches the corpus.
    """
    hit = approx_topk.select("query_id", "neighbor_id").withColumn(
        "__hit", F.lit(1)
    )
    per = (
        exact_topk.select("query_id", "neighbor_id")
        .join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("hits"),
            F.count(F.lit(1)).cast("long").alias("exact_k"),
        )
    )
    return per.select(
        "query_id",
        "hits",
        "exact_k",
        (F.col("hits").cast("double") / F.col("exact_k")).alias("recall"),
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Candidates = vectors sharing the query's bucket, plus (multiprobe)
    all buckets at Hamming distance 1 — recall rises with probes at
    linear extra cost. Output schema matches brute_force_topk.

    Scale: bucketing is one linear pass; the join shuffles on bucket
    id, so cost ~ corpus/2^n_planes per query instead of corpus.
    """
    # norms are per-ROW columns (not re-folded inside every pair's
    # cosine projection — same doubles, candidates-many fewer folds)
    emb = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__v")
        )
        .withColumn("__bucket", _hyperplane_sign_bits(F.col("__v"), dim, n_planes))
        .withColumn("__n", _norm(F.col("__v")))
    )
    qrs = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
        )
        .withColumn("__qbucket", _hyperplane_sign_bits(F.col("__qv"), dim, n_planes))
        .withColumn("__qn", _norm(F.col("__qv")))
    )

    if multiprobe:
        probes = F.array(
            F.col("__qbucket"),
            *[
                F.col("__qbucket").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
    else:
        probes = F.array(F.col("__qbucket"))
    probed = qrs.select(
        "query_id", "__qv", "__qn", F.explode(probes).alias("__bucket")
    )

    pairs = (
        F.broadcast(probed)
        .join(emb, "__bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qv"), F.col("__v"))
                / (F.col("__qn") * F.col("__n"))
            ).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = 8,
    threshold: float = 0.95,
    refine_iters: int = 0,
    exact_replay: bool = False,
    assign_impl: str | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embedding corpus, then prune
    within-cluster pairs whose cosine similarity reaches ``threshold``
    — the published recipe for dropping *semantic* duplicates (same
    content, different surface form) that no text-hash dedup can see.

    Clustering reuses the IVF index (:func:`ivf_assignments` — the
    deterministic sampled-centroid pick plus optional Lloyd
    refinement), so the quadratic pair scan is confined to single
    clusters: with ``n_lists=None`` (√n lists) expected pair work is
    n^1.5 instead of n^2, and each cluster's pairs co-locate under one
    shuffle key. Smaller-id-wins pruning, same convention as every
    dedup operator here; violations-as-data — every input id comes
    back with a status instead of silently vanishing.

    Output: ``(id, list_id, status)`` with status in
    {'kept', 'semantic_dup'}.

    ``assign_impl=None`` (the default) sizes the assignment
    implementation by the corpus — ``"arrow_exact"`` (the sequential
    Arrow kernel, bit-identical to the expression fold the oracle
    replays) below 1e5 vectors, ``"arrow"`` (BLAS-batched, ~8x cheaper
    at 200k vectors, equality-tested on tie-free data) at or above —
    the same operator-side count-gate policy as
    ``simhash_pairs(band_chunks=None)`` and ``n_lists=None``, so
    production callers inherit the right default instead of mirroring
    a bench-side switch. The gate costs one count() action on the raw
    input scan (metadata-near on parquet); pass ``n_vectors`` to skip
    it when the cardinality is already known, or pin ``assign_impl``
    explicitly (oracle-pinned callers pin ``"arrow_exact"`` so the
    gate can never pick BLAS).
    """
    if assign_impl is None:
        if n_vectors is None:
            n_vectors = embeddings.count()
        assign_impl = "arrow" if n_vectors >= 100_000 else "arrow_exact"
    _, assignments = ivf_assignments(
        embeddings, id_col, vec_col, n_lists, refine_iters, exact_replay,
        assign_impl, n_vectors,
    )
    withn = assignments.withColumn("__n", _norm(F.col("__vec")))
    l = withn.select(
        F.col(id_col).alias("__id1"), "list_id",
        F.col("__vec").alias("__v1"), F.col("__n").alias("__n1"),
    )
    r = withn.select(
        F.col(id_col).alias("__id2"), "list_id",
        F.col("__vec").alias("__v2"), F.col("__n").alias("__n2"),
    )
    dup_ids = (
        l.join(r, "list_id")
        .filter(F.col("__id1") < F.col("__id2"))
        .filter(
            _dot(F.col("__v1"), F.col("__v2")) / (F.col("__n1") * F.col("__n2"))
            >= F.lit(threshold)
        )
        .select(F.col("__id2").alias(id_col))
        .distinct()
    )
    return (
        assignments.join(
            dup_ids.withColumn("__dup", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "list_id",
            F.when(F.col("__dup"), "semantic_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


def save_ivf_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    refine_iters: int = 1,
    assign_impl: str = "arrow_exact",
    meta_cols: Sequence[str] = (),
) -> None:
    """Build the IVF index and persist it as two Parquet datasets:
    ``centroids/`` (n_lists rows) and ``assignments/`` (one row per
    vector, repartitioned on list_id so each inverted list is
    physically co-located — a probe's candidate join then shuffles
    only the query side). Defaults are the SCALE settings (sqrt-n
    lists, one Lloyd refinement, parallel per-dimension means, and the
    bit-exact ``assign_impl="arrow_exact"`` kernel, which oracle-pinned
    and replay-exact builds need); pass ``assign_impl="arrow"`` for
    corpora past ~1e5 vectors (BLAS-batched assignment —
    assignment-equivalent on tie-free data, but last-ulp cosine drift
    vs the exact fold is possible — see ivf_assignments).

    ``meta_cols`` persists vector METADATA (source / license / date)
    beside each assignment row, which is what makes filtered serving
    (``ivf_probe(where=...)``) a pure scan-side predicate instead of
    an extra join at query time: the columns ride the one build-time
    join here (broadcast-irrelevant — it is id-equi against the very
    table being indexed) and then every probe filters them with
    Parquet pushdown, row-group stats included."""
    centroids, assignments = ivf_assignments(
        embeddings, id_col, vec_col, n_lists, refine_iters,
        assign_impl=assign_impl,
    )
    if meta_cols:
        assignments = assignments.join(
            embeddings.select(id_col, *meta_cols), id_col
        )
    base = path.rstrip("/")
    centroids.write.mode("overwrite").parquet(f"{base}/centroids")
    assignments.repartition("list_id").write.mode("overwrite").parquet(
        f"{base}/assignments"
    )


def ivf_append_delta(
    spark,
    path: str,
    new_vectors: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Incremental IVF maintenance: index a NEW vector batch into a
    saved index (:func:`save_ivf_index`) without rebuilding — assign
    only the batch against the FROZEN persisted centroids and publish
    it as its OWN ``delta-<batch_id>`` directory with an atomic marker
    (sources/commit.py).  O(batch * n_lists) work; the corpus already
    indexed is never touched.  Idempotent under at-least-once replay
    (committed marker, or batch id at or below the assignments'
    ``_FOLDED`` high-water => no-op); a crash mid-write leaves an
    uncommitted, replay-overwritten directory.  Returns True iff newly
    committed.

    Centroids are deliberately NOT re-trained per batch (standard IVF
    serving practice: probes must keep matching the lists existing
    vectors were filed under; re-cluster offline when list-size skew
    accumulates — skew is observable from the assignments table).
    Ids are append-only; the caller dedups a batch that may re-deliver
    already-indexed ids (e.g. via the merge layer) before appending.

    If the index was saved with ``meta_cols`` (filtered-serving
    metadata beside each assignment row), the batch MUST carry those
    columns too: they are joined into the delta so a later
    ``ivf_probe(where=...)`` sees streamed vectors exactly like
    built ones.  A batch missing a persisted metadata column raises —
    silently writing NULL metadata would make every filtered probe
    drop the streamed rows (ADVICE r11)."""
    base = path.rstrip("/")
    assign_dir = f"{base}/assignments"
    fs, HPath = hadoop_fs(spark, base)
    # self-heal an interrupted compact swap before consulting the
    # _FOLDED high-water: with assignments/ missing the high-water
    # reads -1 and replayed, already-folded batches would re-commit
    recover_swap(fs, HPath, assign_dir)

    def write(delta: str) -> None:
        cents = spark.read.parquet(f"{base}/centroids")
        assigned = assign_to_centroids(new_vectors, cents, id_col, vec_col)
        persisted_cols = spark.read.parquet(assign_dir).columns
        extra = [c for c in persisted_cols if c not in assigned.columns]
        if extra:
            missing = [c for c in extra if c not in new_vectors.columns]
            if missing:
                raise ValueError(
                    f"index at {base} persists metadata columns {extra} "
                    f"but the batch lacks {missing}; filtered serving "
                    "(ivf_probe where=...) would silently drop every "
                    "streamed row written with NULL metadata"
                )
            assigned = assigned.join(
                new_vectors.select(id_col, *extra), id_col
            )
        assigned.select(*persisted_cols).repartition(
            "list_id"
        ).write.mode("overwrite").parquet(delta)

    return IVF_DELTAS.append(fs, HPath, base, assign_dir, batch_id, write)


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) for :func:`ivf_probe` — assignments
    are the base dataset UNIONed with every committed streaming delta
    (:func:`ivf_append_delta`) not yet folded by
    :func:`compact_ivf_index`; uncommitted delta directories are
    invisible by construction.

    Self-heals an interrupted :func:`compact_ivf_index` swap first
    (live renamed aside, crash before staging promoted), so a reader
    arriving after a compactor crash sees the newest complete
    assignments instead of a missing-directory error."""
    base = path.rstrip("/")
    assign_dir = f"{base}/assignments"
    fs, HPath = hadoop_fs(spark, base)
    recover_swap(fs, HPath, assign_dir)
    return (
        spark.read.parquet(f"{base}/centroids"),
        spark.read.parquet(*IVF_DELTAS.read_paths(fs, HPath, base, assign_dir)),
    )


def compact_ivf_index(spark, path: str) -> dict:
    """Fold committed streaming deltas back into ONE list-clustered
    assignments dataset: base + unfolded deltas, repartitioned on
    ``list_id`` (each inverted list physically co-located again, the
    save_ivf_index layout), promoted by the crash-safe staging swap
    with the new ``_FOLDED`` high-water inside; folded deltas are then
    garbage-collected (sources/commit.py ``DeltaLog.fold_by_swap``).
    Returns {"rows", "deltas_folded", "high_water"}."""
    base = path.rstrip("/")
    return IVF_DELTAS.fold_by_swap(
        spark, base, f"{base}/assignments",
        layout=lambda df: df.repartition("list_id"),
    )


def max_cosine_vs_eval(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eval_vectors: list[list[float]],
    max_eval: int = 32_768,
) -> DataFrame:
    """Max cosine of every corpus vector against a MODEL-SIZED eval
    set, as a map-only scan (semantic decontamination: Lee et al.
    "Deduplicating Training Data", benchmark-leak variant).

    BREAKING (r9): the ``max_eval`` default tightened 100_000 ->
    32_768 — the largest size the folded-literal plan has been
    validated at (dim 32). Callers with 32k-100k eval sets that relied
    on the old default now raise ValueError; pass
    ``max_eval=100_000`` explicitly to opt back into the unvalidated
    range (plan payload and per-row cost both scale linearly — see
    the scaling paragraph below).

    The eval set travels as ONE array literal — built via
    ``from_json`` of a JSON string literal, which Catalyst
    CONSTANT-FOLDS at optimization time (verified absent from the
    optimized plan), so the expression TREE is O(1) regardless of
    eval size and the plan has ZERO exchanges: at 100 TB this is a
    single pass over the corpus, embarrassingly parallel. The JSON
    hop is exact: ``json.dumps`` emits shortest-roundtrip doubles and
    Jackson parses correctly-rounded, so the folded literal holds the
    identical bits. (The r8 version inlined eval_count * dim literal
    nodes and chained an eval_count-ary greatest — Catalyst planning
    fell over around 8k x 32 and ``F.lit`` itself pays one py4j call
    per element; the folded-literal form builds in ~1s and runs
    linearly at 32k x 32, measured: 2000 corpus rows in 41s.)

    What still scales with the eval set is the literal's VALUE
    (~8 * n * dim bytes serialized with every task's plan) and the
    per-row compute (n * dim interpreted multiply-adds); ``max_eval``
    bounds that — the 32k default is the validated size at dim 32,
    and a 768-dim/32k set is a ~200 MB plan payload a caller must
    opt into explicitly. Past it, use the IVF/LSH join paths for
    corpus-vs-corpus scale.

    Returns ``(id_col, eval_cos_max)`` with the max cosine in double
    precision (un-rounded; callers round at the comparison seam) —
    bit-identical per pair to the r8 greatest() form (same dot/norm
    arithmetic; max over doubles is order-independent; equality
    verified against the r8 expression on random data).
    """
    if len(eval_vectors) > max_eval:
        raise ValueError(
            f"eval set has {len(eval_vectors)} vectors (> {max_eval}); "
            "inlined scan is for model-sized eval sets — use ivf_topk"
        )
    if not eval_vectors:
        raise ValueError("eval set is empty")
    import json
    import math

    from palegislature_spark.functions.expr_util import let

    vecs = [[float(v) for v in vec] for vec in eval_vectors]
    # norms in python (fsum — exact pairwise-safe accumulation),
    # embedded through the same folded-literal hop as the vectors,
    # exactly the doubles the r8 per-vector F.lit(norm_e) scalars were
    norms = [math.sqrt(math.fsum(v * v for v in vec)) for vec in vecs]
    evals_lit = F.from_json(F.lit(json.dumps(vecs)), "array<array<double>>")
    norms_lit = F.from_json(F.lit(json.dumps(norms)), "array<double>")

    def cos_max(x: Column) -> Column:
        def per_eval(nx: Column):
            return F.array_max(
                F.transform(
                    evals_lit,
                    lambda e, i: _dot(x, e)
                    / (nx * F.element_at(norms_lit, (i + F.lit(1)).cast("int"))),
                )
            )

        return let(_norm(x), per_eval)

    return df.select(
        F.col(id_col), let(_as_double(vec_col), cos_max).alias("eval_cos_max")
    )


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to FIXED centroids — the exact argmax-cosine /
    list_id tie-break the index build uses — returning rows in the
    assignments schema ``(id_col, list_id, __vec)``.

    Runs the bit-identical Arrow kernel (:func:`_assign_exact_arrow` —
    dimension-sequential folds, first-max tie-break), O(batch *
    n_lists) scores against the collected index-sized centroid set.
    Its expression twin (broadcast centroid attach + argmax window) is
    ``assign_to_centroids_expr`` in tests/reference_impls.py, pinned
    in tests/test_ivf.py.
    """
    vecs = vectors.select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
    )
    out = _assign_exact_arrow(centroids, vecs, "__id", "__v", "__id", "__vec")
    return out.select(F.col("__id").alias(id_col), "list_id", "__vec")
