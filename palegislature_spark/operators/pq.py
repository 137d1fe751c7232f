"""Product quantization (PQ): codebook build, encode, ADC top-k serve.

The memory-side of the ANN family (reference scope: the similarity /
dedup extension families beside operators/similarity.py): IVF prunes
WHICH vectors a query touches; PQ shrinks WHAT each touched vector
costs — a 64-dim float64 vector (512 B) becomes ``m`` small codes
(4 B at m=4), and query-time distance is ``m`` table lookups instead
of a 64-wide dot product.  At 100 TB the corpus' PQ codes fit in a
fraction of the footprint (64x here), which is what makes
billion-vector serving memory-resident; :func:`ivfpq_topk` composes
the two into the standard IVFPQ layout — lists bound the candidate
set, codes bound per-candidate cost.

Design for the oracle (same discipline as ``ivf_assignments``):

* **codebooks** — per subspace, the ``k`` sub-vectors of the corpus
  vectors with the smallest shared multiplicative hash of the id
  (``_mix31``), i.e. the IVF-flat sampled-point construction sliced
  per subspace.  Deterministic, no stored model, and the DuckDB twin
  replays the identical pick in SQL.
* **encode** — the tiny codebook (m*k sub-vectors) is collected once
  and every corpus vector is encoded by one Arrow-batched numpy pass:
  per subspace, argmin of the in-order-folded squared L2 distance,
  first-minimum tie-break (= smallest code id).  Zero shuffles, zero
  explodes; the folds are bit-equal to the SQL twin's.
* **ADC serve** — per query, the (sub_id, code_id) -> squared-L2
  table is equi-joined (broadcast) to the exploded corpus codes, and
  the approximate distance is the SUB-ID-ORDERED fold of the m table
  entries — bit-reproducible, so the SQL twin replays ranking
  exactly (the ``exact_replay`` idiom).

Scale notes: the codebook is O(m*k*dim) — constant-sized, broadcast.
Encode is one pass over the corpus.  Serve shuffles (query_id,
neighbor_id, sub_id) rows: q * n * m, linear in corpus size with a
bounded query batch, each row carrying scalars; map-side combine
applies.  IVFPQ composition replaces n with n * n_probe / n_lists.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.operators.kernels import map_batches
from palegislature_spark.operators.similarity import (
    _as_double,
    _dot,
    _mix31_col,
    _norm,
    probe_lists,
)
from palegislature_spark.sources.commit import PQ_DELTAS, hadoop_fs, recover_swap


def _sq_l2(a, b):
    """In-order fold of the squared-L2 distance between two equal-length
    arrays — ((0+d1)+d2)+... so DuckDB's list_reduce over the same
    squared-diff list reproduces it bit-for-bit (0.0+x == x in IEEE)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebooks(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
) -> DataFrame:
    """Per-subspace codebooks: (sub_id, code_id, cvec).

    ``sub_id`` in [0, m); ``code_id`` in [1, k] is the rank of the
    picked vector's id — the same deterministic smallest-mix31 pick as
    ``ivf_assignments``, sliced into m contiguous sub-vectors.  The
    result is m*k rows of dim/m doubles: constant-sized however large
    the corpus, so every consumer broadcasts or collects it.
    """
    picked = (
        embeddings.select(
            F.col(id_col).alias("__cid"), _as_double(vec_col).alias("__cv")
        )
        .withColumn("__rk", _mix31_col(F.col("__cid")))
        .orderBy("__rk", "__cid")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("__cid")).alias("code_id"),
            F.col("__cv").alias("__cv"),
        )
    )
    sub_dim = F.floor(F.size("__cv") / m).cast("int")
    return picked.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
        "code_id",
        "__cv",
    ).select(
        "sub_id",
        "code_id",
        F.slice(
            F.col("__cv"), F.col("sub_id") * sub_dim + F.lit(1), sub_dim
        ).alias("cvec"),
    )


def _codebook_literal(codebooks: DataFrame):
    """Collect the (constant-sized) codebooks and constant-fold them into
    one ``from_json`` literal column ``array<array<array<double>>>``
    indexed [sub_id][code_id-1][dim] — the ``max_cosine_vs_eval``
    literal-folding seam, so encode plans carry ONE folded constant
    instead of m*k*dim expression nodes.

    The collect is memoized ON the codebooks frame: every PQ query
    passes the same ``pq_codebooks`` handle to both the encode and the
    serve operator, and each used to pay its own full-corpus
    smallest-mix31 pick job at plan-build time (two driver jobs per
    query for one constant — guide §1.2 step 1, don't compute things
    twice).  The memo lives on the DataFrame object, so a different
    codebooks frame can never see a stale literal."""
    cached = getattr(codebooks, "_pq_cb_literal", None)
    if cached is not None:
        return cached
    rows = codebooks.select("sub_id", "code_id", "cvec").collect()
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(r["sub_id"], {})[r["code_id"]] = list(r["cvec"])
    m = len(by_sub)
    nested = [
        [by_sub[j][c] for c in sorted(by_sub[j])] for j in sorted(by_sub)
    ]
    lit = F.from_json(
        F.lit(json.dumps(nested)), "array<array<array<double>>>"
    )
    result = (lit, m, len(nested[0]) if nested else 0)
    try:
        codebooks._pq_cb_literal = result
        codebooks._pq_cb_nested = nested
    except AttributeError:
        pass
    return result


def _codebook_nested(codebooks: DataFrame):
    """The collected codebook as plain nested Python lists
    ``[sub_id][code_id-1][dim]`` — the same one collect (and memo)
    :func:`_codebook_literal` pays, exposed for the Arrow encode
    kernel so both paths read the IDENTICAL doubles."""
    nested = getattr(codebooks, "_pq_cb_nested", None)
    if nested is None:
        _codebook_literal(codebooks)
        nested = getattr(codebooks, "_pq_cb_nested", None)
    if nested is None:  # frame refused the attribute stash
        rows = codebooks.select("sub_id", "code_id", "cvec").collect()
        by_sub: dict[int, dict[int, list[float]]] = {}
        for r in rows:
            by_sub.setdefault(r["sub_id"], {})[r["code_id"]] = list(r["cvec"])
        nested = [
            [by_sub[j][c] for c in sorted(by_sub[j])] for j in sorted(by_sub)
        ]
    return nested


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as its m nearest sub-centroid codes:
    (id_col, codes array<int>) with codes[j] the code_id whose
    subspace-j centroid minimizes in-order-folded squared L2
    (first-minimum tie-break = smallest code_id).

    One linear pass of an Arrow-batched numpy kernel.  The distance
    accumulator runs dimension-SEQUENTIALLY (``acc += (v_i - c_i)^2``
    one dimension at a time, vectorized across the rows of the batch),
    so every per-code distance is the SAME left-folded IEEE sum
    ``_sq_l2`` computes — the multimodal-codec discipline (same ops,
    same order, across rows instead of down them), NOT the BLAS
    re-association the ``assign_arrow`` docstring warns about.
    ``np.argmin`` ties to the first minimum = smallest code_id,
    matching ``array_position(dists, array_min(dists))``.  The
    expression twin (codebook as a folded literal, HOF fold per code —
    ~m*k interpreted folds per row, measured ~0.6 ms/row at m=4, k=16,
    dim=64) is ``pq_encode_expr`` in tests/reference_impls.py, which
    pins the codes bit-for-bit (tests/test_pq.py).

    This is the compression step — dim doubles -> m small ints per
    vector (64x at dim=64, m=4).
    """
    import numpy as np
    from pyspark.sql import types as T

    nested = _codebook_nested(codebooks)
    m = len(nested)
    src = embeddings.select(F.col(id_col), _as_double(vec_col).alias("__v"))
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("codes", T.ArrayType(T.IntegerType()), False),
        ]
    )
    C = [np.asarray(sub, dtype=np.float64) for sub in nested]  # [m](k, sd)

    def batch(pdf):
        V = np.array(pdf["__v"].tolist(), dtype=np.float64)
        sd = V.shape[1] // m
        cols = []
        for j in range(m):
            sv = V[:, j * sd : (j + 1) * sd]
            k = C[j].shape[0]
            dists = np.empty((len(V), k), dtype=np.float64)
            for c in range(k):
                acc = np.zeros(len(V), dtype=np.float64)
                cvec = C[j][c]
                # dimension-SEQUENTIAL accumulation: identical rounding
                # order to the expression fold
                for i in range(sd):
                    t = sv[:, i] - cvec[i]
                    acc += t * t
                dists[:, c] = acc
            cols.append((np.argmin(dists, axis=1) + 1).astype("int32"))
        return {id_col: pdf[id_col], "codes": list(np.stack(cols, axis=1))}

    return map_batches(src, (id_col, "__v"), out_schema, batch)


def pq_adc_topk(
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: rank corpus CODES against exact query
    sub-vectors — (query_id, neighbor_id, rank, adc_dist), rank 1 =
    smallest approximate squared L2, ties to the smaller neighbor_id.

    The per-query distance table (m arrays of k squared-L2 entries
    between the query's subspace slice and each sub-centroid) rides as
    ONE nested array column on a broadcast query-batch-sized frame;
    the ADC distance is m direct element_at lookups into it, folded in
    sub_id order (bit-reproducible for the SQL twin).  Per-query cost
    is m lookups per corpus vector — never a dim-wide dot product
    against raw vectors, never an explode: the corpus side stays one
    row per (query, neighbor), so no (sub, code) equi-join and no
    per-pair collect_list aggregation exist in the plan.
    """
    cb, m, _ = _codebook_literal(codebooks)
    qd = _adc_query_dtab(cb, m, queries, id_col, vec_col)
    pairs = (
        codes.select(F.col(id_col).alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(qd))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _adc_rank(pairs, m, k)


def _adc_query_dtab(cb, m: int, queries: DataFrame, id_col: str, vec_col: str):
    """Per-query nested distance table ``__dtab[sub_id][code_id-1]`` —
    m arrays of k exact squared-L2 entries between the query's
    subspace slice and each sub-centroid, ONE row per query (always
    broadcast).  Each entry is the SAME ``_sq_l2(slice, cvec)``
    expression the exploded (sub_id, code_id) table used to carry, so
    every looked-up double is bit-identical to the old equi-join's."""
    v = _as_double(vec_col)
    sub_dim = F.floor(F.size(v) / m).cast("int")

    def sub_dists(j):
        sv = F.slice(v, F.lit(j) * sub_dim + F.lit(1), sub_dim)
        return F.transform(cb[j], lambda c: _sq_l2(sv, c))

    return queries.select(
        F.col(id_col).alias("query_id"),
        F.array(*[sub_dists(j) for j in range(m)]).alias("__dtab"),
    )


def _adc_rank(pairs: DataFrame, m: int, k: int) -> DataFrame:
    """Fold the m per-subspace table lookups into the ADC distance —
    an explicit sub_id-ordered left fold ``(((0.0+d0)+d1)+...)``, the
    same addition order the SQL twin replays bit for bit — and rank
    per query (ties to the smaller neighbor_id).  ``pairs`` carries
    (query_id, neighbor_id, codes, __dtab): one row per pair, the m
    distances read by direct element_at, so no aggregation happens."""
    d = F.lit(0.0)
    for j in range(m):
        d = d + F.element_at(
            F.col("__dtab").getItem(j), F.col("codes").getItem(j)
        )
    folded = pairs.select("query_id", "neighbor_id", d.alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), "neighbor_id"
    )
    return (
        folded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "adc_dist",
        )
    )


def ivfpq_topk(
    centroids: DataFrame,
    assignments: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ: the standard billion-vector serving layout this module's
    header promises — IVF lists bound WHICH vectors a query touches
    (``probe_lists``: n_probe nearest lists by centroid cosine), PQ
    codes bound what each touched vector COSTS (``m`` table lookups
    via the broadcast per-query distance table, never a dim-wide dot
    product).  Output is the ADC top-k over the probed lists:
    (query_id, neighbor_id, rank, adc_dist), rank 1 = smallest
    approximate squared L2, ties to the smaller neighbor_id.

    Every stage is the deterministic construction its standalone twin
    uses (ivf_assignments centroids, pq_codebooks / pq_encode codes,
    sub-id-ordered ADC fold), so the DuckDB oracle replays the full
    composition exactly — candidate pruning AND ranking.

    Scale: per query the candidate set is ~n * n_probe / n_lists ids
    (√n-sized at the sqrt-lists configuration) instead of the whole
    corpus, and each candidate costs m matched scalars in the fold;
    the two broadcasts (probes, query distance table) are
    query-batch-sized.  The raw-vector assignments table is touched
    only for its (id, list_id) pairs — ADC never reads ``__vec``, so
    a disk-resident index serves this from the codes file plus the
    narrow list map (column pruning reaches the Parquet scan)."""
    probes = probe_lists(
        centroids, queries, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    ).select("query_id", "list_id")
    cand = (
        F.broadcast(probes)
        .join(
            assignments.select(
                F.col(id_col).alias("neighbor_id"), "list_id"
            ),
            "list_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    cb, m, _ = _codebook_literal(codebooks)
    qd = _adc_query_dtab(cb, m, queries, id_col, vec_col)
    pairs = cand.join(
        codes.select(F.col(id_col).alias("neighbor_id"), "codes"),
        "neighbor_id",
    ).join(F.broadcast(qd), "query_id")
    return _adc_rank(pairs, m, k)


def ivfpq_refine(
    centroids: DataFrame,
    assignments: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage IVFPQ serving: ADC shortlist, then EXACT re-rank.

    The standard production refinement on top of :func:`ivfpq_topk`
    (coarse quantizer prunes lists, ADC prunes candidates, exact
    distances decide the final order): stage 1 takes the ADC top-
    ``shortlist`` per query (an over-fetch of the target ``k``, e.g.
    4x), stage 2 joins ONLY those ids back to the raw vectors and
    ranks them by exact cosine.  Output is the usual
    ``(query_id, neighbor_id, rank, cosine)`` frame (rank 1 = highest
    exact cosine, ties to the smaller neighbor_id), so
    :func:`~palegislature_spark.operators.similarity.recall_vs_exact`
    plugs in unchanged.

    Why this shape at 100 TB: ADC's compression error reorders
    near-ties (measured by ann_pq_recall), but it rarely drops a true
    neighbor out of a 4x shortlist — so the expensive dim-wide exact
    distance is paid for q * shortlist rows ONLY, while the corpus is
    touched through codes + the narrow list map.  The re-rank join
    broadcasts the q * shortlist id set against the raw-vector table
    (one id-equi hash join; the scan prunes to id + vector columns),
    and the query vectors ride a second query-batch-sized broadcast.

    Every stage is the deterministic construction of its standalone
    twin, so the DuckDB oracle (queries/vectors.py
    _IVFPQ_REFINE_ORACLE) replays pruning, shortlist, AND re-rank
    exactly."""
    short = ivfpq_topk(
        centroids, assignments, codebooks, codes, queries,
        k=shortlist, n_probe=n_probe, id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__nv")
    ).withColumn("__nn", _norm(F.col("__nv")))
    rer = (
        F.broadcast(short)
        .join(e, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qv"), F.col("__nv"))
                / (F.col("__qn") * F.col("__nn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "cosine",
        )
    )


# --------------------------------------------------------------------------
# Persisted PQ codes lifecycle: save -> encode-delta xN -> compact
#
# The streaming-freshness leg of IVFPQ serving (VERDICT r11 #1): the
# IVF side already ingests per-window deltas (similarity.ivf_append_delta),
# but ivfpq_topk ranks through the CODES table — without a codes delta a
# streamed vector is probe-reachable yet un-rankable, so ADC serving
# silently goes stale the moment a window commits.  The codes family
# runs the same sources/commit.py delta log as the IVF and MinHash
# indexes (commit.PQ_DELTAS).
# --------------------------------------------------------------------------


def save_pq_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
) -> None:
    """Build PQ codebooks + codes and persist them as two Parquet
    datasets under ``path``: ``codebooks/`` (m*k rows, the frozen
    model every later encode uses) and ``codes/`` (one narrow row per
    vector).  Point ``path`` at the same base as
    :func:`~palegislature_spark.operators.similarity.save_ivf_index`
    and the directory is a complete disk-resident IVFPQ index —
    centroids + assignments bound WHICH vectors a probe touches,
    codebooks + codes bound what each touched vector COSTS."""
    cb = pq_codebooks(embeddings, id_col, vec_col, m, k)
    codes = pq_encode(embeddings, cb, id_col, vec_col)
    base = path.rstrip("/")
    cb.write.mode("overwrite").parquet(f"{base}/codebooks")
    codes.write.mode("overwrite").parquet(f"{base}/codes")


def pq_encode_delta(
    spark,
    path: str,
    new_vectors: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Streaming-grade incremental encode: PQ-encode the micro-batch
    against the FROZEN persisted codebooks (codebooks are a model, the
    frozen-centroid rule of ``ivf_append_delta`` applied to PQ — ADC
    tables must keep matching the codes existing vectors were written
    with) and publish it as its own ``codes-delta-<batch_id>``
    directory with an atomic marker.  Idempotent under at-least-once
    replay (committed marker, or batch id at or below the codes
    dataset's ``_FOLDED`` high-water => no-op); a crash mid-write
    leaves an uncommitted, replay-overwritten directory.  Returns True
    iff newly committed.  O(batch * m * k) encode work — the one
    linear whole-stage-codegen pass of :func:`pq_encode`."""
    base = path.rstrip("/")
    codes_dir = f"{base}/codes"
    fs, HPath = hadoop_fs(spark, base)
    recover_swap(fs, HPath, codes_dir)

    def write(delta: str) -> None:
        cb = spark.read.parquet(f"{base}/codebooks")
        pq_encode(new_vectors, cb, id_col, vec_col).write.mode(
            "overwrite"
        ).parquet(delta)

    return PQ_DELTAS.append(fs, HPath, base, codes_dir, batch_id, write)


def load_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(codebooks, codes) for :func:`pq_adc_topk` / :func:`ivfpq_topk`
    — codes are the base dataset UNIONed with every committed
    streaming delta (:func:`pq_encode_delta`) not yet folded by
    :func:`compact_pq_codes`; uncommitted delta directories are
    invisible by construction.  Self-heals an interrupted compact swap
    on entry, the load_ivf_index discipline."""
    base = path.rstrip("/")
    codes_dir = f"{base}/codes"
    fs, HPath = hadoop_fs(spark, base)
    recover_swap(fs, HPath, codes_dir)
    return (
        spark.read.parquet(f"{base}/codebooks"),
        spark.read.parquet(*PQ_DELTAS.read_paths(fs, HPath, base, codes_dir)),
    )


def compact_pq_codes(spark, path: str) -> dict:
    """Fold committed codes deltas back into ONE codes dataset with
    the crash-safe staging swap and GC them (sources/commit.py
    ``DeltaLog.fold_by_swap``).  Returns {"rows", "deltas_folded",
    "high_water"}."""
    base = path.rstrip("/")
    return PQ_DELTAS.fold_by_swap(spark, base, f"{base}/codes")
