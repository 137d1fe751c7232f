"""Similarity-search queries over the embeddings table.

Brute-force exact cosine top-k is the oracle-checked baseline; the
LSH-bucketed variant is the scale path (rows-only check — approximate
by construction, its recall is asserted in tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from palegislature_spark.catalog import load
from palegislature_spark.operators import similarity
from palegislature_spark.operators.similarity import plane_sign
from palegislature_spark.queries.registry import register

# Cosine in double precision on both engines; 6dp rounding absorbs
# float-associativity drift without masking real mismatches.
_COS = "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"

# The LSH hyperplanes are ±1 vectors from the shared multiplicative
# hash (operators/similarity.py), so the exact plane matrix embeds as
# SQL literals — which is what turns the "approximate" LSH query into a
# deterministic, fully-oracle-checkable one.
_DIM, _N_PLANES = 64, 4
_PLANES_VALUES = ",\n  ".join(
    "({p}, CAST([{c}] AS DOUBLE[]))".format(
        p=p,
        c=", ".join(f"{plane_sign(p, i, _DIM)}.0" for i in range(_DIM)),
    )
    for p in range(_N_PLANES)
)


@register(
    "knn_bruteforce",
    covers="similarity-search extension: exact cosine top-k (query set vs corpus)",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
""",
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 20 vectors.

    Scale: the query side broadcasts; corpus scan is one pass; rank is
    a per-query window. At 100 TB the same plan works with a bounded
    query batch; unbounded all-pairs goes through lsh_topk instead.
    """
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = similarity.brute_force_topk(emb, queries, k=5)
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@register(
    "knn_lsh",
    covers="similarity-search extension: LSH-bucketed approximate top-k (scale path; "
    "deterministic plane matrix => exact replay oracle, recall asserted in tests)",
    oracle=f"""
WITH planes(p, pvec) AS (VALUES
  {_PLANES_VALUES}
),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
buckets AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_dot_product(e.v, p.pvec) > 0 THEN 1 << p.p ELSE 0 END) AS BIGINT) AS bucket
  FROM emb e CROSS JOIN planes p GROUP BY e.vec_id
),
bv AS (SELECT b.vec_id, b.bucket, e.v FROM buckets b JOIN emb e USING (vec_id)),
probes AS (
  SELECT vec_id AS query_id, v AS qv,
         unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
  FROM bv WHERE vec_id < 20
),
cand AS (
  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, b.v) AS cos
  FROM probes p JOIN bv b USING (bucket)
  WHERE p.query_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM cand
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
""",
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane buckets + multiprobe.

    The plane matrix is derived from the shared integer hash, so the
    DuckDB oracle replays the IDENTICAL bucketing/probing/ranking —
    approximate vs brute force, but exactly reproducible."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = similarity.lsh_topk(emb, queries, k=5, dim=64, n_planes=4)
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@register(
    "embedding_near_dup",
    covers="dedup extension: embedding-cosine near-duplicate pairs",
    oracle=f"""
SELECT a.vec_id AS id_1, b.vec_id AS id_2, round({_COS}, 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS} >= 0.45
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with cosine >= 0.45 via lossless projection bucketing —
    candidates come from an EQUI-join on a Rademacher-projection
    bucket (zero-miss by the Cauchy-Schwarz bound, so the exact
    all-pairs oracle still matches), never a cartesian; plan-asserted
    in tests/test_plans.py."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.near_dup_pairs(emb, "vec_id", "embedding", threshold=0.45)
    return pairs.select("id_1", "id_2", F.round("cosine", 4).alias("cosine"))


@register(
    "agg_vector_stats",
    covers="similarity-search extension: vector norms/aggregates (array math, JVM-side)",
    oracle="""
SELECT label,
       count(*) AS n_vecs,
       round(sum(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 6) / count(*) AS avg_norm,
       round(sum(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding)), 6) / count(*) AS avg_mean_component
FROM embeddings GROUP BY label
""",
)
def vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm and component statistics."""
    emb = load(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sum_sq = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    vsum = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.round(F.sum(F.sqrt(sum_sq)), 6) / F.count(F.lit(1))).alias("avg_norm"),
        (F.round(F.sum(vsum / F.size("embedding")), 6) / F.count(F.lit(1))).alias("avg_mean_component"),
    )


# CTE chain shared by every IVF oracle (exported as a named block so
# derived oracles COMPOSE it instead of re-parsing the assembled SQL —
# the _mix_cte_parts lesson, ADVICE r9): deterministic centroid pick,
# one exactly-replayed Lloyd iteration, n_probe=2 probing of the first
# 20 vec_ids, candidate ranking. Ends at the `ranked` CTE, no trailing
# comma, so consumers append either the final SELECT (_IVF_ORACLE) or
# further CTEs (_RECALL_ORACLE).
# Base chain through qprobe (query-to-list ranks over ALL lists) so
# tails can pick their own probe depth: _IVF_CTES pins r <= 2 (the
# serving rung every oracle-pinned query uses); the n_probe sweep
# oracle parameterizes it with a VALUES table instead.
_IVF_BASE_CTES = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
-- mix31(vec_id): the shared 31-bit xorshift-multiply hash
-- (operators/similarity.py _mix31), replayed as plain SQL.
mix1 AS (
  SELECT vec_id, v,
         (xor(vec_id & 2147483647, (vec_id & 2147483647) >> 16) * 73244475) & 2147483647 AS h1
  FROM emb
),
mix2 AS (
  SELECT vec_id, v, (xor(h1, h1 >> 16) * 73244475) & 2147483647 AS h2 FROM mix1
),
picked AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY xor(h2, h2 >> 16), vec_id) AS pick
  FROM mix2
),
centroids AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, v AS cvec
  FROM picked WHERE pick <= {n_lists}
),
assign AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN centroids c
),
assignments AS (SELECT vec_id, v, list_id FROM assign WHERE r = 1),
-- one Lloyd iteration, replayed exactly: the Spark side computes each
-- list mean as a SEQUENTIAL left fold in vec_id order, which
-- list_reduce over list(v ORDER BY vec_id) reproduces bit-for-bit
lists AS (
  SELECT list_id, list(v ORDER BY vec_id) AS vs, CAST(count(*) AS DOUBLE) AS n
  FROM assignments GROUP BY list_id
),
refined AS (
  SELECT list_id,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(range(1, len(a) + 1), i -> a[i] + b[i])),
           x -> x / n) AS cvec
  FROM lists
),
assign2 AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c
),
assignments2 AS (SELECT vec_id, v, list_id FROM assign2 WHERE r = 1),
qprobe AS (
  SELECT e.vec_id AS query_id, e.v AS qv, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c WHERE e.vec_id < 20
)"""

_IVF_CTES = _IVF_BASE_CTES + """,
probes AS (SELECT query_id, qv, list_id FROM qprobe WHERE r <= 2),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, a.v) AS cos
  FROM probes p JOIN assignments2 a USING (list_id)
  WHERE p.query_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM pairs
)"""

_IVF_ORACLE = _IVF_CTES + """
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
"""

# Recall@k of the IVF result against exact brute force, composed from
# the same CTE chain: `approx` is the served IVF top-5, `exact` the
# brute-force top-5 over the identical query panel, and the report is
# per-query hit counting — which depends only on the RANK SETS both
# engines already hash-agree on (knn_ivf / knn_bruteforce output rank
# directly), never on raw cosine values.
_RECALL_ORACLE = _IVF_CTES + """,
approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
bpairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, e.v) AS cos
  FROM emb q JOIN emb e ON q.vec_id < 20 AND q.vec_id <> e.vec_id
),
branked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM bpairs
),
exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 5)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       CAST(count(*) AS BIGINT) AS exact_k,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
GROUP BY e.query_id
"""

# n_lists scaled by corpus size exactly as ivf_assignments(n_lists=None)
# does: max(8, isqrt(n)) — floor(sqrt()) matches isqrt at these scales.
_SQRT_LISTS = (
    "(SELECT GREATEST(8, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM emb)"
)


@register(
    "knn_ivf",
    covers="similarity-search extension: IVF inverted-list approximate top-k "
    "(the second scale path beside LSH; deterministic centroid pick => "
    "exact replay oracle, recall asserted in tests)",
    oracle=_IVF_ORACLE.format(n_lists="8"),
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF lists (1 Lloyd iteration, 2 probes).

    Centroid pick, assignment, probing, and ranking are all
    deterministic integer/double arithmetic, so the DuckDB oracle
    replays the identical index — exact-checkable approximation.
    ``exact_replay=True`` selects the bit-reproducible sequential-fold
    Lloyd mean the SQL twin reproduces; the operator DEFAULT is the
    parallel per-dimension mean that scales (ivf_assignments
    docstring), exercised by tests/test_ivf.py."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = similarity.ivf_topk(
        emb, queries, k=5, n_lists=8, n_probe=2, refine_iters=1,
        exact_replay=True,
    )
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@register(
    "ann_ivf_sqrt_lists",
    covers="similarity-search extension: IVF top-k at the SCALE "
    "configuration — n_lists = max(8, isqrt(n)), the sizing the "
    "operator uses when the caller does not pin a list count. The "
    "pinned n_lists=8 twin (knn_ivf) was the only 100x-replica row "
    "growing >15x; this registration correctness-pins the sqrt(n) "
    "configuration itself (VERDICT r5 #7)",
    oracle=_IVF_ORACLE.format(n_lists=_SQRT_LISTS),
)
def ann_ivf_sqrt_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_ivf's oracle twin at n_lists=None (=> max(8, isqrt(n))).

    Same deterministic centroid pick / 1 Lloyd iteration / 2 probes;
    the oracle derives the list count from the corpus the same way the
    operator does, so the SCALE configuration — not just the pinned-8
    test configuration — is hash-checked. Recall vs brute force is
    asserted in tests/test_ivf.py for the same sqrt sizing."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = similarity.ivf_topk(
        emb, queries, k=5, n_lists=None, n_probe=2, refine_iters=1,
        exact_replay=True,
    )
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@register(
    "ann_recall_audit",
    covers="similarity-search extension: served recall@k measurement — "
    "the IVF index (sqrt-n lists, n_probe=2) and exact brute force run "
    "over the same query panel and recall_vs_exact reports per-query "
    "hits/exact_k/recall; the oracle composes the shared IVF CTE chain "
    "with a brute-force leg, so the approximate index's MISSES are "
    "hash-checked, not just its hits (VERDICT r5 'recall asserted in "
    "tests' graduates to a served, driver-gated report)",
    oracle=_RECALL_ORACLE.format(n_lists=_SQRT_LISTS),
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the sqrt-lists IVF configuration vs exact top-5.

    Both legs run over the first-20 query panel knn_bruteforce /
    ann_ivf_sqrt_lists use, so this is the measurement that adjudicates
    between them: operators/similarity.py recall_vs_exact joins the two
    k-row-per-query frames on (query_id, neighbor_id) and counts hits —
    O(|panel| x k) regardless of corpus size. At 100 TB the panel is a
    hash_split sample of the query log and the exact leg is the audit's
    entire cost; the served index never re-runs. Reference parity: the
    reference has no ANN at all (SURVEY SS2.9 extensions) — this is the
    tuning loop any production deployment of the IVF family needs."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = similarity.ivf_topk(
        emb, queries, k=5, n_lists=None, n_probe=2, refine_iters=1,
        exact_replay=True,
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    return similarity.recall_vs_exact(approx, exact)


# Recall/cost grid across probe depths (VERDICT r11 #9): the same
# base chain, with the probe rank parameterized by a VALUES table so
# ONE query emits every rung of the tuning curve.
_PROBE_SWEEP_ORACLE = _IVF_BASE_CTES + """,
nps(np) AS (VALUES (1), (2), (4), (8)),
pairs AS (
  SELECT n.np, p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, a.v) AS cos
  FROM nps n
  JOIN qprobe p ON p.r <= n.np
  JOIN assignments2 a USING (list_id)
  WHERE p.query_id <> a.vec_id
),
ranked AS (
  SELECT np, query_id, neighbor_id,
         row_number() OVER (PARTITION BY np, query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM pairs
),
approx AS (SELECT np, query_id, neighbor_id FROM ranked WHERE rank <= 5),
bpairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, e.v) AS cos
  FROM emb q JOIN emb e ON q.vec_id < 20 AND q.vec_id <> e.vec_id
),
branked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM bpairs
),
exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 5)
SELECT CAST(n.np AS BIGINT) AS n_probe,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       CAST(count(*) AS BIGINT) AS exact_k,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall,
       CAST((SELECT count(*) FROM pairs pp WHERE pp.np = n.np) AS BIGINT)
         AS n_candidates
FROM nps n
CROSS JOIN exact e
LEFT JOIN approx a ON a.np = n.np AND a.query_id = e.query_id
                  AND a.neighbor_id = e.neighbor_id
GROUP BY n.np
"""


@register(
    "ann_probe_sweep",
    covers="similarity-search extension: recall-vs-n_probe tuning grid "
    "(VERDICT r11 #9) — ONE plan emits (n_probe, hits, exact_k, "
    "recall, n_candidates) for n_probe in {1,2,4,8} over the shared "
    "panel, turning the last manual IVF tuning loop into a measured "
    "table; the oracle parameterizes the shared IVF CTE chain's probe "
    "rank with a VALUES table",
    oracle=_PROBE_SWEEP_ORACLE.format(n_lists=_SQRT_LISTS),
)
def ann_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall/cost grid an IVF deployment tunes n_probe against.

    The index is built ONCE (ivf_assignments, exact-replay fold for
    the oracle; lazily localCheckpointed so the four serve legs share
    one computed assignment set instead of re-clustering per rung),
    the exact leg runs ONCE, and each rung contributes (a) the
    recall_vs_exact measurement of its ivf_probe serve and (b) its
    candidate-pair count — the actual cost axis: candidates scale
    with n_probe/n_lists while recall saturates, and this table is
    where the knee shows up.  Output: 4 rows however large the
    corpus; the exact leg is the audit's entire cost, as with
    ann_recall_audit."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cents, assigns = similarity.ivf_assignments(
        emb, n_lists=None, refine_iters=1, exact_replay=True
    )
    cents = cents.localCheckpoint(eager=False)
    assigns = assigns.localCheckpoint(eager=False)
    exact = similarity.brute_force_topk(emb, queries, k=5).localCheckpoint(
        eager=False
    )
    legs = []
    for np_ in (1, 2, 4, 8):
        rec = similarity.recall_vs_exact(
            similarity.ivf_probe(cents, assigns, queries, k=5, n_probe=np_),
            exact,
        )
        agg = rec.agg(
            F.sum("hits").cast("long").alias("hits"),
            F.sum("exact_k").cast("long").alias("exact_k"),
        ).select(
            F.lit(np_).cast("long").alias("n_probe"),
            "hits",
            "exact_k",
            (F.col("hits").cast("double") / F.col("exact_k")).alias(
                "recall"
            ),
        )
        cand = (
            similarity.probe_lists(cents, queries, n_probe=np_)
            .select("query_id", "list_id")
            .join(
                assigns.select(F.col("vec_id").alias("neighbor_id"), "list_id"),
                "list_id",
            )
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        )
        legs.append(agg.crossJoin(cand))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# CTE chain shared by every PQ oracle (the _IVF_CTES composition
# idiom): deterministic smallest-mix31 codebook pick sliced per
# subspace, one-pass encode (argmin of in-order-folded squared L2),
# ADC ranking of the first-20 panel.  Ends at `ranked`, no trailing
# comma, so consumers append the final SELECT (_PQ_ORACLE) or further
# CTEs (_PQ_RECALL_ORACLE).
_PQ_CTES = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
-- the shared mix31 pick (operators/similarity.py _mix31), k=16 codes
mix1 AS (
  SELECT vec_id, v,
         (xor(vec_id & 2147483647, (vec_id & 2147483647) >> 16) * 73244475) & 2147483647 AS h1
  FROM emb
),
mix2 AS (
  SELECT vec_id, v, (xor(h1, h1 >> 16) * 73244475) & 2147483647 AS h2 FROM mix1
),
picked AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY xor(h2, h2 >> 16), vec_id) AS pick
  FROM mix2
),
cb0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS code_id, v
  FROM picked WHERE pick <= 16
),
subs AS (SELECT unnest(range(4)) AS sub_id),
-- per-subspace codebooks: contiguous 16-dim slices of the picked vectors
codebook AS (
  SELECT s.sub_id, c.code_id,
         list_slice(c.v, s.sub_id * 16 + 1, (s.sub_id + 1) * 16) AS cvec
  FROM cb0 c CROSS JOIN subs s
),
esub AS (
  SELECT e.vec_id, s.sub_id,
         list_slice(e.v, s.sub_id * 16 + 1, (s.sub_id + 1) * 16) AS sv
  FROM emb e CROSS JOIN subs s
),
-- in-order-folded squared L2 (list_reduce starts at the first element;
-- the Spark fold starts at 0.0 — identical by IEEE for x >= 0)
scored AS (
  SELECT es.vec_id, es.sub_id, cb.code_id,
         list_reduce(
           list_transform(range(1, 17),
                          i -> (es.sv[i] - cb.cvec[i]) * (es.sv[i] - cb.cvec[i])),
           (a, b) -> a + b) AS d
  FROM esub es JOIN codebook cb USING (sub_id)
),
-- encode: per (vector, subspace) argmin, smallest code_id on ties
codes AS (
  SELECT vec_id, sub_id, code_id, d,
         row_number() OVER (PARTITION BY vec_id, sub_id
                            ORDER BY d ASC, code_id) AS r
  FROM scored
),
-- ADC: the query rows of `scored` ARE the exact distance table; the
-- approximate distance folds the m matched entries in sub_id order
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list(q.d ORDER BY q.sub_id), (a, b) -> a + b) AS dist
  FROM codes c JOIN scored q ON q.sub_id = c.sub_id AND q.code_id = c.code_id
  WHERE c.r = 1 AND q.vec_id < 20 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank,
         dist
  FROM adc
)"""

_PQ_ORACLE = _PQ_CTES + """
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(dist, 6) AS adc_dist
FROM ranked WHERE rank <= 5
"""

# Recall@k of the ADC ranking against exact cosine over the same
# panel — the _RECALL_ORACLE composition, with the PQ chain supplying
# the approximate leg: ADC's compression loss (the number a user
# tunes m/k against) becomes a hash-checked per-query measurement.
_PQ_RECALL_ORACLE = _PQ_CTES + """,
approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
bpairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, e.v) AS cos
  FROM emb q JOIN emb e ON q.vec_id < 20 AND q.vec_id <> e.vec_id
),
branked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM bpairs
),
exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 5)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       CAST(count(*) AS BIGINT) AS exact_k,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
GROUP BY e.query_id
"""


@register(
    "ann_pq_adc",
    covers="similarity-search extension: product-quantization ADC top-k "
    "(the memory side of ANN — codes are m=4 small ints per 64-dim "
    "vector, 64x compression; query-time distance is 4 table lookups). "
    "Codebooks are the deterministic smallest-mix31 pick sliced per "
    "subspace and the ADC sum is a sub-id-ordered fold, so the DuckDB "
    "twin replays codebook build, encoding, and ranking exactly",
    oracle=_PQ_ORACLE,
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compress + asymmetric-distance top-5 for the first-20 panel.

    operators/pq.py: codebooks = the 16 smallest-mix31 corpus vectors
    sliced into 4 x 16-dim subspaces (constant-sized, collected and
    constant-folded into one from_json literal — the
    benchmark_decontam_semantic seam); encode = one linear codegen
    pass (argmin of in-order-folded squared L2, first-min tie-break);
    serve = broadcast (sub,code) distance table equi-joined to the
    exploded corpus codes, ADC distance folded in sub_id order so the
    oracle replays ranking bit-for-bit. Recall floor vs exact top-k and
    the 64x compression invariant are pinned in tests/test_pq.py.
    Reference parity: the reference has no ANN (SURVEY SS2.9
    extensions); at 100 TB PQ is what makes the candidate set
    memory-resident, composing with ivf lists in ivfpq_topk
    (ann_ivfpq_topk)."""
    from palegislature_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    cbs = pq.pq_codebooks(emb, m=4, k=16)
    codes = pq.pq_encode(emb, cbs)
    queries = emb.filter(F.col("vec_id") < 20)
    topk = pq.pq_adc_topk(cbs, codes, queries, k=5)
    return topk.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("adc_dist", 6).alias("adc_dist"),
    )


@register(
    "ann_pq_recall",
    covers="similarity-search extension: PQ recall audit (VERDICT r10 "
    "#3) — recall@5 of the ADC ranking vs exact cosine over the same "
    "first-20 panel, the measured m/k compression trade-off; the "
    "oracle composes the shared PQ CTE chain with a brute-force leg "
    "exactly as ann_recall_audit does for IVF, so ADC's MISSES are "
    "hash-checked, not just its hits",
    oracle=_PQ_RECALL_ORACLE,
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ/ADC (m=4, k=16) against exact cosine top-5.

    The second leg of the ANN tuning loop beside ann_recall_audit:
    that one measures what IVF's list PRUNING costs, this one what
    PQ's code COMPRESSION costs — together they price the two IVFPQ
    knobs (n_lists/n_probe vs m/k) in the same per-query hits /
    exact_k / recall report (operators/similarity.py
    recall_vs_exact; the measurement join is O(|panel| x k) however
    large the corpus, and the exact brute-force leg is the audit's
    entire cost — linear BY DESIGN, the documented ann_recall_audit
    precedent).  Note ADC ranks by approximate squared L2 while the
    exact leg ranks by cosine: on L2-normalized production embeddings
    the two orders agree; on this synthetic corpus the norm spread
    makes the measured recall DELIBERATELY imperfect — which is what
    an audit is for (a planted-imperfection measurement, like the
    drift gates)."""
    from palegislature_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cbs = pq.pq_codebooks(emb, m=4, k=16)
    codes = pq.pq_encode(emb, cbs)
    approx = pq.pq_adc_topk(cbs, codes, queries, k=5)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    return similarity.recall_vs_exact(approx, exact)


# IVFPQ CTE chain (ends at `adcranked`, no trailing comma): the
# _IVF_CTES composition extended with the PQ construction over the
# same mix31 rank list.  _IVFPQ_ORACLE appends the final SELECT;
# _IVFPQ_REFINE_ORACLE appends the exact re-rank CTEs instead —
# byte-identical prefix, so the standing modified-query rule holds.
_IVFPQ_CTES = (
    _IVF_CTES
    + """,
-- PQ leg over the SAME mix31 rank list: `picked` already carries the
-- smallest-mix31 ordering, the codebook is its first 16 vectors
-- sliced into 4 x 16-dim subspaces (the _PQ_CTES construction,
-- composed here against the IVF chain's CTE names)
cb0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS code_id, v
  FROM picked WHERE pick <= 16
),
subs AS (SELECT unnest(range(4)) AS sub_id),
codebook AS (
  SELECT s.sub_id, c.code_id,
         list_slice(c.v, s.sub_id * 16 + 1, (s.sub_id + 1) * 16) AS cvec
  FROM cb0 c CROSS JOIN subs s
),
esub AS (
  SELECT e.vec_id, s.sub_id,
         list_slice(e.v, s.sub_id * 16 + 1, (s.sub_id + 1) * 16) AS sv
  FROM emb e CROSS JOIN subs s
),
scored AS (
  SELECT es.vec_id, es.sub_id, cb.code_id,
         list_reduce(
           list_transform(range(1, 17),
                          i -> (es.sv[i] - cb.cvec[i]) * (es.sv[i] - cb.cvec[i])),
           (a, b) -> a + b) AS d
  FROM esub es JOIN codebook cb USING (sub_id)
),
pcodes AS (
  SELECT vec_id, sub_id, code_id, d,
         row_number() OVER (PARTITION BY vec_id, sub_id
                            ORDER BY d ASC, code_id) AS r
  FROM scored
),
-- IVFPQ: candidates from the probed lists (the IVF chain's `probes`
-- x `assignments2`), ranked by the sub-id-ordered ADC fold
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assignments2 a USING (list_id)
  WHERE p.query_id <> a.vec_id
),
adc AS (
  SELECT cd.query_id, cd.neighbor_id,
         list_reduce(list(q.d ORDER BY q.sub_id), (a, b) -> a + b) AS dist
  FROM cand cd
  JOIN pcodes c ON c.vec_id = cd.neighbor_id AND c.r = 1
  JOIN scored q ON q.vec_id = cd.query_id
               AND q.sub_id = c.sub_id AND q.code_id = c.code_id
  GROUP BY cd.query_id, cd.neighbor_id
),
adcranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank,
         dist
  FROM adc
)"""
)

_IVFPQ_ORACLE = (
    _IVFPQ_CTES
    + """
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(dist, 6) AS adc_dist
FROM adcranked WHERE rank <= 5
"""
).format(n_lists="8")

# Two-stage refine: the ADC top-20 shortlist re-ranked by EXACT
# cosine against the raw vectors — only shortlisted ids are ever
# re-scored, exactly as operators/pq.py ivfpq_refine serves it.
_IVFPQ_REFINE_ORACLE = (
    _IVFPQ_CTES
    + """,
short AS (SELECT query_id, neighbor_id FROM adcranked WHERE rank <= 20),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         list_cosine_similarity(q.v, e.v) AS cos
  FROM short s
  JOIN emb q ON q.vec_id = s.query_id
  JOIN emb e ON e.vec_id = s.neighbor_id
),
rranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM rer
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(cos, 6) AS cosine
FROM rranked WHERE rank <= 5
"""
).format(n_lists="8")


@register(
    "ann_ivfpq_topk",
    covers="similarity-search extension: IVFPQ served top-k (VERDICT "
    "r10 #2) — the standard billion-vector layout composed from the "
    "two oracle-pinned halves: IVF lists (n_lists=8, 1 Lloyd "
    "iteration, n_probe=2) bound the candidate set, PQ codes (m=4, "
    "k=16) bound per-candidate cost via the broadcast ADC distance "
    "table; the DuckDB twin replays candidate pruning AND ranking "
    "exactly by composing the shared _IVF_CTES chain with the PQ "
    "construction over the same mix31 rank list",
    oracle=_IVFPQ_ORACLE,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 over the probed IVF lists for the first-20 panel —
    the composition operators/pq.py's header promises, served as one
    plan (operators/pq.py ivfpq_topk): probe_lists picks each query's
    2 nearest lists against the broadcast refined centroids, the
    list-join bounds candidates to ~n * n_probe / n_lists ids, and
    each candidate costs m=4 matched scalars in the sub-id-ordered
    fold — never a dim-wide dot product against raw vectors.  ADC
    never reads the assignments' raw vectors (column pruning reaches
    the index scan).  Equality against brute-ADC-over-the-same-
    candidates and the candidate-set identity vs ivf_probe are pinned
    in tests/test_pq.py."""
    from palegislature_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    centroids, assignments = similarity.ivf_assignments(
        emb, n_lists=8, refine_iters=1, exact_replay=True
    )
    cbs = pq.pq_codebooks(emb, m=4, k=16)
    codes = pq.pq_encode(emb, cbs)
    topk = pq.ivfpq_topk(
        centroids, assignments, cbs, codes, queries, k=5, n_probe=2
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("adc_dist", 6).alias("adc_dist"),
    )


@register(
    "ann_ivfpq_refine",
    covers="similarity-search extension: two-stage IVFPQ serving — the "
    "ADC top-20 shortlist re-ranked by EXACT cosine against the raw "
    "vectors (coarse quantizer prunes lists, ADC prunes candidates, "
    "exact distances decide the final order — the standard production "
    "refinement that recovers ADC's near-tie reorderings for the cost "
    "of q x shortlist exact distances); the oracle appends the re-rank "
    "CTEs to the byte-identical _IVFPQ_CTES prefix, so shortlist AND "
    "re-rank replay exactly",
    oracle=_IVFPQ_REFINE_ORACLE,
)
def ann_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-rerank top-5 from the ADC top-20 shortlist, first-20 panel.

    operators/pq.py ivfpq_refine: stage 1 is ann_ivfpq_topk's exact
    configuration over-fetched to shortlist=20 (4x the target k); stage
    2 joins ONLY those ids back to the raw vectors (one broadcast
    id-equi join — the corpus is never re-scanned vector-wide) and
    ranks by exact cosine, ties to the smaller neighbor_id.  This
    prices the refinement step of the IVFPQ serving stack: ann_pq_recall
    measures what ADC's compression costs unrefined, this anchor pins
    the refined order itself.  Shortlist containment and exact-order
    equality over the candidate set are pinned in tests/test_pq.py."""
    from palegislature_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    centroids, assignments = similarity.ivf_assignments(
        emb, n_lists=8, refine_iters=1, exact_replay=True
    )
    cbs = pq.pq_codebooks(emb, m=4, k=16)
    codes = pq.pq_encode(emb, cbs)
    topk = pq.ivfpq_refine(
        centroids, assignments, cbs, codes, queries, emb,
        k=5, shortlist=20, n_probe=2,
    )
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@register(
    "ann_ivf_append",
    covers="similarity-search extension: IVF serving MAINTENANCE — a "
    "frozen index built on the corpus prefix, a new-arrivals batch "
    "assigned against the FROZEN centroids (ivf_append_delta's core) and "
    "appended, then multiprobe serving (n_probe=4) over the merged "
    "lists; the oracle exploits the append identity (batch-vs-frozen "
    "assignment == full-corpus assignment against the same centroids) "
    "that tests/test_ivf.py pins by equality",
    oracle="""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
prefix AS (SELECT * FROM emb WHERE vec_id % 10 <> 0),
-- deterministic centroid pick over the PREFIX only (the index
-- generation that existed before the batch arrived)
mix1 AS (
  SELECT vec_id, v,
         (xor(vec_id & 2147483647, (vec_id & 2147483647) >> 16) * 73244475) & 2147483647 AS h1
  FROM prefix
),
mix2 AS (
  SELECT vec_id, v, (xor(h1, h1 >> 16) * 73244475) & 2147483647 AS h2 FROM mix1
),
picked AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY xor(h2, h2 >> 16), vec_id) AS pick
  FROM mix2
),
centroids AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, v AS cvec
  FROM picked WHERE pick <= 8
),
assign AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM prefix e CROSS JOIN centroids c
),
assignments AS (SELECT vec_id, v, list_id FROM assign WHERE r = 1),
lists AS (
  SELECT list_id, list(v ORDER BY vec_id) AS vs, CAST(count(*) AS DOUBLE) AS n
  FROM assignments GROUP BY list_id
),
refined AS (
  SELECT list_id,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(range(1, len(a) + 1), i -> a[i] + b[i])),
           x -> x / n) AS cvec
  FROM lists
),
-- append identity: the batch assigned against the FROZEN refined
-- centroids, unioned with the prefix assignments, equals assigning
-- the WHOLE corpus against those centroids
assign2 AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c
),
assignments2 AS (SELECT vec_id, v, list_id FROM assign2 WHERE r = 1),
qprobe AS (
  SELECT e.vec_id AS query_id, e.v AS qv, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c WHERE e.vec_id % 10 = 0 AND e.vec_id < 200
),
probes AS (SELECT query_id, qv, list_id FROM qprobe WHERE r <= 4),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, a.v) AS cos
  FROM probes p JOIN assignments2 a USING (list_id)
  WHERE p.query_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM pairs
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
""",
)
def ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF incremental-serving anchor (the registry row for
    operators/similarity.py ivf_append_delta + multiprobe, previously only
    equality-tested in tests/test_ivf.py):

    - the index generation is built on the corpus PREFIX (vec_id %
      10 != 0), 1 Lloyd iteration, exact_replay for the oracle twin;
    - the new-arrivals batch (vec_id % 10 == 0) is assigned against
      the FROZEN centroids via assign_to_centroids — exactly what
      ivf_append_delta does before its delta write, minus the write —
      and unioned into the inverted lists;
    - the batch then probes the merged index at n_probe=4 (multiprobe
      serving; the recall/candidate-volume ladder over n_probe is
      pinned in tests/test_ivf.py).

    The DuckDB oracle replays the append through the identity the
    equality test pins: batch-against-frozen-centroids UNION prefix
    assignments == whole-corpus assignment against those centroids.
    """
    emb = load(spark, sf_dir, "embeddings")
    prefix = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    centroids, assignments = similarity.ivf_assignments(
        prefix, n_lists=8, refine_iters=1, exact_replay=True
    )
    appended = similarity.assign_to_centroids(batch, centroids)
    index = assignments.unionByName(appended)
    queries = batch.filter(F.col("vec_id") < 200)
    topk = similarity.ivf_probe(centroids, index, queries, k=5, n_probe=4)
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


# Filtered-IVF CTE chain (ends at `ranked`, no trailing comma):
# _IVF_FILTERED_ORACLE appends the final SELECT, the recall twin
# appends the filtered brute-force leg — byte-identical prefix, so
# the standing modified-query rule holds for ann_ivf_filtered.
_IVF_FILTERED_CTES = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
-- mix31 centroid pick + 1 Lloyd iteration, replayed exactly as in knn_ivf
mix1 AS (
  SELECT vec_id, v,
         (xor(vec_id & 2147483647, (vec_id & 2147483647) >> 16) * 73244475) & 2147483647 AS h1
  FROM emb
),
mix2 AS (
  SELECT vec_id, v, (xor(h1, h1 >> 16) * 73244475) & 2147483647 AS h2 FROM mix1
),
picked AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY xor(h2, h2 >> 16), vec_id) AS pick
  FROM mix2
),
centroids AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, v AS cvec
  FROM picked WHERE pick <= 8
),
assign AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN centroids c
),
assignments AS (SELECT vec_id, v, list_id FROM assign WHERE r = 1),
lists AS (
  SELECT list_id, list(v ORDER BY vec_id) AS vs, CAST(count(*) AS DOUBLE) AS n
  FROM assignments GROUP BY list_id
),
refined AS (
  SELECT list_id,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(range(1, len(a) + 1), i -> a[i] + b[i])),
           x -> x / n) AS cvec
  FROM lists
),
-- the persisted index carries the metadata column beside each row
assign2 AS (
  SELECT e.vec_id, e.v, e.label, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c
),
assignments2 AS (SELECT vec_id, v, label, list_id FROM assign2 WHERE r = 1),
qprobe AS (
  SELECT e.vec_id AS query_id, e.v AS qv, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c WHERE e.vec_id < 20
),
probes AS (SELECT query_id, qv, list_id FROM qprobe WHERE r <= 4),
-- PRE-filter: only label-3 vectors inside the probed lists compete
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, a.v) AS cos
  FROM probes p JOIN assignments2 a USING (list_id)
  WHERE p.query_id <> a.vec_id AND a.label = 3
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM pairs
)"""

_IVF_FILTERED_ORACLE = _IVF_FILTERED_CTES + """
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
"""

# Recall@k of the FILTERED serving path vs the filtered exact answer
# (brute-force top-5 among label-3 vectors) — the _RECALL_ORACLE
# composition with the filter applied to BOTH legs, so the number
# isolates what list pruning costs UNDER the filter.
_IVF_FILTERED_RECALL_ORACLE = _IVF_FILTERED_CTES + """,
approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
bpairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, e.v) AS cos
  FROM emb q JOIN emb e
    ON q.vec_id < 20 AND q.vec_id <> e.vec_id AND e.label = 3
),
branked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM bpairs
),
exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 5)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       CAST(count(*) AS BIGINT) AS exact_k,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
GROUP BY e.query_id
"""


@register(
    "ann_ivf_filtered",
    covers="similarity-search extension: metadata-FILTERED ANN serving "
    "(VERDICT r9 #3) — ivf_probe with a predicate over vector metadata "
    "persisted beside the inverted lists (save_ivf_index meta_cols), "
    "applied BEFORE the candidate join so the result is the exact "
    "top-k among matching vectors in the probed lists and the "
    "predicate reaches the Parquet scan on a disk-resident index "
    "(PushedFilters, plan-asserted in tests/test_ivf.py)",
    oracle=_IVF_FILTERED_ORACLE,
)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered top-5: for the first 20 query vectors, the nearest
    neighbors AMONG label-3 vectors only (license/source/date-gated
    serving — the query every curation or retrieval pipeline actually
    runs in production, where unfiltered top-k is the exception).

    Pre- vs post-filter is the semantic point: filtering the
    assignments BEFORE ranking returns k matching neighbors whenever
    the probed lists hold that many, while post-filtering an
    unfiltered top-k would silently return fewer (or zero) — the
    recall bug ivf_probe's ``where`` seam exists to avoid. n_probe=4
    compensates for filter selectivity (~10% here) thinning each
    list. Index build, probing, and ranking replay deterministically
    in the DuckDB oracle, same as knn_ivf."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    centroids, assignments = similarity.ivf_assignments(
        emb, n_lists=8, refine_iters=1, exact_replay=True
    )
    # what save_ivf_index(meta_cols=["label"]) persists: metadata rides
    # the assignments rows, one build-time id-equi join
    indexed = assignments.join(emb.select("vec_id", "label"), "vec_id")
    topk = similarity.ivf_probe(
        centroids, indexed, queries, k=5, n_probe=4,
        where=F.col("label") == 3,
    )
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@register(
    "ann_filtered_recall",
    covers="similarity-search extension: recall@k of the metadata-"
    "FILTERED serving path — ann_ivf_filtered's exact configuration "
    "measured against the filtered exact answer (brute-force top-5 "
    "among label-3 vectors), the quality number for the known filtered-"
    "ANN hazard: a selective filter thins each probed list, so recall "
    "degrades with selectivity unless n_probe rises; the oracle "
    "composes the byte-identical _IVF_FILTERED_CTES prefix with a "
    "filtered brute-force leg, so the filtered path's MISSES are "
    "hash-checked",
    oracle=_IVF_FILTERED_RECALL_ORACLE,
)
def ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of filtered IVF serving (label==3, n_probe=4) vs the
    filtered exact top-5 over the same first-20 query panel.

    Completes the tuning-loop trio: ann_recall_audit prices unfiltered
    LIST PRUNING, ann_pq_recall prices CODE COMPRESSION, and this one
    prices pruning UNDER A PREDICATE — the production case where both
    legs must apply the same filter, because comparing filtered serving
    to the unfiltered exact answer conflates index loss with filter
    selectivity.  Both legs here filter to label-3 vectors
    (ivf_probe's pre-ranking `where` on the index side, a filtered
    corpus scan on the brute-force side), and recall_vs_exact joins the
    two k-row-per-query frames — O(|panel| x k) however large the
    corpus, with the exact leg the audit's entire cost (linear BY
    DESIGN, the ann_recall_audit precedent).  The n_probe recall ladder
    under selectivity is pinned in tests/test_ivf.py."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    centroids, assignments = similarity.ivf_assignments(
        emb, n_lists=8, refine_iters=1, exact_replay=True
    )
    indexed = assignments.join(emb.select("vec_id", "label"), "vec_id")
    approx = similarity.ivf_probe(
        centroids, indexed, queries, k=5, n_probe=4,
        where=F.col("label") == 3,
    )
    exact = similarity.brute_force_topk(
        emb.filter(F.col("label") == 3), queries, k=5
    )
    return similarity.recall_vs_exact(approx, exact)


@register(
    "cluster_semantic_dedup",
    covers="dedup extension: SemDeDup-style semantic near-dup pruning — "
    "k-means clusters (IVF index) confine the quadratic cosine scan to "
    "single clusters; smaller-id-wins, violations-as-data",
    oracle="""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
-- deterministic centroid pick: smallest mix31(vec_id), replayed as in knn_ivf
mix1 AS (
  SELECT vec_id, v,
         (xor(vec_id & 2147483647, (vec_id & 2147483647) >> 16) * 73244475) & 2147483647 AS h1
  FROM emb
),
mix2 AS (
  SELECT vec_id, v, (xor(h1, h1 >> 16) * 73244475) & 2147483647 AS h2 FROM mix1
),
picked AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY xor(h2, h2 >> 16), vec_id) AS pick
  FROM mix2
),
centroids AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, v AS cvec
  FROM picked WHERE pick <= 8
),
assign AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN centroids c
),
assignments AS (SELECT vec_id, v, list_id FROM assign WHERE r = 1),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM assignments a
  JOIN assignments b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
)
SELECT a.vec_id,
       CAST(a.list_id AS BIGINT) AS list_id,
       CASE WHEN d.vec_id IS NOT NULL THEN 'semantic_dup' ELSE 'kept' END AS status
FROM assignments a LEFT JOIN dups d USING (vec_id)
""",
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus (threshold 0.4 — the sf
    corpus is spread; real semantic-dup corpora run 0.95+). The
    centroid pick and assignment are deterministic integer/double
    arithmetic, so DuckDB replays the identical clustering and the
    within-cluster pair scan — an exact-checkable approximation, like
    knn_ivf."""
    emb = load(spark, sf_dir, "embeddings")
    # assign_impl pinned: this is the ORACLE tier — the auto gate
    # would switch to the arrow/BLAS assignment at replica scale,
    # whose last-ulp cosine drift the DuckDB replay can't follow;
    # arrow_exact is bit-identical to the replayed expression fold
    out = similarity.semantic_dedup(
        emb, threshold=0.4, n_lists=8, assign_impl="arrow_exact"
    )
    return out.select(
        "vec_id", F.col("list_id").cast("long").alias("list_id"), "status"
    )


_EMB_DRIFT_ORACLE = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
prev AS (SELECT vec_id, v FROM emb WHERE vec_id % 4 <> 0),
cur  AS (SELECT vec_id, v FROM emb WHERE vec_id % 4 = 0 AND label <= 4),
-- mix31 centroid pick over the PREVIOUS generation only (frozen bins)
mix1 AS (
  SELECT vec_id, v,
         (xor(vec_id & 2147483647, (vec_id & 2147483647) >> 16) * 73244475) & 2147483647 AS h1
  FROM prev
),
mix2 AS (
  SELECT vec_id, v, (xor(h1, h1 >> 16) * 73244475) & 2147483647 AS h2 FROM mix1
),
picked AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY xor(h2, h2 >> 16), vec_id) AS pick
  FROM mix2
),
centroids AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS list_id, v AS cvec
  FROM picked WHERE pick <= 8
),
ap AS (
  SELECT e.vec_id, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM prev e CROSS JOIN centroids c
),
ac AS (
  SELECT e.vec_id, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM cur e CROSS JOIN centroids c
),
pc AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_prev FROM ap WHERE r = 1 GROUP BY 1),
cc AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_cur FROM ac WHERE r = 1 GROUP BY 1),
counts AS (
  SELECT list_id,
         COALESCE(n_prev, 0) AS n_prev,
         COALESCE(n_cur, 0) AS n_cur
  FROM pc FULL OUTER JOIN cc USING (list_id)
),
t1 AS (
  SELECT list_id, n_prev, n_cur,
         sum(n_prev) OVER () AS tp, sum(n_cur) OVER () AS tc
  FROM counts
),
t2 AS (
  SELECT *,
         sum(abs(CAST(n_prev AS DECIMAL(38,0)) * tc
                 - CAST(n_cur AS DECIMAL(38,0)) * tp)) OVER () AS num
  FROM t1
)
SELECT CAST(list_id AS BIGINT) AS list_id, n_prev, n_cur,
       CAST(tp AS BIGINT) AS total_prev,
       CAST(tc AS BIGINT) AS total_cur,
       CASE WHEN tp = 0 OR tc = 0
            THEN CASE WHEN tp <> tc THEN 1.0 ELSE 0.0 END
            ELSE CAST(num AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE) * CAST(tc AS DOUBLE))
       END AS tv_stat,
       -- tv = num / (2 tp tc) > threshold_milli/1000  <=>
       -- 1000 num > 2 * threshold_milli * tp * tc  (threshold_milli=100)
       CASE WHEN tp = 0 OR tc = 0 THEN tp <> tc
            ELSE num * 1000 > CAST(tp AS DECIMAL(38,0)) * tc * 200
       END AS drifted
FROM t2
"""


@register(
    "audit_embedding_drift",
    covers="training-pipeline extension: EMBEDDING distribution-shift "
    "gate (VERDICT r9 #4) — both corpus generations assigned to "
    "centroids FROZEN on the previous generation (ivf_append_delta's "
    "assignment), per-list mass vectors compared with the total "
    "variation distance; the statistic's numerator is a SUM of "
    "DECIMAL(38,0) integer cross-products (order-free like the KS "
    "max) with ONE double division at the end, and the drift decision "
    "is an integer inequality — engine-exact by the same construction "
    "as audit_numeric_drift",
    oracle=_EMB_DRIFT_ORACLE,
)
def audit_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the ingest drift-gate trio (categorical / numeric /
    embedding): the previous generation (vec_id % 4 != 0) defines 8
    frozen IVF lists; the current refresh — PLANTED drifted by
    dropping labels > 4, the 'refresh lost half the content space'
    failure — is assigned to the same frozen centroids and per-list
    mass shares are compared at a 0.10 TV threshold. TV over the KS
    construction deliberately: list_ids are unordered bins and a
    cumulative sup across an arbitrary numbering can cancel a real
    swap; TV is numbering-invariant (why-TV analysis on
    operators/audit.py embedding_drift). One linear assignment pass
    per generation against a broadcast centroid set; everything after
    is n_lists-sized."""
    from palegislature_spark.operators import audit

    emb = load(spark, sf_dir, "embeddings")
    prev = emb.filter(F.col("vec_id") % 4 != 0)
    cur = emb.filter((F.col("vec_id") % 4 == 0) & (F.col("label") <= 4))
    rep = audit.embedding_drift(prev, cur, n_lists=8, threshold_milli=100)
    return rep.select(
        F.col("list_id").cast("long").alias("list_id"),
        "n_prev",
        "n_cur",
        "total_prev",
        "total_cur",
        "tv_stat",
        "drifted",
    )


@register(
    "compress_embeddings_int8",
    covers="similarity/storage extension: symmetric int8 embedding "
    "quantization (FAISS-SQ8-style) with bit-exact reconstruction error — "
    "floor(x/scale + 0.5) instead of round() so both engines agree on ties",
    oracle="""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127 AS scale
  FROM emb
),
q AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
         END AS qv
  FROM s
)
SELECT vec_id, scale,
       CAST(list_sum(qv) AS BIGINT)                          AS q_sum,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
       list_reduce(
         list_transform(range(1, len(v) + 1),
                        i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale)),
         (a, b) -> a + b) / len(v)                            AS mse
FROM q
""",
)
def compress_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize every embedding to int8 and report per-vector scale,
    integer checksums of the quantized vector (exact — arrays are kept
    out of the hash compare) and the reconstruction MSE via an ordered
    IEEE fold (bit-identical across engines; no libm)."""
    from palegislature_spark.operators import quantize

    emb = load(spark, sf_dir, "embeddings")
    out = quantize.with_quantized(emb)
    return out.select(
        "vec_id",
        "scale",
        F.aggregate("qvec", F.lit(0).cast("long"), lambda a, q: a + q).alias(
            "q_sum"
        ),
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda a, q: a + F.abs(q)
        ).alias("q_l1"),
        quantize.reconstruction_mse("embedding", "qvec", "scale").alias("mse"),
    )


# Recall@k of int8-quantized cosine vs exact float cosine: the
# quantize chain is compress_embeddings_int8's replay; the scales
# cancel in cosine, so the approximate leg ranks by exact-integer
# dot / int-norm arithmetic (one correctly-rounded sqrt/divide).
_INT8_RECALL_ORACLE = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127 AS scale
  FROM emb
),
q AS (
  SELECT vec_id, v,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
         END AS qv
  FROM s
),
qn AS (
  SELECT vec_id, v, qv,
         list_reduce(list_transform(qv, x -> CAST(x AS BIGINT) * x),
                     (a, b) -> a + b) AS n2
  FROM q
),
qpairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_reduce(
           list_transform(range(1, len(a.qv) + 1),
                          i -> CAST(a.qv[i] AS BIGINT) * b.qv[i]),
           (x, y) -> x + y) AS DOUBLE)
           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
  FROM qn a JOIN qn b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
),
qranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM qpairs
),
approx AS (SELECT query_id, neighbor_id FROM qranked WHERE rank <= 5),
bpairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, e.v) AS cos
  FROM emb q JOIN emb e ON q.vec_id < 20 AND q.vec_id <> e.vec_id
),
branked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM bpairs
),
exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 5)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       CAST(count(*) AS BIGINT) AS exact_k,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
GROUP BY e.query_id
"""


@register(
    "ann_int8_recall",
    covers="similarity/storage extension: recall@k of int8-quantized "
    "cosine ranking vs exact float cosine over the same query panel — "
    "the QUALITY side of the SQ8 storage trade "
    "(compress_embeddings_int8 prices the storage side); the scales "
    "cancel in cosine, so the quantized leg ranks by exact-integer "
    "dot/norm arithmetic and the oracle replays BOTH legs exactly, "
    "hash-checking the quantized ranking's MISSES",
    oracle=_INT8_RECALL_ORACLE,
)
def ann_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of int8-code cosine vs exact float cosine, first-20
    panel.

    Completes the compression-knob audit set: ann_recall_audit prices
    IVF list pruning, ann_pq_recall prices PQ code compression,
    ann_filtered_recall prices pruning under a predicate — this one
    prices scalar quantization, the knob every serving index turns
    FIRST (4x storage cut for typically <1% recall).  The quantized
    leg (operators/quantize.py int8_topk) never touches the scales at
    ranking time — symmetric scales cancel in cosine — so a production
    index stores codes only; recall_vs_exact joins the two
    k-row-per-query frames, O(|panel| x k) however large the corpus,
    with the exact leg the audit's entire cost (linear BY DESIGN, the
    ann_recall_audit precedent)."""
    from palegislature_spark.operators import quantize

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = quantize.int8_topk(emb, queries, k=5)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    return similarity.recall_vs_exact(approx, exact)


def _bloom_oracle() -> str:
    def pos(probe, col):
        h = f"md5('b{probe}|' || CAST({col} AS VARCHAR))"
        nib = lambda i: f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
        return f"({nib(30)} * 256 + {nib(31)} * 16 + {nib(32)})"

    build = "\nUNION ALL\n".join(
        f"SELECT {pos(p, 'o_custkey')} AS pos FROM okeys" for p in range(3)
    )
    probe = "\nUNION ALL\n".join(
        f"SELECT c_custkey, {pos(p, 'c_custkey')} AS pos FROM customer"
        for p in range(3)
    )
    return f"""
WITH okeys AS (SELECT DISTINCT o_custkey FROM orders),
bpos AS ({build}),
bloom AS (
  SELECT pos // 60 AS word, bit_or(1::BIGINT << (pos % 60)) AS bits
  FROM bpos GROUP BY 1
),
cpos AS ({probe}),
hits AS (
  SELECT c.c_custkey,
         min((COALESCE(b.bits, 0) & (1::BIGINT << (c.pos % 60))) <> 0) AS might_contain
  FROM cpos c LEFT JOIN bloom b ON b.word = c.pos // 60
  GROUP BY c.c_custkey
)
SELECT h.c_custkey,
       EXISTS (SELECT 1 FROM okeys o WHERE o.o_custkey = h.c_custkey) AS in_orders,
       h.might_contain
FROM hits h
"""


@register(
    "bloom_prune_join",
    covers="OLAP-sketch extension: Bloom-filter set membership — the "
    "explicit, persistable form of pre-shuffle join pruning (bitmap is "
    "sketch-sized and mergeable; false is definite absence)",
    oracle=_bloom_oracle(),
)
def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom filter over the distinct order custkeys and probe
    every customer: (c_custkey, in_orders truth, might_contain). The
    no-false-negative invariant (in_orders => might_contain) is what
    makes pruning a probe side before the shuffle safe; the oracle
    replays bitmap construction and probing bit for bit, so even the
    false-positive set matches exactly."""
    from palegislature_spark.operators import sketch

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    # the distinct key set feeds the filter build AND the truth join —
    # checkpoint it once so the distinct shuffle isn't paid per consumer
    okeys = orders.select(F.col("o_custkey")).distinct().localCheckpoint(eager=False)
    bloom = sketch.bloom_build(okeys, "o_custkey")
    hits = sketch.bloom_might_contain(
        bloom, customer.select(F.col("c_custkey")), "c_custkey"
    )
    truth = customer.select("c_custkey").join(
        okeys.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "in_orders", F.lit(True)
        ),
        "c_custkey",
        "left",
    ).select("c_custkey", F.coalesce("in_orders", F.lit(False)).alias("in_orders"))
    return truth.join(hits, "c_custkey").select(
        "c_custkey", "in_orders", "might_contain"
    )


@register(
    "benchmark_decontam_semantic",
    covers="training-pipeline extension: embedding-space "
    "decontamination — drop training vectors semantically close to a "
    "model-sized benchmark/eval set (the embedding twin of the n-gram "
    "decontam_testset); eval side inlined, map-only corpus pass",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 24
),
t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 24
),
m AS (
  SELECT t.vec_id, max(list_cosine_similarity(t.v, e.v)) AS mc
  FROM t CROSS JOIN e GROUP BY t.vec_id
)
SELECT vec_id, round(mc, 6) AS eval_cos_max,
       round(mc, 6) >= 0.42 AS contaminated
FROM m
""",
)
def benchmark_decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination in embedding space: every training
    vector's max cosine against the eval set (vec_id < 24 plays the
    benchmark), flagged at 0.42. The eval set is collected (it is
    model-sized by definition — guarded in max_cosine_vs_eval) and
    inlined, so the corpus side is ONE map-only pass: zero exchanges,
    plan-asserted in tests/test_similarity.py. Cosines are compared
    at 6dp on both engines (the knn_bruteforce rounding seam)."""
    emb = load(spark, sf_dir, "embeddings")
    eval_vecs = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 24)
        .select("embedding")
        .collect()
    ]
    scored = similarity.max_cosine_vs_eval(
        emb.filter(F.col("vec_id") >= 24), "vec_id", "embedding", eval_vecs
    )
    return scored.select(
        "vec_id",
        F.round("eval_cos_max", 6).alias("eval_cos_max"),
        (F.round("eval_cos_max", 6) >= 0.42).alias("contaminated"),
    )
