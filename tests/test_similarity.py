"""Similarity-search operator tests (hand-computed cosine geometry)."""

from __future__ import annotations

import math

import pytest

from palegislature_spark.operators import similarity
from tests.conftest import rows
from tests.reference_impls import cosine_pairs_expr

# 4-dim unit-ish vectors with known geometry.
VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),  # closest to 1
    (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 1
    (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
    (5, [0.5, 0.5, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(VECS, schema)


def test_with_norm(vecs):
    norms = {r["vec_id"]: r["norm"] for r in similarity.with_norm(vecs, "embedding").collect()}
    assert abs(norms[1] - 1.0) < 1e-6
    assert abs(norms[5] - math.sqrt(0.5)) < 1e-6


def test_brute_force_topk_ordering(vecs):
    queries = vecs.filter("vec_id = 1")
    got = rows(
        similarity.brute_force_topk(vecs, queries, k=4),
        "query_id",
        "rank",
        "neighbor_id",
    )
    # cos(1,2)≈0.994 > cos(1,5)≈0.707 > cos(1,3)=0 > cos(1,4)=-1
    assert got == [(1, 1, 2), (1, 2, 5), (1, 3, 3), (1, 4, 4)]


def test_brute_force_cosine_values(vecs):
    queries = vecs.filter("vec_id = 1")
    cos = {
        r["neighbor_id"]: r["cosine"]
        for r in similarity.brute_force_topk(vecs, queries, k=4).collect()
    }
    assert abs(cos[3] - 0.0) < 1e-6
    assert abs(cos[4] + 1.0) < 1e-6
    assert abs(cos[2] - (0.9 / math.sqrt(0.81 + 0.01))) < 1e-6


def test_lsh_topk_schema_and_rank_contract(vecs):
    got = similarity.lsh_topk(vecs, vecs.filter("vec_id = 1"), k=3, dim=4, n_planes=2)
    assert got.columns == ["query_id", "neighbor_id", "rank", "cosine"]
    collected = got.collect()
    # ranks are 1..n without gaps, never exceeding k, self excluded
    ranks = sorted(r["rank"] for r in collected)
    assert ranks == list(range(1, len(ranks) + 1)) and len(ranks) <= 3
    assert all(r["neighbor_id"] != 1 for r in collected)


def test_lsh_recall_against_brute_force(spark):
    # 2-dim clustered vectors: LSH with multiprobe should recover the
    # exact top-1 (same-cluster) neighbor for every query.
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    pts = []
    for i in range(10):
        angle = (i % 2) * 1.5 + (i * 0.01)  # two tight clusters
        pts.append((i, [math.cos(angle), math.sin(angle)]))
    df = spark.createDataFrame(pts, schema)
    brute = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_force_topk(df, df, k=1).collect()
    }
    lsh = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.lsh_topk(df, df, k=1, dim=2, n_planes=2).collect()
    }
    hits = sum(1 for k, v in brute.items() if lsh.get(k) == v)
    assert hits >= 8  # >=80% top-1 recall on trivially clustered data


def test_near_dup_pairs_zero_miss_vs_brute_force(spark):
    # The Cauchy-Schwarz bucketing claims EXACT results (no LSH-style
    # misses). Check the full output against brute-force all-pairs on
    # seeded random vectors across thresholds, including pairs placed
    # right at bucket boundaries.
    import itertools
    import random

    from pyspark.sql import types as T

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)
    ]
    # plant genuine near-dups: tiny perturbations of existing vectors
    for i in range(60, 70):
        base = vecs[i - 60][1]
        vecs.append((i, [x + rng.uniform(-0.02, 0.02) for x in base]))

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    # float32 storage: recompute expectation from the float32 values
    import struct

    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]  # noqa: E731
    stored = [(i, [f32(x) for x in v]) for i, v in vecs]
    df = spark.createDataFrame(stored, schema)

    for threshold in (0.45, 0.8, 0.95):
        expected = {
            (a[0], b[0])
            for a, b in itertools.combinations(stored, 2)
            if cos(a[1], b[1]) >= threshold
        }
        # method="exact" pins the lossless path: the zero-miss claim is
        # exactly what this test proves, at every threshold (auto would
        # route t>=0.8 to the LSH scale path, tested separately below).
        got = {
            (r["id_1"], r["id_2"])
            for r in similarity.near_dup_pairs(
                df, threshold=threshold, method="exact"
            ).collect()
        }
        # allow float-tolerance churn only for pairs within 1e-6 of the
        # threshold; everything else must match exactly
        sym_diff = expected ^ got
        for a_id, b_id in sym_diff:
            c = cos(stored[a_id][1], stored[b_id][1])
            assert abs(c - threshold) < 1e-6, (
                f"pair ({a_id},{b_id}) cos={c} missed at threshold {threshold}"
            )


def test_near_dup_auto_routes_tight_thresholds_to_lsh(spark):
    # auto: t=0.9 takes the LSH path; output must be a SUBSET of the
    # exact result (verify is exact cosine) and must contain every
    # planted near-identical pair (miss prob ~1e-13 at cos ~0.998).
    import random

    from pyspark.sql import types as T

    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    planted = []
    for i in range(80, 100):
        base = vecs[i - 80][1]
        vecs.append((i, [x + rng.uniform(-0.005, 0.005) for x in base]))
        planted.append((i - 80, i))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(vecs, schema)
    exact = {
        (r["id_1"], r["id_2"])
        for r in similarity.near_dup_pairs(df, threshold=0.9, method="exact").collect()
    }
    auto = {
        (r["id_1"], r["id_2"])
        for r in similarity.near_dup_pairs(df, threshold=0.9).collect()
    }
    assert auto <= exact
    assert set(planted) <= auto


def test_near_dup_lsh_subquadratic_candidates_10k(spark):
    # The scale claim itself: on a 10k-vector corpus at t=0.9, banded
    # LSH candidate volume is a small fraction of all pairs while every
    # planted near-dup pair survives candidates + exact verify.
    import numpy as np
    from pyspark.sql import types as T

    rng = np.random.default_rng(5)
    n_base, n_planted, dim = 10_000, 50, 64
    base = rng.standard_normal((n_base, dim))
    rows_ = [(i, base[i].astype("float32").tolist()) for i in range(n_base)]
    planted = []
    for j in range(n_planted):
        noisy = base[j] + 0.01 * rng.standard_normal(dim)
        rows_.append((n_base + j, noisy.astype("float32").tolist()))
        planted.append((j, n_base + j))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows_, schema)
    n = len(rows_)
    all_pairs = n * (n - 1) // 2

    n_cand = similarity.near_dup_candidates_lsh(df, band_bits=12).count()
    assert n_cand < 0.01 * all_pairs, f"{n_cand} candidates vs {all_pairs} pairs"

    got = {
        (r["id_1"], r["id_2"])
        for r in similarity.near_dup_pairs(
            df, threshold=0.9, method="lsh", band_bits=12
        ).collect()
    }
    found = sum(1 for p in planted if p in got)
    assert found >= int(0.95 * n_planted), f"planted recall {found}/{n_planted}"


def test_grid_candidates_zero_miss_low_dim(spark):
    # dim-4 corpus: projection spread ~ delta, so qualifying pairs DO
    # straddle cell boundaries in several grid dims — exercises the
    # canonical-half probe scheme, which must still lose nothing.
    import numpy as np
    from pyspark.sql import types as T

    rng = np.random.default_rng(7)
    n, t = 1500, 0.7
    vecs = rng.standard_normal((n, 4))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, vecs[i].astype("float32").tolist()) for i in range(n)], schema
    )
    v32 = vecs.astype("float32").astype("float64")
    normed = v32 / np.linalg.norm(v32, axis=1, keepdims=True)
    cos = normed @ normed.T
    want = {
        (i, j) for i in range(n) for j in range(i + 1, n) if cos[i, j] >= t
    }
    assert len(want) > 100  # the fixture actually has straddling pairs
    for k in (2, 3):
        got = {
            (r["id_1"], r["id_2"])
            for r in similarity.near_dup_pairs(
                df, threshold=t, method="exact", n_grid_dims=k,
                n_filter_projections=4 - k,
            ).collect()
        }
        assert want <= got or want == got, (
            f"grid={k} dropped {len(want - got)} qualifying pairs"
        )
        assert got == want  # exact verify leaves no false positives


def test_grid_key_selectivity_compounds_low_dim(spark):
    # Pre-filter JOIN cardinality is what the grid moves: each added
    # key dim must cut it materially on low-dim data (measured
    # 71% -> 48% -> 32% of all pairs at dim=4 / t=0.7).
    import numpy as np
    from pyspark.sql import types as T

    rng = np.random.default_rng(7)
    n = 1500
    vecs = rng.standard_normal((n, 4))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, vecs[i].astype("float32").tolist()) for i in range(n)], schema
    )
    counts = {
        k: similarity.near_dup_candidates_exact(
            df, threshold=0.7, n_grid_dims=k, n_filter_projections=0
        ).count()
        for k in (1, 2, 3)
    }
    assert counts[2] <= 0.8 * counts[1], counts
    assert counts[3] <= 0.8 * counts[2], counts


def test_max_cosine_vs_eval_flags_planted(spark):
    """A planted copy of an eval vector scores cosine 1; an orthogonal
    vector scores 0; the corpus scan is map-only (zero exchanges)."""
    import re

    from palegislature_spark.operators.similarity import max_cosine_vs_eval

    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0, 0.0]),   # colinear with e1 -> cos 1
         (101, [0.0, 0.0, 3.0, 0.0]),   # orthogonal to both -> cos 0
         (102, [1.0, 1.0, 0.0, 0.0])],  # 45 deg to each -> cos ~0.7071
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.eval_cos_max
           for r in max_cosine_vs_eval(corpus, "vec_id", "embedding", [e1, e2]).collect()}
    assert abs(out[100] - 1.0) < 1e-12
    assert abs(out[101]) < 1e-12
    assert abs(out[102] - 2 ** -0.5) < 1e-12

    res = max_cosine_vs_eval(corpus, "vec_id", "embedding", [e1, e2])
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "formatted"
    )
    assert not re.findall(r"\bExchange\b", plan), "decontam scan must be map-only"


def test_max_cosine_vs_eval_guards(spark):
    import pytest

    from palegislature_spark.operators.similarity import max_cosine_vs_eval

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty"):
        max_cosine_vs_eval(corpus, "vec_id", "embedding", [])
    with pytest.raises(ValueError, match="model-sized"):
        max_cosine_vs_eval(
            corpus, "vec_id", "embedding", [[1.0, 0.0]] * 3, max_eval=2
        )


def test_cosine_pairs_arrow_matches_expression_twin(spark):
    """The r12 Arrow pair-scoring kernel vs the broadcast-join +
    interpreted-HOF expression twin (tests/reference_impls.py): every
    cosine must be BIT-identical
    over a random float corpus (wide magnitudes) — the full pair set,
    not just the top-k.  (Zero-norm vectors are out of contract: under
    ANSI mode the EXPRESSION path itself raises DIVIDE_BY_ZERO on
    them, so neither path serves a zero vector.)"""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rng = random.Random(9)
    rows = [
        (i, [rng.uniform(-1, 1) * 10 ** rng.randrange(-3, 4) for _ in range(16)])
        for i in range(400)
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = spark.createDataFrame(rows, schema)
    qs = emb.filter(F.col("vec_id") < 7)

    def pairs(cosine_pairs):
        return cosine_pairs(
            qs.select(F.col("vec_id").alias("query_id"), "embedding"),
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "query_id",
            "neighbor_id",
            "embedding",
        )

    expr = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in pairs(cosine_pairs_expr).collect()
    }
    arrow = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in pairs(similarity.cosine_pairs).collect()
    }
    assert expr.keys() == arrow.keys()
    assert expr == arrow  # bit-exact, not approx
