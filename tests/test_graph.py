"""PageRank tests: pure-Python reference parity on a handcrafted
graph, and scale-path vs exact-replay agreement."""

from __future__ import annotations

from palegislature_spark.operators.graph import pagerank

EDGES = [
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("d", "c"),  # d is a source-only node; a,b,c cycle
]


def _py_pagerank(edges, iters=3, d=0.85):
    nodes = sorted({n for e in edges for n in e})
    deg = {}
    for s, _t in set(edges):
        deg[s] = deg.get(s, 0) + 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(iters):
        incoming = {n: [] for n in nodes}
        for s, t in sorted(set(edges)):
            incoming[t].append((s, rank[s] / deg[s]))
        new = {}
        for n in nodes:
            acc = 0.0
            for _s, c in sorted(incoming[n]):
                acc = acc + c
            new[n] = (1.0 - d) + d * acc
        rank = new
    return rank


def test_pagerank_matches_python_reference_exactly(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {
        r.node: r.rank
        for r in pagerank(df, iters=3, exact_replay=True).collect()
    }
    want = _py_pagerank(EDGES)
    assert got == want  # bit-exact: same IEEE fold order


def test_pagerank_scale_path_agrees_with_exact(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    exact = {
        r.node: r.rank
        for r in pagerank(df, iters=3, exact_replay=True).collect()
    }
    fast = {
        r.node: r.rank for r in pagerank(df, iters=3).collect()
    }
    assert set(exact) == set(fast)
    for n in exact:
        assert abs(exact[n] - fast[n]) < 1e-9


def test_pagerank_sink_accumulates_dangling_leaks_nothing(spark):
    # a single chain x -> y: y gets x's full rank, x settles at 1-d
    df = spark.createDataFrame([("x", "y")], ["src", "dst"])
    got = {
        r.node: r.rank
        for r in pagerank(df, iters=2, exact_replay=True).collect()
    }
    assert abs(got["x"] - 0.15000000000000002) < 1e-15
    # y after round 2: 0.15 + 0.85 * (rank_x_round1 / 1)
    assert abs(got["y"] - (0.15000000000000002 + 0.85 * got["x"])) < 1e-12


from hypothesis import given, settings
from hypothesis import strategies as st

_edge = st.tuples(
    st.sampled_from(["a", "b", "c", "d", "e"]),
    st.sampled_from(["a", "b", "c", "d", "e"]),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_edge, min_size=1, max_size=12))
def test_pagerank_random_graphs_match_reference(spark, edges):
    """Random small directed graphs (self-loops and duplicate edges
    included — pagerank distincts them) pin the exact_replay path
    bit-for-bit against the pure-Python power iteration."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.node: r.rank
        for r in pagerank(df, iters=3, exact_replay=True).collect()
    }
    assert got == _py_pagerank(edges)

