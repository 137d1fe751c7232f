"""Incremental MinHash dedup: batch-vs-corpus pairs must equal the
full recompute restricted to pairs touching the batch."""

from __future__ import annotations

import pytest

from palegislature_spark.operators import dedup
from palegislature_spark.catalog import load


@pytest.fixture(scope="module")
def split_corpus(spark):
    docs = load(spark, "/root/testdata/sf0.01", "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    return docs, corpus, batch


def pairs_set(df):
    return {(r["id_1"], r["id_2"]) for r in df.collect()}


def test_incremental_equals_full_recompute_restricted(spark, split_corpus):
    docs, corpus, batch = split_corpus
    full = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    want = {
        p
        for p in pairs_set(full)
        if p[0] in batch_ids or p[1] in batch_ids
    }
    assert want, "fixture must contain near-dup pairs touching the batch"

    index = dedup.minhash_index(corpus, "doc_id", "text", n=3)
    got = dedup.minhash_lsh_pairs_incremental(
        batch, corpus, index, "doc_id", "text", n=3, threshold=0.8
    )
    assert pairs_set(got) == want


def test_incremental_skips_corpus_signature_work(spark, split_corpus, tmp_path):
    """With the index READ FROM DISK (the real pipeline shape — a live
    index DataFrame would lazily recompute corpus signatures through
    its lineage), the incremental plan must not re-sign the corpus:
    corpus text reaches the verify stage only behind the candidate-id
    semi-join, and the only signature aggregate left is the batch's."""
    _, corpus, batch = split_corpus
    idx_path = str(tmp_path / "mh_index")
    dedup.minhash_index(corpus, "doc_id", "text", n=3).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    got = dedup.minhash_lsh_pairs_incremental(
        batch, corpus, index, "doc_id", "text", n=3, threshold=0.8
    )
    # result matches the full recompute restricted to batch-touching
    # pairs (index-from-disk path)
    full = dedup.minhash_lsh_pairs(
        corpus.unionByName(batch), "doc_id", "text", n=3, threshold=0.8
    )
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    want = {
        p for p in pairs_set(full) if p[0] in batch_ids or p[1] in batch_ids
    }
    assert pairs_set(got) == want

    # behavioral proof the corpus side flows through the INDEX, never a
    # recomputed signature pass over corpus text (plan-string proxies
    # are unreliable here — the candidate checkpoint truncates lineage):
    # with an EMPTY index the corpus text is still available, yet every
    # corpus-side pair must vanish, leaving only new-vs-new pairs
    empty = index.limit(0)
    nn_only = dedup.minhash_lsh_pairs_incremental(
        batch, corpus, empty, "doc_id", "text", n=3, threshold=0.8
    )
    nn_want = {p for p in want if p[0] in batch_ids and p[1] in batch_ids}
    assert pairs_set(nn_only) == nn_want


def test_index_lifecycle_compaction_preserves_served_candidates(
    spark, split_corpus, tmp_path
):
    """save -> append x2 -> compact: the compacted generation holds the
    identical (id, band, band_key) row set as a single-shot index
    build, in fewer files, and a batch dedup served from it returns
    the identical pair set — compaction must be row-set-preserving."""
    _, corpus, batch = split_corpus
    root = str(tmp_path / "mh_gen_idx")
    dedup.save_minhash_index(
        dedup.minhash_index(
            corpus.filter("doc_id % 3 = 0"), "doc_id", "text", n=3
        ),
        root,
    )
    for epoch in (1, 2):
        dedup.append_minhash_index_delta(
            spark, root, corpus.filter(f"doc_id % 3 = {epoch}"), epoch,
            "doc_id", "text", n=3,
        )
    before = dedup.load_minhash_index(spark, root)
    single_shot = dedup.minhash_index(corpus, "doc_id", "text", n=3)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(before) == rows(single_shot)

    pre_pairs = pairs_set(
        dedup.minhash_lsh_pairs_incremental(
            batch, corpus, before, "doc_id", "text", n=3, threshold=0.8
        )
    )
    stats = dedup.compact_minhash_index(spark, root)
    after = dedup.load_minhash_index(spark, root)
    assert rows(after) == rows(single_shot)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == single_shot.count()
    post_pairs = pairs_set(
        dedup.minhash_lsh_pairs_incremental(
            batch, corpus, after, "doc_id", "text", n=3, threshold=0.8
        )
    )
    assert post_pairs == pre_pairs and pre_pairs


def test_index_compaction_commit_is_atomic(spark, split_corpus, tmp_path):
    """Crash-window behavior: a generation directory WITHOUT its
    marker is invisible (readers stay on the committed one), and a
    second compaction prunes generations older than the previous —
    the one-cycle retention window of the merge-layer protocol."""
    import os

    _, corpus, _ = split_corpus
    sub = corpus.filter("doc_id < 200")
    root = str(tmp_path / "mh_atomic")
    dedup.save_minhash_index(
        dedup.minhash_index(sub, "doc_id", "text", n=3), root
    )
    baseline = sorted(map(tuple, dedup.load_minhash_index(spark, root).collect()))

    # simulate a compaction that died before its marker commit: a fully
    # written gen dir with NO marker must not be read
    spark.createDataFrame(
        [(999999, 0, 0)], "doc_id long, band int, band_key long"
    ).write.parquet(f"{root}/gen-000001")
    assert sorted(
        map(tuple, dedup.load_minhash_index(spark, root).collect())
    ) == baseline

    # next compaction overwrites the orphaned gen-1 dir and commits it
    dedup.compact_minhash_index(spark, root)
    assert sorted(
        map(tuple, dedup.load_minhash_index(spark, root).collect())
    ) == baseline
    dedup.compact_minhash_index(spark, root)  # commits gen 2, prunes gen 0
    dirs = set(os.listdir(root))
    assert "gen-000000" not in dirs and "_BANDGEN-000000" not in dirs
    assert sorted(
        map(tuple, dedup.load_minhash_index(spark, root).collect())
    ) == baseline
