"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the headline query set on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Materialization is a noop-sink write so the full plan executes
(including projection/column work a bare count() would prune) without
driver-side collect overhead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# One query per operator family, weighted toward the scale-critical
# paths (joins, windows, dedup, similarity, streaming-batch windows).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "pivot_status",
    "interval_join_fast_ship",
    "analytic_running_total",
    "islands_user_days",
    "asof_click_purchase",
    "session_windows",
    "events_tumbling_hourly",
    "dedup_minhash_lsh",
    "banded_simhash_dedup",
    "knn_bruteforce",
    "knn_ivf",
    "ann_ivf_sqrt_lists",
    "fingerprint",
    "analytic_rank_funcs",
    "cube_order_stats",
    "props_json_extract",
    "fp_winnow",
    "curation_funnel",
    "cluster_near_dups",
    "bpe_train_merges",
    "assign_hash_splits",
    "dedup_minhash_incremental",
    "cleanup_pii_redact",
    "cms_heavy_hitters",
    "batch_sequence_packing",
    "decontam_testset",
    "coverage_dup_spans",
    "cleanup_span_rewrite",
    "cascade_rollup_daily",
    "bm25_search_topk",
    "centrality_rank_suppliers",
    "bm25_relevance",
    "bpe_encode_corpus",
    "corpus_source_gate",
    "classifier_quality_score",
    "constraint_quality_audit",
    "audit_category_drift",
    "benchmark_decontam_semantic",
    "corpus_epoch_order",
    "canonicalize_url_dedup",
    "assign_group_splits",
    "cluster_soft_dedup",
    "audit_numeric_drift",
    "ann_ivf_append",
    "cluster_weighted_epoch",
    "benchmark_eval_overlap",
    "ann_ivf_filtered",
    "audit_embedding_drift",
    "banded_minhash_compaction",
    "ann_recall_audit",
    "ann_pq_adc",
    "audit_corpus_delta",
    "ann_hybrid_rrf",
    "audit_profile_columns",
    "audit_delta_severity",
    "ann_ivfpq_topk",
    "ann_pq_recall",
    "binary_image_ahash",
    "ann_ivfpq_refine",
    "ann_filtered_recall",
    "ann_int8_recall",
    "audit_profile_wide",
    "binary_audio_fingerprint",
    "audit_hot_buckets",
    "binary_video_fingerprint",
]


_ER_CORPUS_CACHE: dict = {}


def er_match_scale(spark, sf_dir: str, sf: float):
    """ER vote-name matching + backfill over the BASELINE.md synthetic
    snowflake shape, scaled by sf (sf0.1 -> 500 members x 25 years x
    2 chambers x 40 rolls = 500k votes, ~12.5k distinct name blocks).
    Tracks the signature capability (match_names.py pipeline) as a
    perf row; correctness is covered by er_blocked_name_match's
    driver oracle and tests/test_er_pipeline_ops.py.

    The synthetic corpus is generated and materialized ONCE (module
    cache, localCheckpoint): it is the bench INPUT — the analogue of
    the parquet files headline queries read untimed — so regenerating
    it inside the timer would charge data synthesis to the ER
    operator."""
    from palegislature_spark.er.scalegen import synthetic_vote_corpus
    from palegislature_spark.er.vote_names import (
        backfill_member_ids,
        match_vote_names,
        roll_years,
    )

    n_members = max(100, int(5000 * (sf if isinstance(sf, float) else 0.1)))
    if n_members not in _ER_CORPUS_CACHE:
        c = synthetic_vote_corpus(spark, n_members=n_members)
        _ER_CORPUS_CACHE[n_members] = {
            k: v.localCheckpoint() for k, v in c.items()
        }
    c = _ER_CORPUS_CACHE[n_members]
    matches = match_vote_names(
        c["votes"], c["roll_calls"], c["session_days"], c["members"], c["service"]
    )
    return backfill_member_ids(
        c["votes"], matches, roll_years(c["roll_calls"], c["session_days"])
    )


_EMB_COUNT_CACHE: dict[str, int] = {}


def _emb_count(spark, sf_dir: str) -> int:
    """Embedding-corpus cardinality, cached per sf_dir so the
    semantic_dedup_scale sizing hint costs zero Spark jobs inside the
    timed region (main() prewarms it alongside the lineitem warm-up)."""
    if sf_dir not in _EMB_COUNT_CACHE:
        from palegislature_spark.catalog import load

        _EMB_COUNT_CACHE[sf_dir] = load(spark, sf_dir, "embeddings").count()
    return _EMB_COUNT_CACHE[sf_dir]


def semantic_dedup_scale(spark, sf_dir: str, sf: float):
    """SemDeDup at the SCALE settings (sqrt-n list count) rather than
    the oracle-pinned n_lists=8 of the registry query — tracks the
    configuration a 100 TB run would use; correctness of the operator
    is driver-checked via the registry sibling."""
    from palegislature_spark.catalog import load
    from palegislature_spark.operators.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    # assignment impl sizing (arrow_exact below 1e5 vectors, arrow/BLAS
    # at or above — ~8x cheaper at 200k, BASELINE second-decade notes) now
    # lives INSIDE semantic_dedup (assign_impl=None auto-gate), so the
    # bench row runs the same default a production caller gets; the
    # sizing count is hoisted out of the timed region via the module
    # cache (main() prewarms it) so the measurement is pure query time
    return semantic_dedup(
        emb, n_lists=None, threshold=0.4, n_vectors=_emb_count(spark, sf_dir)
    )


_IVF_INDEX_CACHE: dict = {}


def pagerank_scale(spark, sf_dir: str, sf: float):
    """PageRank at the SCALE settings (plain map-side-combined sums)
    rather than the order-pinned exact_replay fold the registry
    query's oracle needs — tracks what a production run pays
    (exact-vs-scale agreement is pinned in tests/test_graph.py)."""
    from palegislature_spark.operators.graph import (
        pagerank,
        supplier_purchase_edges,
    )

    return pagerank(supplier_purchase_edges(spark, sf_dir), iters=3)


def ann_ivf_arrow(spark, sf_dir: str, sf: float):
    """The PRODUCTION IVF build+search configuration (VERDICT r9 #2):
    identical settings to the oracle-pinned ann_ivf_sqrt_lists row
    (sqrt-n lists, 1 Lloyd iteration, 2 probes) except the two
    operator defaults a real caller gets — the BLAS-batched arrow
    assignment (equality-tested vs the expression path in
    tests/test_ivf.py) and the parallel per-dimension Lloyd mean
    instead of the bit-replayable sequential fold. The registry
    sibling keeps assign_impl='arrow_exact'/exact_replay=True because the
    DuckDB oracle must replay the build bit-for-bit; THIS row is what
    the suite total should quote as the engine's actual ANN build
    cost."""
    from pyspark.sql import functions as F

    from palegislature_spark.catalog import load
    from palegislature_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        emb, queries, k=5, n_lists=None, n_probe=2, refine_iters=1,
        assign_impl="arrow", n_vectors=_emb_count(spark, sf_dir),
    )


def curation_pipeline_scale(spark, sf_dir: str, sf: float):
    """The END-TO-END curation pipeline as one composed plan (VERDICT
    r9 #8): quality gate -> exact dedup -> near-dup prune ->
    benchmark decontamination (eval = the held-out hash-split test
    set) -> temperature-mixture epoch draw -> deterministic global
    shuffle -> token packing. Every stage is an oracle-green registry
    component; this row times what the composed corpus-refresh job
    pays in ONE action (invariants pinned in tests/test_pipelines.py:
    exact 1..N positions, gapless token tiling, the floor/floor+1
    draw law, gated/contaminated exclusion)."""
    from pyspark.sql import functions as F

    from palegislature_spark.catalog import load
    from palegislature_spark.operators.sampling import hash_split
    from palegislature_spark.pipelines.curate import curation_epoch_plan

    docs = hash_split(
        load(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return curation_epoch_plan(
        docs.filter(F.col("split") != "test").drop("split"),
        docs.filter(F.col("split") == "test").drop("split"),
        budget=512,
    )


def knn_ivf_serve(spark, sf_dir: str, sf: float):
    """Serving-path cost of a PREBUILT IVF index (sqrt-n lists, one
    Lloyd iteration): the index is built once outside the timer (the
    build/serve split save_ivf_index exists for — an index outlives
    thousands of query batches), so this row times what a query batch
    actually pays: centroid probe + list-pruned candidate join."""
    from pyspark.sql import functions as F

    from palegislature_spark.catalog import load
    from palegislature_spark.operators.similarity import (
        ivf_assignments,
        ivf_probe,
    )

    if sf_dir not in _IVF_INDEX_CACHE:
        emb = load(spark, sf_dir, "embeddings")
        cents, assigns = ivf_assignments(emb, n_lists=None, refine_iters=1)
        _IVF_INDEX_CACHE[sf_dir] = (
            cents.localCheckpoint(),
            assigns.localCheckpoint(),
        )
    cents, assigns = _IVF_INDEX_CACHE[sf_dir]
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_probe(cents, assigns, queries, k=5, n_probe=2)


_IVF_DELTA_IDX_CACHE: dict = {}


def _ivf_delta_index(spark, sf_dir: str, n_deltas: int) -> str:
    """Persisted IVF index over the SAME embedding corpus at every
    delta count — 0 deltas = one compacted assignments dataset; N
    deltas = an 80% base plus N committed streaming deltas holding
    the rest.  Built once per (sf_dir, N) outside the min-of-reps
    timing (module cache, the knn_ivf_serve discipline), so the
    ``ivf_probe_deltas_*`` rows time exactly what changes: the
    reader's union width (VERDICT r11 #6, read amplification)."""
    import tempfile

    from palegislature_spark.catalog import load
    from palegislature_spark.operators.similarity import (
        ivf_append_delta,
        save_ivf_index,
    )

    key = (os.path.realpath(sf_dir), n_deltas)
    if key not in _IVF_DELTA_IDX_CACHE:
        emb = load(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix=f"sparkgraft_ivf_d{n_deltas}_")
        # arrow/BLAS assignment: this is untimed input prep and the
        # production build config (ann_ivf_arrow) — the expression
        # path exists for oracle replay, not for building bench inputs
        if n_deltas == 0:
            save_ivf_index(
                emb, path, n_lists=None, refine_iters=1,
                assign_impl="arrow",
            )
        else:
            save_ivf_index(
                emb.filter("vec_id % 5 != 0"), path,
                n_lists=None, refine_iters=1, assign_impl="arrow",
            )
            rest = emb.filter("vec_id % 5 = 0")
            for b in range(n_deltas):
                ivf_append_delta(
                    spark, path,
                    rest.filter(f"(vec_id div 5) % {n_deltas} = {b}"), b,
                )
        _IVF_DELTA_IDX_CACHE[key] = path
    return _IVF_DELTA_IDX_CACHE[key]


def _ivf_probe_deltas(n_deltas: int):
    """Serving-path cost of a persisted IVF index carrying
    ``n_deltas`` committed-unfolded streaming deltas: identical
    corpus, identical probe, only the union width differs — the
    measured read-amplification curve behind the index streams'
    ``max_deltas`` auto-compaction threshold."""

    def row(spark, sf_dir: str, sf: float):
        from pyspark.sql import functions as F

        from palegislature_spark.catalog import load
        from palegislature_spark.operators.similarity import (
            ivf_probe,
            load_ivf_index,
        )

        path = _ivf_delta_index(spark, sf_dir, n_deltas)
        cents, assigns = load_ivf_index(spark, path)
        queries = load(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < 20
        )
        return ivf_probe(cents, assigns, queries, k=5, n_probe=2)

    row.__name__ = f"ivf_probe_deltas_{n_deltas}"
    return row


# Bench-only entries (not registry queries: inputs are generated,
# prebuilt, or settings differ from the oracle-pinned registry
# siblings).
EXTRA = {
    "er_match_scale": er_match_scale,
    "semantic_dedup_scale": semantic_dedup_scale,
    "knn_ivf_serve": knn_ivf_serve,
    "pagerank_scale": pagerank_scale,
    "ann_ivf_arrow": ann_ivf_arrow,
    "curation_pipeline_scale": curation_pipeline_scale,
    "ivf_probe_deltas_0": _ivf_probe_deltas(0),
    "ivf_probe_deltas_8": _ivf_probe_deltas(8),
    "ivf_probe_deltas_32": _ivf_probe_deltas(32),
}


# Single source of truth for the default data dir: the scale-tag guard
# below compares realpaths against THIS constant (ADVICE r9 — a second
# inline literal would mislabel a symlinked/aliased default dir).
_DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", _DEFAULT_SF_DIR)
    from palegislature_spark.queries import REGISTRY
    from palegislature_spark.session import get_spark

    spark = get_spark("bench")

    # Derive a label like 0.1 from .../sf0.1
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = base

    # Untimed warm-up: JVM/codegen spin-up and input footer caching
    # would otherwise land entirely on the first timed query.
    from palegislature_spark.catalog import load

    load(spark, sf_dir, "lineitem").write.format("noop").mode("overwrite").save()
    _emb_count(spark, sf_dir)  # prewarm the sizing hint (see semantic_dedup_scale)

    # min-of-REPS per query: BENCH_r03 recorded 3-4.5x phantom
    # regressions on untouched code from co-resident load spikes; a
    # single-shot timer cannot police a 2x gate.  The min is the
    # least-load-contaminated observation; the max-min spread is kept
    # as a side field so a noisy run is visible in the artifact.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    # SPARK_GRAFT_BENCH_ONLY=name1,name2 re-measures a subset in a
    # fresh JVM — the idle re-measure protocol for heavy replica rows
    # (VERDICT r9 #1: the full sf10 suite saturates the box, so >10s
    # rows get their committed minima from per-row idle runs, merged
    # by tools/bench_merge.py with both observations kept). A partial
    # record is marked "partial" so it can never pass as a suite run.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only = [s for s in only_env.split(",") if s]
    if only:
        unknown = [n for n in only if n not in HEADLINE and n not in EXTRA]
        if unknown:
            raise SystemExit(f"unknown SPARK_GRAFT_BENCH_ONLY names: {unknown}")
    headline = [n for n in HEADLINE if not only or n in only]
    extra = {k: v for k, v in EXTRA.items() if not only or k in only}

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}

    colds: dict[str, float] = {}

    def timed(build):
        # The plan is built INSIDE the timed region on every rep: a
        # prebuilt plan would let any localCheckpoint inside the
        # builder (e.g. the MinHash candidate-pair set) materialize on
        # rep 1 and be reused by reps 2-3, so min() would exclude that
        # real cost. Rebuilding per rep charges it every time; the
        # first-rep time is additionally recorded as `cold` so the
        # fully-uncached cost stays visible even where later reps
        # benefit from OS page cache or shuffle reuse.
        samples = []
        for _ in range(reps):
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        return (
            round(min(samples), 3),
            round(max(samples) - min(samples), 3),
            round(samples[0], 3),
        )

    for name in headline:
        fn = REGISTRY[name].fn
        timings[name], spreads[name], colds[name] = timed(
            lambda fn=fn: fn(spark, sf_dir)
        )
    for name, fn in extra.items():
        # timer wraps the builder too: match_vote_names materializes
        # its fixpoint via localCheckpoint during plan construction
        timings[name], spreads[name], colds[name] = timed(
            lambda fn=fn: fn(spark, sf_dir, sf)
        )

    total = round(sum(timings.values()), 3)
    # loadavg at finish: round-over-round deltas are only attributable
    # when co-resident machine load is recorded alongside the numbers
    # (BASELINE.md documents a ~1.4x swing from load alone).
    la1, la5, la15 = (round(x, 2) for x in os.getloadavg())
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "cold": colds,
        "reps": reps,
        "sf": sf,
        "loadavg": [la1, la5, la15],
    }
    if only:
        # a subset run can never pass as a suite record; its rows merge
        # into one via tools/bench_merge.py
        full["partial"] = True
        full["only"] = sorted(only)
    # The full record (spread/cold included) is ~4 KB — longer than a
    # harvester capturing only a bounded stdout tail can hold, which
    # is how BENCH_r05/r06 ended up with parsed:null.  Persist it to a
    # round-stamped repo file and keep STDOUT to one compact (<2 KB)
    # line: suite total plus per-query minima at 2dp.  The compact
    # line is printed LAST so any tail capture ends with complete,
    # parseable JSON.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if not out_path:
        # round number comes from the driver family (BENCH_r*.json:
        # max+1 == the round in progress); the suffix loop below
        # guarantees a second local run in the same round never
        # silently overwrites the first (ADVICE r7) — it lands in
        # BENCH_LOCAL_r{n}-a.json, -b.json, ...
        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        nxt = (max(rounds) + 1) if rounds else 0
        # non-default scale runs (the 10x/100x replicas) get their own
        # artifact family — BENCH_LOCAL_r{n}_sf1.json, _sf10.json — so
        # second-decade numbers land as committed raw JSON beside the
        # sf0.1 records instead of only as BASELINE.md prose (VERDICT
        # r8 #2); the label derives from the directory basename
        scale_tag = ""
        if os.path.realpath(sf_dir) != os.path.realpath(_DEFAULT_SF_DIR):
            label = re.sub(r"[^A-Za-z0-9.]+", "", base.replace("sparkgraft_", ""))
            scale_tag = f"_{label}" if label else "_alt"
        if only:
            # subset re-measures must never claim the suite filename
            scale_tag += "_partial"
        out_path = os.path.join(here, f"BENCH_LOCAL_r{nxt:02d}{scale_tag}.json")
        suffix = ord("a")
        while os.path.exists(out_path):
            out_path = os.path.join(
                here, f"BENCH_LOCAL_r{nxt:02d}{scale_tag}-{chr(suffix)}.json"
            )
            suffix += 1
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    compact = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "loadavg": [la1, la5, la15],
        "full_record": os.path.basename(out_path),
    }
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
