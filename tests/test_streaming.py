"""Structured Streaming tests: windows match batch, dedup within
watermark, incremental merge sink across micro-batches."""

from __future__ import annotations

import datetime as dt

import pytest

from palegislature_spark import streaming
from pyspark.sql import functions as F
from pyspark.sql import types as T
from tests.conftest import rows

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

TS = dt.datetime

EVENTS_B1 = [
    (1, TS(2024, 1, 1, 10, 5), 1, "click", 1.0),
    (2, TS(2024, 1, 1, 10, 20), 1, "click", 2.0),
    (3, TS(2024, 1, 1, 11, 10), 2, "buy", 10.0),
    (3, TS(2024, 1, 1, 11, 10), 2, "buy", 10.0),  # duplicate event_id
]
EVENTS_B2 = [
    (4, TS(2024, 1, 1, 11, 40), 1, "click", 3.0),
    (5, TS(2024, 1, 1, 12, 30), 2, "buy", 20.0),
]


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    spark.createDataFrame(EVENTS_B1, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(d)
    )
    spark.createDataFrame(EVENTS_B2, SCHEMA).coalesce(1).write.mode("append").parquet(
        str(d)
    )
    return str(d)


def drain(q):
    q.awaitTermination(120)


def test_tumbling_counts_matches_batch(spark, stream_dir, tmp_path):
    stream = streaming.read_stream(spark, stream_dir, SCHEMA)
    out = streaming.tumbling_counts(stream, window="1 hour", watermark="10 hours")
    q = streaming.run_available_now(out, str(tmp_path / "cp"), "tumbling_t", output_mode="complete")
    drain(q)
    got = rows(
        spark.table("tumbling_t"), "window_start", "event_type", "n", "sum_value"
    )
    batch = spark.createDataFrame(EVENTS_B1 + EVENTS_B2, SCHEMA)
    want = rows(
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"),
        "window_start",
        "event_type",
        "n",
        "sum_value",
    )
    assert got == want
    assert len(got) == 4  # 10h click, 11h buy(x2 dup), 11h click, 12h buy


def test_session_windows_stream(spark, stream_dir, tmp_path):
    stream = streaming.read_stream(spark, stream_dir, SCHEMA)
    out = streaming.session_counts(stream, gap="30 minutes", watermark="10 hours")
    q = streaming.run_available_now(out, str(tmp_path / "cp"), "sessions_t", output_mode="complete")
    drain(q)
    got = rows(spark.table("sessions_t"), "user_id", "session_start", "n_events")
    # user 1: 10:05+10:20 one session (gap<30m), 11:40 separate;
    # user 2: 11:10 (dup collapses into same session, 2 events), 12:30
    assert got == [
        (1, TS(2024, 1, 1, 10, 5), 2),
        (1, TS(2024, 1, 1, 11, 40), 1),
        (2, TS(2024, 1, 1, 11, 10), 2),
        (2, TS(2024, 1, 1, 12, 30), 1),
    ]


def test_dedup_within_watermark(spark, stream_dir, tmp_path):
    stream = streaming.read_stream(spark, stream_dir, SCHEMA)
    out = streaming.dedup_within_watermark(stream, keys=["event_id"], watermark="10 hours")
    q = streaming.run_available_now(out, str(tmp_path / "cp"), "dedup_t")
    drain(q)
    got = rows(spark.table("dedup_t"), "event_id")
    assert got == [(1,), (2,), (3,), (4,), (5,)]


def test_stream_upsert_parquet_incremental(spark, stream_dir, tmp_path):
    sink_path = str(tmp_path / "sink")
    stream = streaming.read_stream(
        spark, stream_dir, SCHEMA, max_files_per_trigger=1
    )
    q = streaming.stream_upsert_parquet(
        stream, sink_path, keys=["event_id"], checkpoint_dir=str(tmp_path / "cp")
    )
    drain(q)
    got = rows(spark.read.parquet(sink_path), "event_id")
    # duplicate event 3 merged by key across micro-batches
    assert got == [(1,), (2,), (3,), (4,), (5,)]


def test_value_transitions_stateful(spark, tmp_path):
    """applyInPandasWithState: emit only on value change, state carried
    ACROSS micro-batches (maxFilesPerTrigger=1 forces two batches),
    reverted values re-emit (the semantics dropDuplicates cannot give)."""
    d = tmp_path / "status_stream"
    b1 = [
        (1, TS(2024, 1, 1, 10, 0), 1, "status", 1.0),
        (2, TS(2024, 1, 1, 10, 10), 1, "status", 1.0),  # repeat: suppressed
        (3, TS(2024, 1, 1, 10, 20), 1, "status", 2.0),  # change: emit
        (4, TS(2024, 1, 1, 10, 0), 2, "status", 5.0),
    ]
    b2 = [
        (5, TS(2024, 1, 1, 11, 0), 1, "status", 2.0),  # repeat across batch
        (6, TS(2024, 1, 1, 11, 10), 1, "status", 1.0),  # revert: emit again
        (7, TS(2024, 1, 1, 11, 0), 2, "status", 5.0),  # repeat: suppressed
    ]
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))

    stream = streaming.read_stream(spark, str(d), SCHEMA, max_files_per_trigger=1)
    out = streaming.value_transitions(stream, "user_id", "ts", "value")
    q = streaming.run_available_now(out, str(tmp_path / "cp"), "transitions_t")
    drain(q)
    got = rows(
        spark.table("transitions_t"),
        "user_id",
        "ts",
        "value",
        "prev_value",
    )
    assert got == [
        (1, TS(2024, 1, 1, 10, 0), 1.0, None),
        (1, TS(2024, 1, 1, 10, 20), 2.0, 1.0),
        (1, TS(2024, 1, 1, 11, 10), 1.0, 2.0),
        (2, TS(2024, 1, 1, 10, 0), 5.0, None),
    ]


def test_stream_stream_interval_join(spark, tmp_path):
    """Two real file streams joined on user within a 1-hour interval;
    maxFilesPerTrigger=1 forces the join to buffer left rows in state
    across micro-batches (click arrives a batch before its purchase).
    Result must equal the batch interval join over the union."""
    clicks_d, buys_d = tmp_path / "clicks", tmp_path / "buys"
    clicks_b1 = [
        (1, TS(2024, 1, 1, 10, 0), 1, "click", 1.0),
        (2, TS(2024, 1, 1, 10, 30), 2, "click", 2.0),
    ]
    clicks_b2 = [
        (3, TS(2024, 1, 1, 12, 0), 1, "click", 3.0),
    ]
    buys_b1 = [
        (10, TS(2024, 1, 1, 10, 45), 1, "purchase", 9.0),  # joins click 1
    ]
    buys_b2 = [
        (11, TS(2024, 1, 1, 12, 20), 1, "purchase", 8.0),  # joins click 3
        (12, TS(2024, 1, 1, 13, 0), 2, "purchase", 7.0),  # >1h after click 2: no join
    ]
    for d, batches in ((clicks_d, (clicks_b1, clicks_b2)), (buys_d, (buys_b1, buys_b2))):
        for b in batches:
            spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(
                str(d)
            )

    out = streaming.stream_interval_join(
        streaming.read_stream(spark, str(clicks_d), SCHEMA, max_files_per_trigger=1),
        streaming.read_stream(spark, str(buys_d), SCHEMA, max_files_per_trigger=1),
        key="user_id",
        upper="1 hour",
        watermark="4 hours",
    )
    q = streaming.run_available_now(out, str(tmp_path / "cp"), "ssj_t")
    drain(q)
    got = rows(spark.table("ssj_t"), "l_event_id", "r_event_id")
    assert got == [(1, 10), (3, 11)]

    # batch oracle: same join condition over the full tables
    c = spark.createDataFrame(clicks_b1 + clicks_b2, SCHEMA)
    b = spark.createDataFrame(buys_b1 + buys_b2, SCHEMA)
    want = rows(
        c.alias("c")
        .join(
            b.alias("b"),
            (F.col("c.user_id") == F.col("b.user_id"))
            & (F.col("c.ts") <= F.col("b.ts"))
            & (F.col("c.ts") >= F.col("b.ts") - F.expr("INTERVAL 1 hour")),
        )
        .select(F.col("c.event_id").alias("l"), F.col("b.event_id").alias("r")),
        "l",
        "r",
    )
    assert got == want


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_curate_stream_gates_and_dedups_across_batches(spark, tmp_path):
    """Streaming funnel front half: quality gate + exact-content dedup
    with bounded state, duplicates suppressed even ACROSS
    micro-batches (maxFilesPerTrigger=1 forces two)."""
    good = "the a of and " + " ".join(f"w{i}" for i in range(36))
    other = "the a of and " + " ".join(f"x{i}" for i in range(36))
    d = tmp_path / "docs_stream"
    b1 = [
        (1, TS(2024, 1, 1, 10, 0), good),
        (2, TS(2024, 1, 1, 10, 5), good),        # same content: dropped
        (3, TS(2024, 1, 1, 10, 10), "too short"),  # gated out
    ]
    b2 = [
        (4, TS(2024, 1, 1, 10, 20), good),        # dup across batches: dropped
        (5, TS(2024, 1, 1, 10, 30), other),       # new content: kept
    ]
    spark.createDataFrame(b1, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
    spark.createDataFrame(b2, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(str(d))

    stream = streaming.read_stream(spark, str(d), DOC_SCHEMA, max_files_per_trigger=1)
    out = streaming.curate_stream(stream)
    q = streaming.run_available_now(out, str(tmp_path / "cp"), "curated_t")
    drain(q)
    got = rows(spark.table("curated_t"), "doc_id")
    assert got == [(1,), (5,)]


def test_stream_then_compact_equals_batch_funnel(spark, tmp_path):
    """End-to-end composed contract (streaming front half -> merge
    sink -> batch compaction): the kept set equals running the pure
    batch funnel over the full corpus.

    The straggler (doc 7) repeats doc 5's text AFTER the watermark
    evicted its dedup state, so it passes the stream and must be
    caught by the compaction's corpus-wide exact-dedup; doc 3 is a
    near-dup only the compaction's MinHash stage can see. Same-text
    rows never share a micro-batch, so the stream's first-seen
    tie-break agrees with the batch funnel's smaller-id-wins."""
    from palegislature_spark import pipelines as P

    A = "the a of and " + " ".join(f"w{i}" for i in range(36))
    nearA = A.replace(" w17 ", " x17 ", 1)
    B = "the a of and " + " ".join(f"x{i}" for i in range(36))
    C = "the a of and " + " ".join(f"y{i}" for i in range(36))
    D = "the a of and " + " ".join(f"z{i}" for i in range(36))
    E = "the a of and " + " ".join(f"v{i}" for i in range(36))
    batches = [
        [(1, TS(2024, 1, 1, 10, 0), A),
         (3, TS(2024, 1, 1, 10, 10), nearA),
         (4, TS(2024, 1, 1, 10, 15), "too short")],
        [(2, TS(2024, 1, 1, 10, 20), A),      # in-watermark dup: stream drops
         (5, TS(2024, 1, 1, 10, 30), B),
         (8, TS(2024, 1, 1, 10, 40), C)],
        [(9, TS(2024, 1, 1, 13, 0), D)],      # advances watermark past B's state
        # the watermark for batch N derives from data through N-1 and
        # state cleanup runs at batch end, so B's entry is evicted only
        # at the END of this batch — one more batch before the straggler
        [(10, TS(2024, 1, 1, 13, 5), E)],
        [(7, TS(2024, 1, 1, 13, 10), B)],     # straggler dup: stream emits
    ]
    src = tmp_path / "docs_src"
    for b in batches:
        spark.createDataFrame(b, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = streaming.read_stream(spark, str(src), DOC_SCHEMA, max_files_per_trigger=1)
    out = streaming.curate_stream(stream, watermark="1 hour")
    sink_path = str(tmp_path / "curated_sink")
    q = streaming.stream_upsert_parquet(
        out, sink_path, ["doc_id"], str(tmp_path / "cp")
    )
    drain(q)

    streamed = spark.read.parquet(sink_path)
    # the stream let the straggler through (bounded state is the point)
    assert sorted(r["doc_id"] for r in streamed.collect()) == [1, 3, 5, 7, 8, 9, 10]

    composed_kept = rows(
        P.compact_curated(streamed.select("doc_id", "text")), "doc_id"
    )
    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], DOC_SCHEMA
    ).select("doc_id", "text")
    batch_kept = rows(
        P.curate_documents(all_docs).filter("status = 'kept'").select("doc_id"),
        "doc_id",
    )
    assert (
        composed_kept
        == [(r[0],) for r in batch_kept]
        == [(1,), (5,), (8,), (9,), (10,)]
    )


def test_decontam_stream_drops_overlap_statelessly(spark, tmp_path):
    """Streaming decontamination: a doc sharing a 5-gram with the eval
    set is dropped, a clean doc passes, and the streaming plan carries
    NO state operator (pure per-row bloom probes)."""
    run = "alpha beta gamma delta epsilon"
    eval_docs = spark.createDataFrame(
        [(100, f"{run} zeta eta theta")], "doc_id long, text string"
    )
    d = tmp_path / "docs_decontam"
    batch = [
        (1, TS(2024, 1, 1, 10, 0), f"start words {run} more words here"),
        (2, TS(2024, 1, 1, 10, 5), "totally clean content nothing shared at all ok"),
        (3, TS(2024, 1, 1, 10, 10), "alpha beta gamma delta other tail words"),  # 4-gram only: kept
    ]
    spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))

    stream = streaming.read_stream(spark, str(d), DOC_SCHEMA)
    out = streaming.decontam_stream(stream, eval_docs)
    q = streaming.run_available_now(out, str(tmp_path / "cp_dc"), "decontam_t")
    drain(q)
    got = rows(spark.table("decontam_t"), "doc_id")
    assert got == [(2,), (3,)]
    # stateless: no state store operator ran
    progress = q.lastProgress
    assert progress is None or progress["stateOperators"] == []


def test_decontam_stream_no_false_negatives_vs_exact(spark, sf_dir):
    """Bloom screening must catch EVERY document the exact batch
    decontamination flags (no false negatives — the safe direction);
    over-drops are allowed only at the filter's design rate."""
    from palegislature_spark.operators.contamination import decontaminate
    from palegislature_spark.operators.sampling import hash_split
    from palegislature_spark.catalog import load

    docs = hash_split(
        load(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    train = docs.filter(F.col("split") != "test").select("doc_id", "text")
    eval_df = docs.filter(F.col("split") == "test").select("doc_id", "text")

    exact = decontaminate(train, eval_df, n=5)
    flagged = {r.doc_id for r in exact.filter("contaminated").collect()}
    # decontam_stream is a pure projection+filter: valid on batch too
    survivors = {
        r.doc_id
        for r in streaming.decontam_stream(train, eval_df).collect()
    }
    assert flagged.isdisjoint(survivors)
    # over-drop bounded: survivors + flagged should cover nearly all
    total = train.count()
    dropped = total - len(survivors)
    assert dropped >= len(flagged)
    assert dropped - len(flagged) <= max(5, total // 20)


def test_stream_upsert_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop-and-restart semantics: a second availableNow run on the
    SAME checkpoint processes only files added since the first run,
    and the merge sink's key-idempotence leaves exactly the batch
    result — no duplicates, no reprocessing."""
    src = tmp_path / "restart_src"
    table = str(tmp_path / "restart_table")
    cp = str(tmp_path / "restart_cp")

    def write_file(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run_once():
        stream = streaming.read_stream(spark, str(src), SCHEMA)
        q = streaming.stream_upsert_parquet(
            stream, table, ["event_id"], cp
        )
        q.awaitTermination(120)

    write_file(EVENTS_B1)
    run_once()
    first = rows(spark.read.parquet(table), "event_id")
    assert first == [(1,), (2,), (3,)]  # in-batch dup of id 3 merged

    # restart with new data only; id 3 re-sent with a NEWER value —
    # merge-by-key keeps one row per key
    write_file(EVENTS_B2 + [(3, TS(2024, 1, 1, 11, 50), 2, "buy", 11.0)])
    run_once()
    got = rows(spark.read.parquet(table), "event_id")
    assert got == [(1,), (2,), (3,), (4,), (5,)]
    assert spark.read.parquet(table).count() == 5


def test_cms_stream_merge_equals_batch_sketch(spark, tmp_path):
    """Streamed per-batch sketches merged by (row, bucket) equal the
    one-shot sketch of the full corpus EXACTLY (integer counters),
    and estimates off the streamed state match batch estimates."""
    from palegislature_spark.operators.sketch import cms_estimate, cms_sketch

    d = tmp_path / "cms_docs"
    b1 = [(1, TS(2024, 1, 1, 10, 0), "spark hash spark join")]
    b2 = [(2, TS(2024, 1, 1, 10, 5), "spark window hash"),
          (3, TS(2024, 1, 1, 10, 6), "join join join")]
    for b in (b1, b2):
        spark.createDataFrame(b, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    table = str(tmp_path / "cms_state")
    stream = streaming.read_stream(spark, str(d), DOC_SCHEMA, max_files_per_trigger=1)
    q = streaming.cms_heavy_hitter_stream(stream, table)
    drain(q)

    all_docs = spark.createDataFrame(b1 + b2, DOC_SCHEMA)
    toks = all_docs.select(F.explode(F.split("text", " ")).alias("token"))
    want = rows(cms_sketch(toks, "token"), "row", "bucket", "cnt")
    got = rows(spark.read.parquet(table), "row", "bucket", "cnt")
    assert got == want

    items = spark.createDataFrame([("spark",), ("join",)], ["token"])
    est = {
        r.token: r.est
        for r in cms_estimate(spark.read.parquet(table), items).collect()
    }
    assert est["spark"] >= 3 and est["join"] >= 4  # one-sided overestimate

    # --- at-least-once replay (ADVICE r5): wipe the checkpoint so the
    # same two batches replay with the same batch ids; the additive
    # merge must skip them via the persisted last_batch stamp.
    import shutil

    shutil.rmtree(table + "_cp")
    q = streaming.cms_heavy_hitter_stream(
        streaming.read_stream(spark, str(d), DOC_SCHEMA, max_files_per_trigger=1),
        table,
    )
    drain(q)
    assert rows(spark.read.parquet(table), "row", "bucket", "cnt") == want

    # --- crash mid-swap (ADVICE r5): live renamed aside but staging
    # never promoted. The next sink run must recover from .__old__
    # rather than rebuilding state from a single batch.
    import os

    os.rename(table, table + ".__old__")
    shutil.rmtree(table + "_cp")
    q = streaming.cms_heavy_hitter_stream(
        streaming.read_stream(spark, str(d), DOC_SCHEMA, max_files_per_trigger=1),
        table,
    )
    drain(q)
    assert rows(spark.read.parquet(table), "row", "bucket", "cnt") == want

    # --- crash between old-aside and staging-promote: live missing but
    # staging committed (_SUCCESS present) — recovery must prefer the
    # newer staging copy, and the batch_id stamps then no-op the replay.
    os.rename(table, table + ".__staging__")
    shutil.rmtree(table + "_cp")
    q = streaming.cms_heavy_hitter_stream(
        streaming.read_stream(spark, str(d), DOC_SCHEMA, max_files_per_trigger=1),
        table,
    )
    drain(q)
    assert rows(spark.read.parquet(table), "row", "bucket", "cnt") == want


def test_category_count_stream_and_generation_drift(spark, tmp_path):
    """Streaming drift monitor: per-batch category histograms merge
    additively into the persisted counts table (== one-shot batch
    histogram of the union), a checkpoint-wiped replay no-ops via the
    last_batch stamp, and diffing two persisted generations with
    drift_between_generations flags the planted shift — including a
    category that only exists in the newer generation."""
    import shutil

    from palegislature_spark.operators.audit import (
        category_counts,
        drift_between_generations,
    )

    schema = "id long, status string, prio string"
    d = tmp_path / "gen1_stream"
    b1 = [(1, "A", "x"), (2, "A", "x"), (3, "B", "x")]
    b2 = [(4, "A", "y"), (5, "B", "y")]
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(
            str(d)
        )

    import pyspark.sql.types as T

    sschema = T.StructType.fromDDL(schema)
    table = str(tmp_path / "cat_counts")
    q = streaming.category_count_stream(
        streaming.read_stream(spark, str(d), sschema, max_files_per_trigger=1),
        table,
        ["status", "prio"],
    )
    drain(q)

    want = rows(
        category_counts(spark.createDataFrame(b1 + b2, schema), ["status", "prio"]),
        "column", "category", "n",
    )
    got = rows(
        spark.read.parquet(table).select("column", "category", "n"),
        "column", "category", "n",
    )
    assert got == want

    # at-least-once replay: wipe the checkpoint, same batch ids replay
    shutil.rmtree(table + "_cp")
    q = streaming.category_count_stream(
        streaming.read_stream(spark, str(d), sschema, max_files_per_trigger=1),
        table,
        ["status", "prio"],
    )
    drain(q)
    assert rows(
        spark.read.parquet(table).select("column", "category", "n"),
        "column", "category", "n",
    ) == want

    # generation drift: second window shifts status and births prio 'z'
    gen1 = spark.read.parquet(table).select("column", "category", "n")
    newer = spark.createDataFrame(
        [(6, "B", "z"), (7, "B", "z"), (8, "A", "z"), (9, "B", "z")], schema
    )
    gen2_counts = category_counts(
        spark.createDataFrame(b1 + b2, schema).unionByName(newer),
        ["status", "prio"],
    )
    rep = {
        (r.column, r.category): r
        for r in drift_between_generations(gen1, gen2_counts, 0.2).collect()
    }
    # status: A 3/5 -> 4/9 (shift .155, under), B 2/5 -> 5/9 (.155 under)
    assert not rep[("status", "A")].drifted
    # prio z: 0 -> 4/9 = .44 shift, flagged; n_prev 0-filled
    z = rep[("prio", "z")]
    assert z.n_prev == 0 and z.drifted


def test_numeric_bin_count_stream_and_generation_ks(spark, tmp_path):
    """Numeric twin of the categorical drift monitor: per-batch
    fixed-edge histograms merge additively into the persisted bin
    table (== one-shot numeric_bin_counts of the union), a
    checkpoint-wiped replay no-ops via the last_batch stamp, and
    diffing two generations with numeric_drift_between_generations
    reproduces the one-shot split-based KS."""
    import shutil

    from palegislature_spark.operators.audit import (
        numeric_bin_counts,
        numeric_drift,
        numeric_drift_between_generations,
    )

    schema = "id long, val double"
    bins = {"val": (0.0, 100.0, 10)}
    d = tmp_path / "num_stream"
    b1 = [(1, 5.0), (2, 5.0), (3, 95.0)]
    b2 = [(4, 5.0), (5, None)]
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(
            str(d)
        )

    import pyspark.sql.types as T

    sschema = T.StructType.fromDDL(schema)
    table = str(tmp_path / "num_counts")
    q = streaming.numeric_bin_count_stream(
        streaming.read_stream(spark, str(d), sschema, max_files_per_trigger=1),
        table,
        bins,
    )
    drain(q)

    want = rows(
        numeric_bin_counts(spark.createDataFrame(b1 + b2, schema), bins),
        "column", "bin", "n",
    )
    assert rows(
        spark.read.parquet(table).select("column", "bin", "n"),
        "column", "bin", "n",
    ) == want

    # at-least-once replay: wipe the checkpoint, same batch ids replay
    shutil.rmtree(table + "_cp")
    q = streaming.numeric_bin_count_stream(
        streaming.read_stream(spark, str(d), sschema, max_files_per_trigger=1),
        table,
        bins,
    )
    drain(q)
    assert rows(
        spark.read.parquet(table).select("column", "bin", "n"),
        "column", "bin", "n",
    ) == want

    # generation KS: a high-bin-heavy second window; the generation
    # diff must equal the one-shot split computation on the same data
    gen1 = spark.read.parquet(table).select("column", "bin", "n")
    newer = [(6, 95.0), (7, 95.0), (8, 95.0), (9, 5.0)]
    gen2 = numeric_bin_counts(
        spark.createDataFrame(b1 + b2 + newer, schema), bins
    )
    got = numeric_drift_between_generations(gen1, gen2, 300).collect()[0]
    both = (
        spark.createDataFrame(b1 + b2, schema).withColumn("c", F.lit(False))
        .unionByName(
            spark.createDataFrame(b1 + b2 + newer, schema).withColumn(
                "c", F.lit(True)
            )
        )
    )
    ref = numeric_drift(both, F.col("c"), bins, 300).collect()[0]
    assert (got.total_prev, got.total_cur, got.ks_stat, got.drifted) == (
        ref.total_prev, ref.total_cur, ref.ks_stat, ref.drifted
    )


def test_embedding_list_mass_stream_and_generation_tv(spark, tmp_path):
    """Embedding leg of the streaming drift monitor: per-batch
    frozen-centroid list masses merge additively into the persisted
    table (== one-shot embedding_list_masses of the union), a
    checkpoint-wiped replay no-ops via the last_batch stamp, and
    diffing two mass generations reproduces the direct
    embedding_drift_between_generations report."""
    import math
    import shutil

    from palegislature_spark.operators.audit import (
        embedding_drift_between_generations,
        embedding_list_masses,
    )
    from palegislature_spark.operators.similarity import ivf_assignments

    def vec(i, angle):
        return (i, [float(math.cos(angle)), float(math.sin(angle))])

    schema = "vec_id long, embedding array<float>"
    ref = spark.createDataFrame(
        [vec(i, (i % 2) * 2.0 + i * 1e-3) for i in range(10)], schema
    )
    cents, _ = ivf_assignments(ref, n_lists=2, refine_iters=0)
    cents = cents.localCheckpoint()

    d = tmp_path / "emb_stream"
    b1 = [vec(100 + i, 0.01 * i) for i in range(3)]
    b2 = [vec(200 + i, 2.0 + 0.01 * i) for i in range(2)]
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))

    import pyspark.sql.types as T

    sschema = T.StructType.fromDDL(schema)
    table = str(tmp_path / "emb_masses")
    q = streaming.embedding_list_mass_stream(
        streaming.read_stream(spark, str(d), sschema, max_files_per_trigger=1),
        table,
        cents,
    )
    drain(q)

    want = rows(
        embedding_list_masses(spark.createDataFrame(b1 + b2, schema), cents),
        "list_id", "n",
    )
    assert rows(
        spark.read.parquet(table).select("list_id", "n"), "list_id", "n"
    ) == want

    # at-least-once replay: wipe the checkpoint, same batch ids replay
    shutil.rmtree(table + "_cp")
    q = streaming.embedding_list_mass_stream(
        streaming.read_stream(spark, str(d), sschema, max_files_per_trigger=1),
        table,
        cents,
    )
    drain(q)
    assert rows(
        spark.read.parquet(table).select("list_id", "n"), "list_id", "n"
    ) == want

    # generation TV: a one-cluster-only second window must flag against
    # the streamed first-generation snapshot, and the report must equal
    # diffing the one-shot masses directly
    gen1 = spark.read.parquet(table).select("list_id", "n")
    newer = [vec(300 + i, 0.01 * i) for i in range(5)]
    gen2 = embedding_list_masses(
        spark.createDataFrame(b1 + b2 + newer, schema), cents
    )
    got = sorted(
        map(tuple, embedding_drift_between_generations(gen1, gen2, 100).collect())
    )
    ref_rep = sorted(
        map(
            tuple,
            embedding_drift_between_generations(
                embedding_list_masses(
                    spark.createDataFrame(b1 + b2, schema), cents
                ),
                gen2,
                100,
            ).collect(),
        )
    )
    assert got == ref_rep


def test_corpus_delta_stream_planted_churn(spark, tmp_path):
    """Streaming twin of audit_corpus_delta (VERDICT r10 #6): window 1
    bootstraps the fingerprint map (churn 1.0 by the empty-previous
    contract), window 2 plants one change + one add + one tombstone +
    one unchanged per the batch operator's semantics — the per-window
    alarm fires where the planted churn crosses 10%, the map ends in
    the post-window state, and a checkpoint-wiped replay no-ops."""
    import shutil

    schema = "doc_id long, source string, text string, deleted boolean"
    d = tmp_path / "delta_stream"
    table = str(tmp_path / "delta_state")
    w1 = [
        (1, "web", "alpha beta", False),
        (2, "web", "gamma delta", False),
        (3, "web", "epsilon zeta", False),
        (4, "lib", "eta theta", False),
    ]
    spark.createDataFrame(w1, schema).coalesce(1).write.mode("append").parquet(
        str(d)
    )
    sschema = spark.createDataFrame([], schema).schema

    def run():
        q = streaming.corpus_delta_stream(
            streaming.read_stream(spark, str(d), sschema),
            table,
            id_col="doc_id",
            text_col="text",
            group_col="source",
            threshold_milli=100,
            deleted_col="deleted",
        )
        drain(q)

    run()
    wrows = {
        (r.source, r.batch): r
        for r in spark.read.parquet(table + "/windows").collect()
    }
    boot = wrows[("web", 0)]
    assert (boot.n_added, boot.n_prev, boot.churn, bool(boot.churned)) == (
        3, 0, 1.0, True,
    )

    # window 2: doc 1 changed, doc 5 added, doc 2 tombstoned, doc 3
    # unchanged -> web churn 3/3 = 1.0 (alarm); lib untouched (no row)
    w2 = [
        (1, "web", "alpha beta CHANGED", False),
        (3, "web", "epsilon zeta", False),
        (5, "web", "new doc text", False),
        (2, "web", "gamma delta", True),
    ]
    spark.createDataFrame(w2, schema).coalesce(1).write.mode("append").parquet(
        str(d)
    )
    run()
    wrows = {
        (r.source, r.batch): r
        for r in spark.read.parquet(table + "/windows").collect()
    }
    w = wrows[("web", 1)]
    assert (w.n_added, w.n_changed, w.n_unchanged, w.n_removed) == (1, 1, 1, 1)
    assert w.n_prev == 3 and w.churn == 1.0 and bool(w.churned)
    assert ("lib", 1) not in wrows
    # the map holds exactly the live post-window corpus
    got_map = {
        r.doc_id: (r.source, r.fp)
        for r in spark.read.parquet(table + "/fingerprints").collect()
    }
    assert set(got_map) == {1, 3, 4, 5}  # 2 tombstoned out
    import hashlib

    assert got_map[1][1] == hashlib.md5(b"alpha beta CHANGED").hexdigest()

    # at-least-once replay: wipe the checkpoint; replayed batch ids are
    # at or below the map's high-water mark -> full no-op
    shutil.rmtree(table + "_cp")
    before_w = rows(spark.read.parquet(table + "/windows"), "source", "batch")
    run()
    assert rows(
        spark.read.parquet(table + "/windows"), "source", "batch"
    ) == before_w
    assert {
        r.doc_id for r in spark.read.parquet(table + "/fingerprints").collect()
    } == {1, 3, 4, 5}


def test_minhash_index_stream_lifecycle(spark, tmp_path):
    """Streaming ingest leg of the persisted MinHash index: two
    streamed windows land as atomically-committed deltas; the loaded
    index equals the batch signature pass over the full corpus; an
    uncommitted delta directory is invisible; a checkpoint-wiped
    replay no-ops; compact folds the deltas into the next generation
    (rows preserved, delta dirs pruned) and the _FOLDED high-water
    keeps a stale replayed delta invisible afterwards."""
    import shutil

    from palegislature_spark.operators.dedup import (
        compact_minhash_index,
        load_minhash_index,
        minhash_index,
        save_minhash_index,
    )

    schema = "doc_id long, text string"
    base_docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
    ]
    w1 = [(3, "the quick brown fox jumps over the lazy dogs")]
    w2 = [
        (4, "sphinx of black quartz judge my vow"),
        (5, "pack my box with five dozen liquor jugs today"),
    ]
    idx_path = str(tmp_path / "mh_index")
    save_minhash_index(
        minhash_index(
            spark.createDataFrame(base_docs, schema), "doc_id", "text"
        ),
        idx_path,
    )
    d = tmp_path / "mh_stream"
    sschema = spark.createDataFrame([], schema).schema

    def run():
        q = streaming.minhash_index_stream(
            streaming.read_stream(spark, str(d), sschema),
            idx_path,
            id_col="doc_id",
            text_col="text",
        )
        drain(q)

    spark.createDataFrame(w1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run()
    spark.createDataFrame(w2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run()

    want = sorted(
        map(
            tuple,
            minhash_index(
                spark.createDataFrame(base_docs + w1 + w2, schema),
                "doc_id",
                "text",
            ).collect(),
        )
    )
    got = sorted(map(tuple, load_minhash_index(spark, idx_path).collect()))
    assert got == want

    # an uncommitted delta directory (no marker) is invisible
    spark.createDataFrame([(99, "phantom uncommitted doc")], schema).write.mode(
        "overwrite"
    ).parquet(idx_path + "/delta-000099")
    assert sorted(
        map(tuple, load_minhash_index(spark, idx_path).collect())
    ) == want
    shutil.rmtree(idx_path + "/delta-000099")

    # at-least-once replay: wipe the checkpoint; committed batch ids
    # no-op, the index is unchanged
    shutil.rmtree(idx_path + "_cp")
    run()
    assert sorted(
        map(tuple, load_minhash_index(spark, idx_path).collect())
    ) == want

    # compact folds the deltas: same rows, delta dirs pruned, and a
    # stale delta at or below the folded high-water stays invisible
    import os

    stats = compact_minhash_index(spark, idx_path)
    assert stats["rows"] == len(want)
    assert not [
        f for f in os.listdir(idx_path) if f.startswith("delta-")
    ]
    assert sorted(
        map(tuple, load_minhash_index(spark, idx_path).collect())
    ) == want
    run()  # replayed stream against the folded index: still a no-op
    assert sorted(
        map(tuple, load_minhash_index(spark, idx_path).collect())
    ) == want


def test_ivf_index_stream_lifecycle(spark, tmp_path):
    """Streaming ingest leg of the persisted IVF index: two streamed
    windows land as atomic deltas assigned against the FROZEN
    centroids; the loaded index equals base + batch frozen-assignment
    of the streamed vectors; an uncommitted delta is invisible; a
    checkpoint-wiped replay no-ops; compact folds deltas into the
    list-clustered assignments with rows preserved and keeps a stale
    replay invisible via the _FOLDED high-water."""
    import os
    import shutil

    from palegislature_spark.operators.similarity import (
        assign_to_centroids,
        compact_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    def vec(i, shift):
        return (i, [float((i * 7 + j) % 13) / 13.0 + shift for j in range(8)])

    schema = "vec_id long, embedding array<double>"
    base_vecs = [vec(i, 0.0) for i in range(40)]
    w1 = [vec(100 + i, 0.1) for i in range(5)]
    w2 = [vec(200 + i, 0.2) for i in range(7)]
    idx = str(tmp_path / "ivf_idx")
    save_ivf_index(
        spark.createDataFrame(base_vecs, schema), idx,
        n_lists=4, refine_iters=1,
    )
    cents, base_assign = load_ivf_index(spark, idx)
    base_rows = sorted(
        (r.vec_id, r.list_id) for r in base_assign.collect()
    )

    d = tmp_path / "ivf_stream"
    sschema = spark.createDataFrame([], schema).schema

    def run():
        q = streaming.ivf_index_stream(
            streaming.read_stream(spark, str(d), sschema), idx,
        )
        drain(q)

    spark.createDataFrame(w1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run()
    spark.createDataFrame(w2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    run()

    streamed = assign_to_centroids(
        spark.createDataFrame(w1 + w2, schema), cents
    )
    want = sorted(
        base_rows + [(r.vec_id, r.list_id) for r in streamed.collect()]
    )

    def got():
        _, a = load_ivf_index(spark, idx)
        return sorted((r.vec_id, r.list_id) for r in a.collect())

    assert got() == want

    # uncommitted delta directory (no marker) is invisible
    spark.createDataFrame([vec(999, 0.5)], schema).write.mode(
        "overwrite"
    ).parquet(idx + "/delta-000099")
    assert got() == want
    shutil.rmtree(idx + "/delta-000099")

    # checkpoint-wiped replay: committed batch ids no-op
    shutil.rmtree(idx + "_cp")
    run()
    assert got() == want

    # compact: rows preserved, deltas pruned, stale replay still no-op
    stats = compact_ivf_index(spark, idx)
    assert stats["rows"] == len(want) and stats["deltas_folded"] == 2
    assert not [f for f in os.listdir(idx) if f.startswith("delta-")]
    assert got() == want
    run()
    assert got() == want


def _swap_family(live):
    """(save, append, compact, load, marker prefix, delta-dir prefix)
    of an index family whose compaction folds by the staging swap:
    IVF ``assignments/`` or PQ ``codes/``."""
    from palegislature_spark.operators import pq, similarity

    if live == "assignments":
        return (
            lambda df, idx: similarity.save_ivf_index(
                df, idx, n_lists=4, refine_iters=1
            ),
            similarity.ivf_append_delta,
            similarity.compact_ivf_index,
            similarity.load_ivf_index,
            "_IVFDELTA-",
            "delta-",
        )
    return (
        lambda df, idx: pq.save_pq_index(df, idx, m=4, k=8),
        pq.pq_encode_delta,
        pq.compact_pq_codes,
        pq.load_pq_index,
        "_PQDELTA-",
        "codes-delta-",
    )


@pytest.mark.parametrize("live", ["assignments", "codes"])
def test_index_reader_self_heals_interrupted_compact_swap(spark, tmp_path, live):
    """ADVICE r11: a crash in a swap compaction (compact_ivf_index,
    compact_pq_codes) between renaming live aside and promoting
    staging leaves the live dataset missing.  Readers (load_ivf_index,
    load_pq_index) and the streaming appends (ivf_append_delta,
    pq_encode_delta) must self-heal via the swap recovery instead of
    raising — and crucially the healed _FOLDED high-water must keep
    replayed, already-folded batch ids as no-ops (with the dataset
    missing the high-water would read -1 and a replay would
    re-commit)."""
    import os
    import shutil

    save, append, compact, load, _, delta = _swap_family(live)
    schema = "vec_id long, embedding array<double>"
    vecs = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(30)]
    idx = str(tmp_path / "ivf_heal")
    save(spark.createDataFrame(vecs, schema), idx)
    batch = [(100, [1.0] * 8), (101, [2.0] * 8)]
    assert append(spark, idx, spark.createDataFrame(batch, schema), 0)
    compact(spark, idx)

    def rows():
        _, a = load(spark, idx)
        return sorted(r.vec_id for r in a.collect())

    want = sorted([v[0] for v in vecs] + [100, 101])
    assert rows() == want
    assign = f"{idx}/{live}"

    # crash state 1: live renamed aside, staging never promoted
    os.rename(assign, assign + ".__old__")
    assert rows() == want  # reader healed from .__old__
    # replay of the folded batch 0 against the healed index: no-op
    os.rename(assign, assign + ".__old__")
    assert not append(spark, idx, spark.createDataFrame(batch, schema), 0)
    assert rows() == want
    assert not [f for f in os.listdir(idx) if f.startswith(delta)]

    # crash state 2: staging fully committed (_SUCCESS), live missing
    shutil.copytree(assign, assign + ".__staging__")
    shutil.rmtree(assign)
    assert rows() == want  # reader promoted the committed staging


@pytest.mark.parametrize("live", ["assignments", "codes"])
def test_index_compact_gc_clears_stale_folded_deltas(spark, tmp_path, live):
    """ADVICE r11: a crash between a swap compaction's promote and its
    GC loop leaves folded deltas at/below the _FOLDED high-water.
    They are invisible to readers, but a later compact must
    garbage-collect them (GC keys on the promoted high-water, not just
    the delta ids folded in that pass)."""
    import os
    import shutil

    save, append, compact, load, marker, delta = _swap_family(live)
    schema = "vec_id long, embedding array<double>"
    vecs = [(i, [float((i * 5 + j) % 11) for j in range(8)]) for i in range(30)]
    idx = str(tmp_path / "ivf_gc")
    save(spark.createDataFrame(vecs, schema), idx)
    assert append(spark, idx, spark.createDataFrame([(100, [1.0] * 8)], schema), 0)
    # snapshot the committed delta, then compact (folds + GCs it)
    shutil.copytree(f"{idx}/{delta}000000", str(tmp_path / "d0"))
    compact(spark, idx)
    # simulate crash-before-GC: the folded delta + marker reappear
    shutil.copytree(str(tmp_path / "d0"), f"{idx}/{delta}000000")
    open(f"{idx}/{marker}000000", "w").close()

    def rows():
        _, a = load(spark, idx)
        return sorted(r.vec_id for r in a.collect())

    want = sorted([v[0] for v in vecs] + [100, 101])
    assert rows() == want[:-1]  # stale folded delta invisible

    # next maintenance pass folds a NEW delta and must GC the stale one
    assert append(spark, idx, spark.createDataFrame([(101, [2.0] * 8)], schema), 1)
    compact(spark, idx)
    assert rows() == want
    left = [f for f in os.listdir(idx) if "DELTA" in f or delta in f]
    assert left == [], f"stale folded delta survived GC: {left}"


def test_minhash_compact_gc_clears_stale_folded_deltas(spark, tmp_path):
    """The MinHash twin of the stale-folded-delta GC pin (ADVICE r11):
    compact_minhash_index must GC every committed delta at/below the
    generation's _FOLDED high-water, not only the ids folded in the
    current pass."""
    import os
    import shutil

    from palegislature_spark.operators.dedup import (
        append_minhash_index_delta,
        compact_minhash_index,
        load_minhash_index,
        minhash_index,
        save_minhash_index,
    )

    docs = [(i, f"some document body number {i} with shared tokens")
            for i in range(20)]
    schema = "doc_id long, text string"
    idx = str(tmp_path / "mh_gc")
    save_minhash_index(
        minhash_index(
            spark.createDataFrame(docs, schema), "doc_id", "text"
        ),
        idx,
    )
    b0 = spark.createDataFrame([(100, "streamed doc one hundred")], schema)
    assert append_minhash_index_delta(spark, idx, b0, 0, "doc_id", "text")
    shutil.copytree(idx + "/delta-000000", str(tmp_path / "d0"))
    compact_minhash_index(spark, idx)
    # crash-before-GC replica: folded delta + marker reappear
    shutil.copytree(str(tmp_path / "d0"), idx + "/delta-000000")
    open(idx + "/_BANDDELTA-000000", "w").close()

    def ids():
        return sorted(
            set(r.doc_id for r in load_minhash_index(spark, idx).collect())
        )

    assert ids() == sorted([d[0] for d in docs] + [100])

    b1 = spark.createDataFrame([(101, "streamed doc one oh one")], schema)
    assert append_minhash_index_delta(spark, idx, b1, 1, "doc_id", "text")
    compact_minhash_index(spark, idx)
    assert ids() == sorted([d[0] for d in docs] + [100, 101])
    left = [f for f in os.listdir(idx)
            if "BANDDELTA" in f or f.startswith("delta-")]
    assert left == [], f"stale folded delta survived GC: {left}"


def test_ivf_append_delta_carries_meta_cols(spark, tmp_path):
    """ADVICE r11: on an index saved with meta_cols, a streamed delta
    must persist the batch's metadata columns (so filtered serving
    sees streamed vectors), and a batch MISSING a persisted metadata
    column must raise instead of silently writing NULLs that every
    ivf_probe(where=...) would drop."""
    import pytest as _pytest

    from palegislature_spark.operators.similarity import (
        compact_ivf_index,
        ivf_append_delta,
        ivf_probe,
        load_ivf_index,
        save_ivf_index,
    )

    schema = "vec_id long, embedding array<double>, tag int"
    vecs = [
        (i, [float((i * 7 + j) % 13) for j in range(8)], i % 2)
        for i in range(30)
    ]
    idx = str(tmp_path / "ivf_meta")
    save_ivf_index(
        spark.createDataFrame(vecs, schema), idx,
        n_lists=4, refine_iters=1, meta_cols=["tag"],
    )
    # streamed vector carrying tag=1, colinear with the tag=1 query
    streamed = spark.createDataFrame(
        [(500, [float(j) for j in range(8)], 1)], schema
    )
    assert ivf_append_delta(spark, idx, streamed, 0)

    def probe():
        cents, assigns = load_ivf_index(spark, idx)
        # query under a DIFFERENT id (probes drop self-matches) with
        # the streamed vector's exact direction: cosine 1.0, so 500
        # must rank in the top-k iff its metadata survived the delta
        q = spark.createDataFrame(
            [(9999, [float(j) for j in range(8)], 1)], schema
        )
        return ivf_probe(
            cents, assigns, q, k=3, n_probe=4,
            where=F.col("tag") == 1,
        )

    res = probe()
    hits = {r.neighbor_id for r in res.collect()}
    assert 500 in hits, "filtered probe dropped the streamed vector"

    # the metadata survives compaction too
    compact_ivf_index(spark, idx)
    assert 500 in {r.neighbor_id for r in probe().collect()}

    # a batch without the persisted metadata column must raise
    bare = spark.createDataFrame(
        [(600, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="tag"):
        ivf_append_delta(spark, idx, bare, 1)


def test_ivfpq_index_stream_ranks_streamed_vectors(spark, tmp_path):
    """VERDICT r11 #1: the IVFPQ streaming-freshness gap.  Two
    streamed windows must be BOTH probe-reachable (IVF delta) and
    ADC-rankable (codes delta): ivfpq_topk over the loaded index ranks
    a streamed vector one window after ingest; the loaded codes equal
    the frozen-codebook batch encode of base + streamed; an
    uncommitted codes delta is invisible; a checkpoint-wiped replay
    no-ops; compacting BOTH sides preserves the serve result and
    prunes every delta."""
    import os
    import shutil

    from palegislature_spark.operators.pq import (
        compact_pq_codes,
        ivfpq_topk,
        load_pq_index,
        pq_encode,
        save_pq_index,
    )
    from palegislature_spark.operators.similarity import (
        compact_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    def vec(i, shift):
        return (i, [float((i * 7 + j) % 13) / 13.0 + shift for j in range(8)])

    schema = "vec_id long, embedding array<double>"
    base_vecs = [vec(i, 0.0) for i in range(40)]
    w1 = [vec(100 + i, 0.1) for i in range(5)]
    w2 = [vec(200 + i, 0.2) for i in range(7)]
    idx = str(tmp_path / "ivfpq_idx")
    corpus = spark.createDataFrame(base_vecs, schema)
    save_ivf_index(corpus, idx, n_lists=4, refine_iters=1)
    save_pq_index(corpus, idx, m=4, k=8)

    d = tmp_path / "ivfpq_stream"
    sschema = spark.createDataFrame([], schema).schema

    def run():
        q = streaming.ivfpq_index_stream(
            streaming.read_stream(spark, str(d), sschema), idx,
        )
        drain(q)

    for w in (w1, w2):
        spark.createDataFrame(w, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
        run()

    def serve(qid, qvec):
        cents, assigns = load_ivf_index(spark, idx)
        cb, codes = load_pq_index(spark, idx)
        q = spark.createDataFrame([(qid, qvec)], schema)
        return ivfpq_topk(cents, assigns, cb, codes, q, k=3, n_probe=4)

    # a query colinear with streamed vector 200 must rank it
    res = serve(9999, [v for v in dict(w2)[200]])
    assert 200 in {r.neighbor_id for r in res.collect()}, (
        "streamed vector is not ADC-rankable one window after ingest"
    )

    # loaded codes == frozen-codebook batch encode of base + streamed
    cb, codes = load_pq_index(spark, idx)
    full = spark.createDataFrame(base_vecs + w1 + w2, schema)
    want = sorted(
        (r.vec_id, tuple(r.codes))
        for r in pq_encode(full, cb).collect()
    )

    def got():
        _, c = load_pq_index(spark, idx)
        return sorted((r.vec_id, tuple(r.codes)) for r in c.collect())

    assert got() == want

    # uncommitted codes delta (no marker) is invisible
    spark.createDataFrame(
        [(999, [1, 1, 1, 1])], "vec_id long, codes array<int>"
    ).write.mode("overwrite").parquet(idx + "/codes-delta-000099")
    assert got() == want
    shutil.rmtree(idx + "/codes-delta-000099")

    # checkpoint-wiped replay: both legs no-op on committed batch ids
    shutil.rmtree(idx + "_cp")
    run()
    assert got() == want

    # compact both sides: rows preserved, every delta pruned, serving
    # unchanged
    s1 = compact_ivf_index(spark, idx)
    s2 = compact_pq_codes(spark, idx)
    assert s1["deltas_folded"] == 2 and s2["deltas_folded"] == 2
    assert s2["rows"] == len(want)
    left = [
        f for f in os.listdir(idx)
        if "DELTA" in f or "delta-" in f
    ]
    assert left == [], f"unpruned deltas: {left}"
    assert got() == want
    res = serve(9999, [v for v in dict(w2)[200]])
    assert 200 in {r.neighbor_id for r in res.collect()}


def test_index_streams_auto_compact_past_max_deltas(spark, tmp_path):
    """VERDICT r11 #6: max_deltas bounds read amplification — after
    each window the sink compacts when the unfolded-delta count
    exceeds the threshold, so the reader's union width stays bounded
    while the loaded index stays exactly equal to the unbounded
    twin's.  Checked for both the IVF and IVFPQ streams (the IVFPQ
    leg must fold BOTH sides)."""
    import os

    from palegislature_spark.operators.pq import (
        load_pq_index,
        pq_encode,
        save_pq_index,
    )
    from palegislature_spark.operators.similarity import (
        load_ivf_index,
        save_ivf_index,
    )
    from palegislature_spark.sources.commit import IVF_DELTAS, hadoop_fs

    def vec(i, shift):
        return (i, [float((i * 7 + j) % 13) / 13.0 + shift for j in range(8)])

    schema = "vec_id long, embedding array<double>"
    base_vecs = [vec(i, 0.0) for i in range(40)]
    windows = [
        [vec(100 * (w + 1) + i, 0.1 * (w + 1)) for i in range(4)]
        for w in range(3)
    ]
    idx = str(tmp_path / "auto_idx")
    corpus = spark.createDataFrame(base_vecs, schema)
    save_ivf_index(corpus, idx, n_lists=4, refine_iters=1)
    save_pq_index(corpus, idx, m=4, k=8)

    d = tmp_path / "auto_stream"
    sschema = spark.createDataFrame([], schema).schema
    for w in windows:
        spark.createDataFrame(w, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
        q = streaming.ivfpq_index_stream(
            streaming.read_stream(spark, str(d), sschema), idx,
            max_deltas=1,
        )
        drain(q)

    # the reader's union width stayed bounded by the threshold
    fs, HPath = hadoop_fs(spark, idx)
    assert len(IVF_DELTAS.unfolded(fs, HPath, idx, idx + "/assignments")[1]) <= 1
    n_dirs = [f for f in os.listdir(idx) if f.startswith("delta-")]
    assert len(n_dirs) <= 1
    # and the state equals the unbounded composition
    streamed = [v for w in windows for v in w]
    _, assigns = load_ivf_index(spark, idx)
    assert sorted(r.vec_id for r in assigns.collect()) == sorted(
        [v[0] for v in base_vecs] + [v[0] for v in streamed]
    )
    cb, codes = load_pq_index(spark, idx)
    full = spark.createDataFrame(base_vecs + streamed, schema)
    want = sorted(
        (r.vec_id, tuple(r.codes)) for r in pq_encode(full, cb).collect()
    )
    assert sorted(
        (r.vec_id, tuple(r.codes)) for r in codes.collect()
    ) == want
