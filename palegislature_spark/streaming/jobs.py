"""Streaming jobs over event streams (SURVEY §2.10).

The reference has no streaming; its incremental seam is the
``last_crawl`` work-queue protocol (Q5 — ``crawl.py:657-737``).
These jobs expose the Structured Streaming equivalents the north
star asks for: watermarked tumbling/sliding/session windows,
dedup-within-watermark, and an incremental merge sink
(``foreachBatch`` + merge-by-key upsert = the distributed
``db.update`` loop).

Design notes for scale:
  * every aggregation is keyed by (window, key) — state store
    partitions on the same shuffle key, watermark bounds state size;
  * the file source with ``maxFilesPerTrigger`` gives bounded,
    replayable micro-batches; ``Trigger.AvailableNow`` drains a
    backlog with the same bounded batches then stops — the Q5
    "process what's new, in caps" protocol;
  * sinks go through foreachBatch -> upsert_parquet so replays are
    idempotent (exactly-once effect on keyed tables).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from palegislature_spark.sources.commit import (
    IVF_DELTAS,
    MINHASH_DELTAS,
    current_generation,
    generation_dir,
    hadoop_fs,
    recover_swap,
    swap,
)
from palegislature_spark.sources.merge import upsert_parquet


def read_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream with an explicit schema (never inferred)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def tumbling_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts + value sum per key."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked sliding-window counts per key."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def session_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Watermarked session windows (gap-based) per key."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *keys,
            "n_events",
        )
    )


def value_transitions(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
    state_ttl_ms: int = 2 * 3600 * 1000,
) -> DataFrame:
    """Custom stateful operator: emit a row only when a key's value
    CHANGES (CDC-style compaction of a status stream — the streaming
    analogue of tracking the reference's crawl-status transitions).

    Not expressible with built-ins: ``dropDuplicates`` on (key,
    value) would suppress a value that REVERTS (A -> B -> A must emit
    three transitions), and window aggregates lose the per-row emit.
    So this is the ``applyInPandasWithState`` surface: per-key state
    holds (last value, last event ms); each micro-batch folds its
    rows in event-time order, emitting (key, ts, value, prev) on
    every change.

    State discipline for scale: state is one scalar per key;
    event-time timeout (``state_ttl_ms`` past the watermark) evicts
    idle keys, so state size is bounded by the active-key set, not
    stream history. Rows at or before the state's last seen event
    time are ignored (late data beyond reordering is the watermark
    contract).
    """
    value_type = stream.schema[value_col].dataType
    out_schema = T.StructType(
        [
            stream.schema[key_col],
            stream.schema[ts_col],
            stream.schema[value_col],
            T.StructField(f"prev_{value_col}", value_type),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_value", value_type),
            T.StructField("last_ms", T.LongType()),
        ]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            last_value, last_ms = state.get
        else:
            last_value, last_ms = None, -1

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(ts_col, kind="stable")
        out_keys, out_ts, out_vals, out_prev = [], [], [], []
        for ts, value in zip(batch[ts_col], batch[value_col]):
            ms = int(ts.value // 1_000_000)
            if ms <= last_ms:
                continue  # older than state: watermark-late, ignore
            if last_ms < 0 or value != last_value:
                out_keys.append(key[0])
                out_ts.append(ts)
                out_vals.append(value)
                out_prev.append(last_value)
            last_value, last_ms = value, ms

        state.update((last_value, last_ms))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + state_ttl_ms)
        if out_keys:
            yield pd.DataFrame(
                {
                    key_col: out_keys,
                    ts_col: out_ts,
                    value_col: out_vals,
                    f"prev_{value_col}": out_prev,
                }
            )

    return (
        stream.select(key_col, ts_col, value_col)
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", "EventTimeTimeout"
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Drop duplicate events by key among rows within the watermark.

    Uses ``dropDuplicatesWithinWatermark`` so state for a key is
    evicted once the watermark passes it — bounded state at any
    input scale (plain dropDuplicates on a stream keeps keys
    forever).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def curate_stream(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    min_words: int = 12,
    max_stop_ratio: float = 0.21,
    min_distinct_ratio: float = 0.35,
) -> DataFrame:
    """Streaming front half of the curation funnel
    (pipelines/curate.py): quality-gate each arriving document with
    the same signal expressions, then drop exact-content duplicates
    within the watermark (md5 content key through
    ``dropDuplicatesWithinWatermark`` — bounded state, unlike a plain
    streaming dropDuplicates which keeps every key forever).

    Near-dup pruning stays batch: MinHash banding needs a corpus-wide
    candidate join, which is the compaction job's half of the funnel
    — this stream emits gated, exact-deduped documents for it.
    """
    from palegislature_spark.pipelines.curate import STOPWORDS

    tk = F.split(F.col(text_col), " ")
    stop = F.size(F.filter(tk, lambda w: w.isin(*STOPWORDS)))
    gated = (
        stream.withColumn("n_words", F.size(tk).cast("long"))
        .withColumn("stop_ratio", stop / F.size(tk))
        .withColumn("distinct_ratio", F.size(F.array_distinct(tk)) / F.size(tk))
        .filter(
            (F.col("n_words") >= min_words)
            & (F.col("stop_ratio") <= max_stop_ratio)
            & (F.col("distinct_ratio") >= min_distinct_ratio)
        )
        .withColumn("content_key", F.md5(F.col(text_col)))
    )
    return (
        gated.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_key"])
        .drop("content_key")
    )


def decontam_stream(
    stream: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Streaming benchmark decontamination: drop arriving documents
    sharing any word n-gram with the (static) eval set, checked
    against a Bloom filter of the eval n-grams.

    STATELESS by design: the eval side is a benchmark — fixed size no
    matter the stream volume — so its n-gram set is built ONCE into a
    capacity-scaled xxhash64 Bloom filter whose bitmap is collected
    and inlined as a literal array column (the fixed-size md5 bloom
    in ``operators/sketch.py`` exists for SQL-oracle replay; this
    one is sized to the eval set instead). Each arriving document is then screened by pure
    per-row expressions (n-gram transform + k bit probes per gram):
    no state store, no watermark, no stream-side join or aggregation
    — the plan stays a linear projection that any number of
    executors run independently.

    Bloom direction is the SAFE one for decontamination: no false
    negatives, so every truly contaminated document is caught; the
    design-rate false positives only over-drop (a second exact check
    can run in the batch compaction job if that loss matters).

    Emits survivors with an ``n_grams`` audit column
    (violations-as-data: the dropped share is the per-batch
    input-minus-output delta).
    """
    from palegislature_spark.operators.contamination import _word_ngrams

    eval_grams = (
        _word_ngrams(eval_docs, id_col, text_col, n)
        .select("gram")
        .distinct()
        .localCheckpoint()
    )
    # Capacity-scaled filter (unlike the oracle-pinned 4096-bit
    # md5 bloom in operators/sketch.py, which saturates on thousands
    # of grams): m = 32 bits/gram, k = 8 probes -> per-gram FP ~5e-6,
    # so a whole document's any-hit FP stays well under 1%. The
    # bitmap is 4 bytes/eval-gram: ~4 MB for a 1M-gram eval suite —
    # inlined as a literal array. (Past tens of MB, move the bitmap
    # to a Spark broadcast probed inside an Arrow-batched pandas UDF;
    # the plan shape is otherwise identical.)
    n_eval = eval_grams.count()
    k_probes = 8
    n_words = max(8, (32 * max(n_eval, 1) + 63) // 64)
    m_bits = n_words * 64
    pos_df = None
    for p in range(k_probes):
        one = eval_grams.select(
            F.pmod(F.xxhash64("gram", F.lit(p)), F.lit(m_bits)).alias("pos")
        )
        pos_df = one if pos_df is None else pos_df.unionByName(one)
    bitmap = {
        r["word"]: r["bits"]
        for r in pos_df.select(
            F.expr("pos DIV 64").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    }
    bits_lit = F.array(
        *[F.lit(bitmap.get(i, 0)).cast("long") for i in range(n_words)]
    )

    tk = F.split(F.col(text_col), " ")
    gram_arr = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(tk, i, n), " "),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))

    def might_contain(gram_col: F.Column) -> F.Column:
        hit = F.lit(True)
        for p in range(k_probes):
            pos = F.pmod(F.xxhash64(gram_col, F.lit(p)), F.lit(m_bits))
            word = (pos / F.lit(64)).cast("long")
            # getbit takes the bit index as a column (shiftleft's
            # Python helper would demand an int literal here)
            hit = hit & (
                F.getbit(
                    F.element_at(F.col("__bits"), (word + 1).cast("int")),
                    pos % 64,
                )
                == 1
            )
        return hit

    # bind the bitmap literal ONCE: referencing bits_lit inside each
    # of the k probe conjuncts would copy the n_words-element literal
    # array k times per row expression (k * n_words Literal nodes —
    # at a 1M-gram eval suite that alone would blow past codegen
    # limits); a named column keeps exactly one copy in the plan
    with_grams = stream.withColumn("__bits", bits_lit).withColumn(
        "__grams", F.array_distinct(gram_arr)
    )
    return (
        with_grams.withColumn(
            "__hits", F.size(F.filter(F.col("__grams"), might_contain))
        )
        .filter(F.col("__hits") == 0)
        .withColumn("n_grams", F.size("__grams").cast("long"))
        .drop("__bits", "__grams", "__hits")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    upper: str = "1 hour",
    watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream equi + interval join: pair each right-stream row
    with every left-stream row of the same ``key`` whose timestamp
    falls in ``[right_ts - upper, right_ts]`` (the streaming analogue
    of the batch interval join in ``operators/asof.py``; e.g. clicks
    within the hour before each purchase).

    Both sides are watermarked so Spark can bound the join state: a
    buffered left row is evicted once the right watermark passes
    ``left_ts + upper``, and vice versa — state stays proportional to
    the interval width times the input rate, not to total history.
    The join itself shuffles both streams on ``key``, the same
    partitioning the state store uses, so a 1000-executor run
    co-locates matching keys with their state.

    Columns come back prefixed (``l_``/``r_``) so self-joins of one
    event stream against itself don't collide.
    """
    lcols = [F.col(c).alias(f"{left_prefix}{c}") for c in left.columns]
    rcols = [F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]
    lw = left.select(*lcols).withWatermark(f"{left_prefix}{left_ts}", watermark)
    rw = right.select(*rcols).withWatermark(f"{right_prefix}{right_ts}", watermark)
    lt, rt = f"{left_prefix}{left_ts}", f"{right_prefix}{right_ts}"
    cond = (
        (F.col(f"{left_prefix}{key}") == F.col(f"{right_prefix}{key}"))
        & (F.col(lt) <= F.col(rt))
        & (F.col(lt) >= F.col(rt) - F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, "inner")


def stream_upsert_parquet(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental merge sink: each micro-batch upserts by key into a
    Parquet dataset (foreachBatch + upsert_parquet) — idempotent under
    replay, the streaming analogue of the reference's upsert loop.
    Durability comes from upsert_parquet's staging-dir + rename swap:
    a batch that dies mid-write leaves the prior dataset intact, so
    the replayed batch re-reads real existing data instead of
    silently starting from nothing (ADVICE r1).
    """
    keys = list(keys)

    def sink(batch: DataFrame, batch_id: int) -> None:
        upsert_parquet(batch.sparkSession, path, batch, keys)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hourly_rollup_stream(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
) -> "StreamingQuery":
    """Continuous hourly aggregate: foreachBatch -> refresh_hourly
    with the batch id plumbed through, so the additive merge is
    replay-idempotent by construction (ADVICE r5 — a caller wiring
    refresh_hourly manually and dropping the id would double-count on
    at-least-once replays; this wrapper makes the safe wiring the
    library default)."""
    from palegislature_spark.operators.rollup import refresh_hourly

    def sink(batch: DataFrame, batch_id: int) -> None:
        refresh_hourly(batch.sparkSession, path, batch, ts_col, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    queryName: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain the backlog into an in-memory table and stop (tests/dev)."""
    return (
        result.writeStream.format("memory")
        .queryName(queryName)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _additive_state_sink(path: str, batch_table, merge_tables):
    """Shared foreachBatch sink for ADDITIVE dimension-sized state
    (CMS sketches, category histograms): per-batch table merged into
    the persisted table with the staging-promote swap discipline and
    the ``last_batch`` high-water mark.

    ``batch_table(batch) -> DataFrame`` builds the per-batch state
    rows; ``merge_tables(live, new) -> DataFrame`` folds them into the
    live table (must aggregate ``last_batch`` with max). Durability:
    the sources/commit.py ``swap`` / ``recover_swap`` discipline.
    At-least-once replay: a batch id at or below the persisted
    high-water mark is a no-op, which keeps the additive merge
    exactly-once under foreachBatch's at-least-once contract.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        base = path.rstrip("/")
        fs, HPath = hadoop_fs(spark, base)
        recover_swap(fs, HPath, base)

        t = batch_table(batch).withColumn(
            "last_batch", F.lit(batch_id).cast("bigint")
        )
        if fs.exists(HPath(base)):
            live = spark.read.parquet(base)
            if "last_batch" in live.columns:
                row = live.agg(F.max("last_batch").alias("m")).collect()[0]
                if row["m"] is not None and batch_id <= row["m"]:
                    return  # at-least-once replay of an already-merged batch
            else:  # pre-upgrade state without the idempotence column
                live = live.withColumn("last_batch", F.lit(-1).cast("bigint"))
            t = merge_tables(live, t)
        swap(fs, HPath, base, t)

    return sink


def cms_heavy_hitter_stream(
    stream: DataFrame,
    path: str,
    text_col: str = "text",
) -> "StreamingQuery":
    """Streaming heavy-hitter state with BOUNDED memory: each
    micro-batch is sketched (count-min, ``operators/sketch.py``) and
    the sketch tables are MERGED — sum by (row, bucket) — into the
    persisted sketch at ``path``.

    This is the use the CMS docstring advertises: the true streaming
    token-count state is unbounded (1e9 distinct tokens on a web
    corpus), while the merged sketch stays DEPTH x WIDTH rows forever,
    with the classic one-sided overestimate guarantee intact across
    merges (sum of per-batch sketches == sketch of the union,
    EXACTLY — integer counters; pinned in tests/test_streaming.py).
    Query the persisted sketch any time with ``cms_estimate``.

    Durability + exactly-once: the merged sketch is written to a
    staging dir and promoted with the same swap discipline as
    ``upsert_parquet`` — live is renamed aside to ``.__old__`` BEFORE
    staging is promoted, so no crash point leaves zero live copies
    (delete-then-rename would: a crash between the delete and the
    rename silently rebuilds state from one batch).  On entry the sink
    first recovers any interrupted swap.  Because foreachBatch is
    at-least-once and this merge is ADDITIVE (not key-idempotent like
    stream_upsert_parquet's), every sketch row carries ``last_batch``
    — the max batch id merged in — and a replayed batch with
    ``batch_id <= last_batch`` is a no-op, preserving the "sum of
    per-batch sketches == sketch of the union, EXACTLY" invariant
    across failure replays.
    """
    from palegislature_spark.operators.sketch import cms_sketch

    def batch_table(batch: DataFrame) -> DataFrame:
        return cms_sketch(
            batch.select(
                F.explode(F.split(F.col(text_col), " ")).alias("token")
            ).filter(F.col("token") != ""),
            "token",
        )

    def merge_tables(live: DataFrame, sk: DataFrame) -> DataFrame:
        return (
            live.unionByName(sk)
            .groupBy("row", "bucket")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.max("last_batch").alias("last_batch"),
            )
        )

    sink = _additive_state_sink(path, batch_table, merge_tables)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )


def category_count_stream(
    stream: DataFrame,
    path: str,
    columns: list[str],
) -> "StreamingQuery":
    """Streaming half of the drift monitor: each micro-batch's
    category histogram (``operators/audit.py category_counts`` —
    row-local melt, map-side-combined counts) is ADDITIVELY merged
    into the persisted ``(column, category, n, last_batch)`` table at
    ``path``. State stays dimension-sized (categories x columns)
    however many rows stream through; snapshot the table before/after
    an ingest window and diff with ``audit.drift_between_generations``
    for the batch-over-batch report.

    Durability + at-least-once replay discipline are identical to
    ``cms_heavy_hitter_stream``: staging-promote swap (live renamed
    aside before promotion, interrupted swaps recovered on entry) and
    a ``last_batch`` high-water mark that no-ops replayed batch ids —
    the additive merge stays exactly-once under foreachBatch's
    at-least-once contract.
    """
    from palegislature_spark.operators.audit import category_counts

    def batch_table(batch: DataFrame) -> DataFrame:
        return category_counts(batch, columns)

    def merge_tables(live: DataFrame, counts: DataFrame) -> DataFrame:
        return (
            live.unionByName(counts)
            .groupBy("column", "category")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.max("last_batch").alias("last_batch"),
            )
        )

    sink = _additive_state_sink(path, batch_table, merge_tables)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )


def embedding_list_mass_stream(
    stream: DataFrame,
    path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "StreamingQuery":
    """Embedding leg of the streaming drift monitor — completes the
    trio beside :func:`category_count_stream` and
    :func:`numeric_bin_count_stream`: each micro-batch is assigned to
    the FROZEN ``centroids`` (``operators/audit.py
    embedding_list_masses`` — one broadcast, one map-side-combined
    count) and the per-list masses merge ADDITIVELY into the persisted
    ``(list_id, n, last_batch)`` table at ``path``. State stays
    n_lists-sized however many vectors stream through; snapshot the
    table before/after an ingest window and diff with
    ``audit.embedding_drift_between_generations`` for the
    total-variation report. The centroid set must be the SAME frozen
    generation across every batch and both snapshots (pass a
    materialized frame, e.g. ``load_ivf_index``'s centroids) — the
    caller-pinned-spec contract that makes masses additive and
    comparable, exactly as fixed bin edges do for the numeric twin.

    Durability + at-least-once replay discipline are the shared
    ``_additive_state_sink`` contract (staging-promote swap +
    ``last_batch`` high-water mark).
    """
    from palegislature_spark.operators.audit import embedding_list_masses

    def batch_table(batch: DataFrame) -> DataFrame:
        return embedding_list_masses(batch, centroids, id_col, vec_col)

    def merge_tables(live: DataFrame, counts: DataFrame) -> DataFrame:
        return (
            live.unionByName(counts)
            .groupBy("list_id")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.max("last_batch").alias("last_batch"),
            )
        )

    sink = _additive_state_sink(path, batch_table, merge_tables)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )


def numeric_bin_count_stream(
    stream: DataFrame,
    path: str,
    bins: dict[str, tuple[float, float, int]],
) -> "StreamingQuery":
    """Numeric twin of :func:`category_count_stream`: each
    micro-batch's fixed-edge histogram (``operators/audit.py
    numeric_bin_counts`` — row-local bin assignment, map-side-combined
    counts) merges ADDITIVELY into the persisted ``(column, bin, n,
    last_batch)`` table at ``path``. State stays bins-sized however
    many rows stream through; snapshot the table before/after an
    ingest window and diff with
    ``audit.numeric_drift_between_generations`` for the binned-KS
    report. Fixed bin edges (caller-pinned ``bins``) are what make
    histograms from different windows additive and comparable.

    Durability + at-least-once replay discipline are the shared
    ``_additive_state_sink`` contract (staging-promote swap +
    ``last_batch`` high-water mark).
    """
    from palegislature_spark.operators.audit import numeric_bin_counts

    def batch_table(batch: DataFrame) -> DataFrame:
        return numeric_bin_counts(batch, bins)

    def merge_tables(live: DataFrame, counts: DataFrame) -> DataFrame:
        return (
            live.unionByName(counts)
            .groupBy("column", "bin")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.max("last_batch").alias("last_batch"),
            )
        )

    sink = _additive_state_sink(path, batch_table, merge_tables)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )


def corpus_delta_stream(
    stream: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    threshold_milli: int = 100,
    deleted_col: str | None = None,
) -> "StreamingQuery":
    """Streaming twin of ``operators/audit.py corpus_delta`` (VERDICT
    r10 #6): instead of diffing two full corpus snapshots, every
    ingest window is classified against the PERSISTED fingerprint map
    as it arrives, so the churn alarm fires per window.

    Two state tables under ``path``:

    * ``{path}/fingerprints`` — (id, group, fp, last_batch): one
      narrow row per live document (md5 of the text, never payloads —
      the batch operator's exact reduction), upserted per window.
      Corpus-sized but 32-bytes-per-doc; at 100 TB this is the same
      id->fingerprint map an incremental MinHash index already keeps.
    * ``{path}/windows`` — one row per (group, window): n_added /
      n_changed / n_removed / n_unchanged counts, the pre-window
      group size ``n_prev``, the churn share, and the alarm as the
      batch operator's integer inequality ``churn_count * 1000 >
      threshold_milli * n_prev`` (bootstrap windows: churn 1.0, alarm
      iff non-empty — corpus_delta's empty-previous contract).

    Classification is ONE narrow left join of the window's (id, fp)
    rows against the map — added (no live row), changed (fp differs),
    unchanged (fp equal), removed (tombstone rows: pass
    ``deleted_col`` naming a boolean column; streams never retract,
    so deletions must arrive as data — without tombstones the removed
    leg stays snapshot-only and this twin covers add/change).

    Durability: both tables use the shared staging-promote swap.
    Exactly-once under at-least-once replay: the high-water mark
    lives on the MAP (written LAST), so a crash between the windows
    append and the map promote replays against the unchanged map and
    recomputes identical window rows, which the by-batch-id overwrite
    dedupes; a batch at or below the map's mark is a full no-op.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        map_base = path.rstrip("/") + "/fingerprints"
        win_base = path.rstrip("/") + "/windows"
        fs, HPath = hadoop_fs(spark, map_base)
        recover_swap(fs, HPath, map_base)
        recover_swap(fs, HPath, win_base)

        deleted = (
            F.col(deleted_col).cast("boolean")
            if deleted_col is not None
            else F.lit(False)
        )
        b = batch.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__bg"),
            F.md5(F.col(text_col)).alias("__bfp"),
            F.coalesce(deleted, F.lit(False)).alias("__del"),
        )

        if fs.exists(HPath(map_base)):
            live = spark.read.parquet(map_base)
            row = live.agg(F.max("last_batch").alias("m")).collect()[0]
            if row["m"] is not None and batch_id <= row["m"]:
                return  # at-least-once replay of a fully-committed batch
        else:
            live = spark.createDataFrame(
                [], f"{id_col} string, {group_col} string, fp string, "
                "last_batch bigint",
            ).select(
                F.col(id_col).cast("long").alias(id_col),
                F.col(group_col),
                "fp",
                "last_batch",
            )

        lv = live.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__lg"),
            F.col("fp").alias("__lfp"),
        )
        joined = b.join(lv, "__id", "left").select(
            F.coalesce("__bg", "__lg").alias(group_col),
            F.when(F.col("__lfp").isNull() & ~F.col("__del"), 1)
            .otherwise(0)
            .alias("__add"),
            F.when(
                F.col("__lfp").isNotNull()
                & ~F.col("__del")
                & (F.col("__lfp") != F.col("__bfp")),
                1,
            )
            .otherwise(0)
            .alias("__chg"),
            F.when(
                F.col("__lfp").isNotNull()
                & ~F.col("__del")
                & (F.col("__lfp") == F.col("__bfp")),
                1,
            )
            .otherwise(0)
            .alias("__same"),
            F.when(F.col("__del") & F.col("__lfp").isNotNull(), 1)
            .otherwise(0)
            .alias("__rem"),
        )
        counts = joined.groupBy(group_col).agg(
            F.sum("__add").cast("long").alias("n_added"),
            F.sum("__chg").cast("long").alias("n_changed"),
            F.sum("__same").cast("long").alias("n_unchanged"),
            F.sum("__rem").cast("long").alias("n_removed"),
        )
        prev_sizes = live.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_prev")
        )
        churn_n = (
            F.col("n_added") + F.col("n_changed") + F.col("n_removed")
        )
        win_rows = (
            counts.join(prev_sizes, group_col, "left")
            .select(
                group_col,
                "n_added",
                "n_changed",
                "n_unchanged",
                "n_removed",
                F.coalesce("n_prev", F.lit(0)).cast("long").alias("n_prev"),
            )
            .select(
                "*",
                F.when(
                    F.col("n_prev") == 0,
                    F.when(churn_n > 0, 1.0).otherwise(0.0),
                )
                .otherwise(churn_n.cast("double") / F.col("n_prev").cast("double"))
                .alias("churn"),
                F.when(F.col("n_prev") == 0, churn_n > 0)
                .otherwise(
                    churn_n * 1000 > F.lit(threshold_milli) * F.col("n_prev")
                )
                .alias("churned"),
            )
            .withColumn("batch", F.lit(batch_id).cast("bigint"))
        )
        # windows FIRST, idempotent by batch id (a replayed window's
        # rows overwrite their own prior append, never duplicate)
        if fs.exists(HPath(win_base)):
            old_w = spark.read.parquet(win_base).filter(
                F.col("batch") != batch_id
            )
            win_rows = old_w.unionByName(win_rows)
        # localCheckpoint: both state tables derive from the live map
        # parquet we are about to REPLACE; cut the lineage before the
        # swap so neither write re-reads a renamed-away directory
        win_rows = win_rows.localCheckpoint()
        new_map = (
            live.join(
                b.select(F.col("__id").alias(id_col)).distinct(),
                id_col,
                "left_anti",
            )
            .unionByName(
                b.filter(~F.col("__del")).select(
                    F.col("__id").alias(id_col),
                    F.col("__bg").alias(group_col),
                    F.col("__bfp").alias("fp"),
                    F.lit(batch_id).cast("bigint").alias("last_batch"),
                )
            )
        ).localCheckpoint()
        swap(fs, HPath, win_base, win_rows)
        swap(fs, HPath, map_base, new_map)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )


def minhash_index_stream(
    stream: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    max_deltas: int | None = None,
) -> "StreamingQuery":
    """Streaming ingest leg of the persisted MinHash index lifecycle
    (operators/dedup.py save -> append xN -> compact): every ingest
    window's documents are signed and committed as their OWN
    ``delta-<batch_id>`` directory under the index
    (``append_minhash_index_delta``), so the banded index that
    ``minhash_lsh_pairs_incremental`` probes stays CURRENT as the
    corpus streams in — new-vs-corpus candidates are visible one
    window after arrival, instead of waiting for a batch re-index.

    Cost and safety shape: O(window) signature work per window
    (shingles + signatures for the batch only — the batch append's
    cost contract, unchanged); each delta is published by an atomic
    marker rename, so foreachBatch's at-least-once replay no-ops on
    committed batch ids and a crash mid-write leaves an invisible,
    replay-overwritten directory.  ``compact_minhash_index`` remains
    the maintenance pass — it folds committed deltas into the next
    band-clustered generation (the ``_FOLDED`` high-water making the
    fold atomic with the generation commit) and the file count drops
    back to O(bands).  Bootstrap the index first with
    ``save_minhash_index`` (empty corpus is fine); parameters must
    match the saved index's, as with every probe of a prebuilt index.

    Contract (ADVICE r11): ONE stream per index path, with a STABLE
    checkpoint location.  Delta idempotence is keyed on ``batch_id``
    alone, so a second stream writing the same path — or wiping the
    checkpoint so the source re-maps files to different batch ids —
    can collide with an already-committed marker and silently no-op a
    window that actually carries new documents.  Re-pointing a fresh
    stream at an existing index requires a new checkpoint AND either
    an empty delta namespace (run ``compact_minhash_index`` first,
    which folds and GCs all committed deltas) or source data disjoint
    from what the old stream committed.

    ``max_deltas`` (opt-in) bounds read amplification: every committed
    delta a reader must union adds a directory to each probe's scan,
    so probe latency grows with the uncompacted-delta count (the
    measured curve is the ``ivf_probe_deltas_*`` bench rows).  When
    the unfolded count exceeds the threshold after an append, the sink
    runs ``compact_minhash_index`` inline — safe under the
    single-writer contract above, and folded batches stay no-ops on
    replay via the ``_FOLDED`` high-water.
    """
    from palegislature_spark.operators.dedup import (
        append_minhash_index_delta,
        compact_minhash_index,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        append_minhash_index_delta(
            spark, path, batch, batch_id,
            id_col=id_col, text_col=text_col,
            n=n, num_hashes=num_hashes, bands=bands,
        )
        if max_deltas is not None:
            base = path.rstrip("/")
            fs, HPath = hadoop_fs(spark, base)
            gen_dir = generation_dir(base, current_generation(fs, HPath, base))
            _, unfolded = MINHASH_DELTAS.unfolded(fs, HPath, base, gen_dir)
            if len(unfolded) > max_deltas:
                compact_minhash_index(spark, path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )


def ivf_index_stream(
    stream: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_deltas: int | None = None,
) -> "StreamingQuery":
    """Streaming ingest leg of the persisted IVF index
    (operators/similarity.py save_ivf_index -> ivf_append_delta xN): every
    window's vectors are assigned against the FROZEN persisted
    centroids and committed as an atomic ``delta-<batch_id>``
    directory (``ivf_append_delta``), so ``load_ivf_index`` +
    ``ivf_probe`` serve new arrivals one window after ingest without
    an index rebuild — the ``minhash_index_stream`` discipline on the
    IVF layout (committed-marker idempotence under at-least-once
    replay, uncommitted directories invisible, crash mid-write
    overwritten by the replay).

    Centroids stay frozen across windows (standard IVF serving:
    probes must keep matching the lists existing vectors were filed
    under); ``compact_ivf_index`` is the maintenance pass that folds
    accumulated deltas back into the list-clustered assignments
    dataset with a crash-safe staged swap.  O(window * n_lists)
    assignment work per window.  Bootstrap with ``save_ivf_index``
    first; ids are append-only across windows (dedup re-deliveries
    via the merge layer upstream, as with the batch append).

    Contract (ADVICE r11): ONE stream per index path, with a STABLE
    checkpoint location — delta idempotence is keyed on ``batch_id``
    alone (see ``minhash_index_stream`` for the collision modes and
    the compact-first recipe for re-pointing a fresh stream).  If the
    index was saved with ``meta_cols``, the stream's rows must carry
    those columns; ``ivf_append_delta`` raises otherwise rather than
    write NULL metadata that filtered serving would silently drop."""
    from palegislature_spark.operators.similarity import (
        compact_ivf_index,
        ivf_append_delta,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ivf_append_delta(
            spark, path, batch, batch_id, id_col=id_col, vec_col=vec_col,
        )
        if max_deltas is not None and _ivf_compaction_due(
            spark, path, max_deltas
        ):
            compact_ivf_index(spark, path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )


def _ivf_compaction_due(spark, path: str, max_deltas: int) -> bool:
    """More than ``max_deltas`` committed IVF deltas are unfolded — the
    reader's union width, the auto-compaction trigger."""
    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    _, unfolded = IVF_DELTAS.unfolded(fs, HPath, base, f"{base}/assignments")
    return len(unfolded) > max_deltas


def ivfpq_index_stream(
    stream: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_deltas: int | None = None,
) -> "StreamingQuery":
    """Streaming ingest leg of the persisted IVFPQ index (VERDICT r11
    #1): every window is BOTH filed into its IVF list
    (``ivf_append_delta`` — probe reachability) AND PQ-encoded against
    the frozen persisted codebooks (``pq_encode_delta`` — ADC
    rankability), so ``ivfpq_topk`` over ``load_ivf_index`` +
    ``load_pq_index`` ranks a streamed vector one window after ingest.
    Without the codes leg a streamed vector lands in the candidate set
    but has no codes row, and ADC serving silently drops it until a
    batch re-encode — the exact staleness this stream closes.

    The two commits ride separate atomic markers and are individually
    idempotent, so a crash BETWEEN them is repaired by the replay: the
    committed leg no-ops, the missing leg commits.  Between those two
    moments the vector is probe-visible but not yet rankable — the
    same not-yet-arrived window semantics readers already tolerate,
    never a wrong rank.  Bootstrap with ``save_ivf_index`` +
    ``save_pq_index`` on the SAME base path; centroids and codebooks
    stay frozen across windows (re-train offline, then re-encode).
    Single stream per index path with a stable checkpoint, as with
    ``ivf_index_stream``; ``max_deltas`` auto-compacts BOTH sides
    past the unfolded-delta threshold (the read-amplification bound —
    see ``minhash_index_stream``)."""
    from palegislature_spark.operators.pq import (
        compact_pq_codes,
        pq_encode_delta,
    )
    from palegislature_spark.operators.similarity import (
        compact_ivf_index,
        ivf_append_delta,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ivf_append_delta(
            spark, path, batch, batch_id, id_col=id_col, vec_col=vec_col,
        )
        pq_encode_delta(
            spark, path, batch, batch_id, id_col=id_col, vec_col=vec_col,
        )
        if max_deltas is not None and _ivf_compaction_due(
            spark, path, max_deltas
        ):
            compact_ivf_index(spark, path)
            compact_pq_codes(spark, path)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", path.rstrip("/") + "_cp")
        .trigger(availableNow=True)
        .start()
    )
