"""Corpus-hygiene and corpus-statistics queries: benchmark
decontamination, duplicate-span coverage and removal, BM25 relevance,
mixture weights, pad-aware batch formation, tokenizer encoding, and
the continuous-aggregate rollup cascade.

The second wave of the training-data-pipeline extension family (the
first wave — dedup/quality/sampling/packing — lives in ``text.py``).
Float discipline follows the house rule: every ratio is either a
single int/int division or a chain of IEEE-correctly-rounded ops
(`sqrt`, `*`, `/`, `+`) evaluated in an identical, explicitly
parenthesized order on both engines, so the driver's raw-value hash
matches with no rounding tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.catalog import load
from palegislature_spark.queries.registry import register


def _decontam_oracle() -> str:
    from palegislature_spark.operators.sampling import cumulative_hex_boundaries

    # eval = the 'test' split, i.e. draw >= the val upper boundary —
    # taken from the same accumulated sum split_column compares
    # against (never re-derived from the 0.95 literal; ADVICE r5)
    b_val = dict(
        cumulative_hex_boundaries({"train": 0.9, "val": 0.05, "test": 0.05})
    )["val"]
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(5))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15) >= '{b_val}'
           AS is_eval
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, is_eval, {gram} AS gram
  FROM (SELECT doc_id, is_eval, tk, unnest(generate_series(1, len(tk) - 4)) AS i
        FROM toks)
),
evalg AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
alltrain AS (SELECT doc_id FROM toks WHERE NOT is_eval),
counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
  FROM grams WHERE NOT is_eval GROUP BY doc_id
),
hits AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM grams g JOIN evalg e USING (gram)
  WHERE NOT g.is_eval GROUP BY g.doc_id
)
SELECT a.doc_id,
       coalesce(c.n_grams, 0) AS n_grams,
       coalesce(h.n_hit, 0) AS n_hit,
       CASE WHEN coalesce(c.n_grams, 0) > 0
            THEN coalesce(h.n_hit, 0) * 1.0 / c.n_grams
            ELSE 0.0e0 END AS hit_share,
       coalesce(h.n_hit, 0) > 0 AS contaminated
FROM alltrain a
LEFT JOIN counts c ON a.doc_id = c.doc_id
LEFT JOIN hits h ON a.doc_id = h.doc_id
"""


@register(
    "decontam_testset",
    covers="training-pipeline extension: benchmark decontamination — "
    "word-5-gram overlap of the train split against the held-out test "
    "split (GPT-3 appendix-C rule: any shared long n-gram flags the "
    "training document); eval n-gram set broadcast (benchmark-sized), "
    "corpus side linear",
    oracle=_decontam_oracle(),
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the deterministic hash-split (eval = its 'test' split)
    with the broadcast n-gram overlap operator — the exact
    decontamination job a pretraining pipeline runs, with the eval
    side fixed-size and broadcast no matter the corpus scale."""
    from palegislature_spark.operators.contamination import decontaminate
    from palegislature_spark.operators.sampling import hash_split

    docs = hash_split(
        load(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    train = docs.filter(F.col("split") != "test")
    eval_df = docs.filter(F.col("split") == "test")
    return decontaminate(train, eval_df, "doc_id", "text", n=5)


def _eval_overlap_oracle() -> str:
    from palegislature_spark.operators.sampling import cumulative_hex_boundaries

    b_val = dict(
        cumulative_hex_boundaries({"train": 0.9, "val": 0.05, "test": 0.05})
    )["val"]
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(5))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15) >= '{b_val}'
           AS is_eval
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, is_eval, {gram} AS gram
  FROM (SELECT doc_id, is_eval, tk, unnest(generate_series(1, len(tk) - 4)) AS i
        FROM toks)
),
traing AS (SELECT DISTINCT gram FROM grams WHERE NOT is_eval),
alleval AS (SELECT doc_id FROM toks WHERE is_eval),
counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
  FROM grams WHERE is_eval GROUP BY doc_id
),
hits AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM grams g JOIN traing t USING (gram)
  WHERE g.is_eval GROUP BY g.doc_id
)
SELECT a.doc_id,
       coalesce(c.n_grams, 0) AS n_grams,
       coalesce(h.n_hit, 0) AS n_hit,
       CASE WHEN coalesce(c.n_grams, 0) > 0
            THEN coalesce(h.n_hit, 0) * 1.0 / c.n_grams
            ELSE 0.0e0 END AS hit_share,
       coalesce(h.n_hit, 0) > 0 AS contaminated,
       (coalesce(c.n_grams, 0) > 0
        AND coalesce(h.n_hit, 0) * 2 >= coalesce(c.n_grams, 0))
         AS high_overlap
FROM alleval a
LEFT JOIN counts c ON a.doc_id = c.doc_id
LEFT JOIN hits h ON a.doc_id = h.doc_id
"""


@register(
    "benchmark_eval_overlap",
    covers="training-pipeline extension: EVAL-side contamination rate "
    "— the reverse direction of decontam_testset (GPT-3 appendix C / "
    "Llama eval-hygiene reports score the BENCHMARK: what fraction of "
    "each eval example's n-grams already appears in training data); "
    "per-eval-doc dirty share plus a majority-overlap flag as an "
    "integer inequality (2*n_hit >= n_grams), engine-exact",
    oracle=_eval_overlap_oracle(),
)
def benchmark_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene report: for every held-out test-split document,
    the share of ITS distinct 5-grams found anywhere in the training
    split — the contamination-rate table an eval release publishes
    (the train-side twin, decontam_testset, flags training docs for
    REMOVAL; this one scores the benchmark itself).

    Implementation IS the symmetric composition: the same
    ``decontaminate`` operator with the roles swapped — which also
    exercises its other scale regime: the broadcast side here is the
    TRAIN gram set, corpus-sized, so past ~5M distinct grams the
    operator's count-gate flips the membership test to a shuffle join
    automatically (at sf0.01 it still broadcasts). One corpus pass
    either way; ``high_overlap`` (majority of grams dirty — the
    strictest published exclusion tier) never touches floats.
    """
    from palegislature_spark.operators.contamination import decontaminate
    from palegislature_spark.operators.sampling import hash_split

    docs = hash_split(
        load(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    train = docs.filter(F.col("split") != "test")
    eval_df = docs.filter(F.col("split") == "test")
    rep = decontaminate(eval_df, train, "doc_id", "text", n=5)
    return rep.withColumn(
        "high_overlap",
        (F.col("n_grams") > 0) & (F.col("n_hit") * 2 >= F.col("n_grams")),
    )


def _span_oracle(k: int) -> str:
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(k))
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
spans AS (
  SELECT doc_id, i AS s, i + {k - 1} AS e, {gram} AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {k - 1})) AS i
        FROM toks)
),
dup AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS nd FROM spans GROUP BY gram
  ) WHERE nd >= 2
),
ds AS (SELECT doc_id, s, e FROM spans JOIN dup USING (gram)),
w AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end
  FROM ds
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM w
),
cov AS (
  SELECT doc_id, CAST(sum(extent) AS BIGINT) AS covered_tokens
  FROM (SELECT doc_id, island, max(e) - min(s) + 1 AS extent
        FROM isl GROUP BY doc_id, island)
  GROUP BY doc_id
),
nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks)
SELECT nt.doc_id, nt.n_tokens,
       coalesce(cov.covered_tokens, 0) AS covered_tokens,
       coalesce(cov.covered_tokens, 0) * 1.0 / nt.n_tokens AS coverage
FROM nt LEFT JOIN cov ON nt.doc_id = cov.doc_id
"""


@register(
    "coverage_dup_spans",
    covers="dedup extension: duplicate-span coverage — fraction of each "
    "document's tokens inside k-token spans occurring in >= 2 documents "
    "(Lee et al. 2022 substring dedup re-expressed as shingle grouping "
    "+ windowed interval union; every stage linear + shuffle-friendly)",
    oracle=_span_oracle(8),
)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from palegislature_spark.operators.contamination import (
        duplicate_span_coverage,
    )

    docs = load(spark, sf_dir, "documents")
    return duplicate_span_coverage(docs, "doc_id", "text", k=8)


_PAD_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST((len(string_split(text, ' ')) - 1) // 16 AS BIGINT) AS bucket,
         doc_id % 4 AS shard
  FROM documents
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket, shard
                               ORDER BY n_tokens, doc_id) AS rn
  FROM d
),
b AS (SELECT *, CAST((rn - 1) // 32 AS BIGINT) AS batch_id FROM r)
SELECT bucket, shard, batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS max_len,
       CAST(sum(n_tokens) AS BIGINT) AS sum_len,
       (count(*) * max(n_tokens) - sum(n_tokens)) * 1.0
         / (count(*) * max(n_tokens)) AS pad_waste_share
FROM b GROUP BY bucket, shard, batch_id
"""


@register(
    "batch_pad_efficient",
    covers="training-pipeline extension: pad-aware length-bucketed "
    "batch formation (inference/fine-tune loader prep — group "
    "similar-length documents into fixed-size batches and account the "
    "padding waste; the dynamic-batching complement of "
    "batch_sequence_packing's concat-and-chunk)",
    oracle=_PAD_ORACLE,
)
def batch_pad_efficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch formation: documents are bucketed by length (16-token
    bands), sharded, and greedily grouped 32-at-a-time in
    (length, id) order; each batch row reports its padded-token waste
    ((n_docs * max_len - sum_len) / padded — the tokens a loader
    would burn on padding).

    Scale shape: the ranking window is partitioned by (bucket, SHARD)
    — doc_id % 4 here, one shard per worker slice in production — so
    no window partition ever holds more than a bounded slice of the
    corpus and batches never straddle shards: exactly how a
    distributed loader forms batches per worker, and deterministic
    regardless of executor count. A single global sort (the naive
    'order everything by length' batcher) would be the one-partition
    bottleneck this design exists to avoid.
    """
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        ((F.col("n_tokens") - 1) / 16).cast("long").alias("bucket"),
        (F.col("doc_id") % 4).alias("shard"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("n_tokens", "doc_id")
    b = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "batch_id", ((F.col("rn") - 1) / 32).cast("long")
    )
    return b.groupBy("bucket", "shard", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_len"),
        (
            (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
            * F.lit(1.0)
            / (F.count(F.lit(1)) * F.max("n_tokens"))
        ).alias("pad_waste_share"),
    )


def _rewrite_oracle(k: int) -> str:
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(k))
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
pos AS (
  SELECT doc_id, i AS pos, tk[i] AS w
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM toks)
),
spans AS (
  SELECT doc_id, i AS s, i + {k - 1} AS e, {gram} AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {k - 1})) AS i
        FROM toks)
),
dup AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS nd FROM spans GROUP BY gram
  ) WHERE nd >= 2
),
rem AS (
  SELECT doc_id, s, e FROM (
    SELECT sp.doc_id, sp.s, sp.e,
           row_number() OVER (PARTITION BY gram ORDER BY sp.doc_id, sp.s) AS rn
    FROM spans sp JOIN dup USING (gram)
  ) WHERE rn > 1
),
w AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end
  FROM rem
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM w
),
mrg AS (
  SELECT doc_id, island, min(s) AS s, max(e) AS e
  FROM isl GROUP BY doc_id, island
),
cpos AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM mrg),
kept AS (
  SELECT p.doc_id, p.pos, p.w
  FROM pos p LEFT JOIN cpos c ON p.doc_id = c.doc_id AND p.pos = c.pos
  WHERE c.pos IS NULL
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(w, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
),
nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks)
SELECT nt.doc_id, nt.n_tokens,
       nt.n_tokens - coalesce(reb.n_kept, 0) AS n_removed,
       coalesce(reb.text_clean, '') AS text_clean
FROM nt LEFT JOIN reb ON nt.doc_id = reb.doc_id
"""


@register(
    "cleanup_span_rewrite",
    covers="dedup extension: duplicate-span REMOVAL — the rewrite step "
    "of Lee et al. 2022 ExactSubstr dedup (keep the globally first "
    "occurrence of every duplicated k-token span, strip the rest, "
    "reconstruct the text); canonical election is a per-gram window "
    "argmin, the strip an interval-union + position anti-join",
    oracle=_rewrite_oracle(8),
)
def cleanup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from palegislature_spark.operators.contamination import (
        strip_duplicate_spans,
    )

    docs = load(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, "doc_id", "text", k=8)


_BM25_TERMS = ("spark", "hash", "window", "merge")
# single source of truth for the BM25 constants — the index-served
# path (operators/index.py) must use the SAME values or the
# bit-for-bit index-vs-fullscan contract silently breaks
from palegislature_spark.operators.index import B as _B_NUM  # noqa: E402
from palegislature_spark.operators.index import K1 as _K1_NUM  # noqa: E402

_K1, _B = str(_K1_NUM), str(_B_NUM)


def _bm25_oracle(final: str | None = None) -> str:
    """Shared builder for the full-scan BM25 SQL (bm25_relevance) and
    the search oracle (bm25_search_topk) — one definition of the
    tf/df/score expressions so the two cannot drift apart. ``final``
    overrides the closing SELECT; ``{comps}`` / ``{any_hit}`` are
    substituted."""
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(tk, w -> w = '{t}')) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    # e0-suffixed literals force DOUBLE: DuckDB parses bare `2.2` as
    # DECIMAL and keeps int*DECIMAL exact, which breaks the IEEE
    # bit-for-bit correspondence with Spark's double arithmetic
    # every literal derives from the imported constants — hard-coding
    # 2.2/0.25 here would break the single-source-of-truth claim the
    # moment K1/B change in operators/index.py (ADVICE r5); repr()
    # round-trips the exact double
    k1p1, one_minus_b = f"{_K1_NUM + 1.0!r}", f"{1.0 - _B_NUM!r}"
    comps = " + ".join(
        f"(((n - df_{t} + 0.5e0) / (df_{t} + 0.5e0))"
        f" * ((tf_{t} * {k1p1}e0)"
        f" / (tf_{t} + {_K1}e0 * ({one_minus_b}e0 + {_B}e0 * (dl / avgdl)))))"
        for t in _BM25_TERMS
    )
    any_hit = " + ".join(f"tf_{t}" for t in _BM25_TERMS)
    if final is None:
        final = (
            "SELECT doc_id, dl AS n_tokens,\n       "
            + ", ".join(f"tf_{t}" for t in _BM25_TERMS)
            + ",\n       {comps} AS score\nFROM d CROSS JOIN s"
        )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
d AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         {tf_cols}
  FROM t
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(dl) * 1.0e0 / count(*) AS avgdl,
         {df_cols}
  FROM d
)
{final.format(comps=comps, any_hit=any_hit)}
"""


@register(
    "bm25_relevance",
    covers="text-analysis extension: BM25 relevance scoring against a "
    "fixed query (Robertson-Sparck Jones; rational idf variant — the "
    "log-free odds ratio, same ranking — keeps every op an IEEE "
    "correctly-rounded */ /+ chain, fixed-order summed, so scores are "
    "bit-exact across engines)",
    oracle=_bm25_oracle(),
)
def bm25_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) of every document against the query
    {spark, hash, window, merge}. Corpus statistics (N, avgdl, per-term
    document frequencies) are one aggregate row broadcast back via
    crossJoin — the 1-row scalar-attach pattern; the per-document side
    is a single linear projection. The idf is the un-logged
    Robertson-Sparck Jones odds ratio (N - df + 0.5)/(df + 0.5): a
    monotone transform of the classical log idf (identical ranking)
    chosen because libm ``ln`` is the one op whose last-ulp rounding
    is NOT pinned down by IEEE 754 across engines."""
    docs = load(spark, sf_dir, "documents")

    def tf(term: str) -> F.Column:
        # closure factory: a `t=t` default arg would make the HOF
        # bridge read the lambda as the (element, index) 2-arg form
        return (
            F.size(F.filter(F.col("tk"), lambda w: w == term))
            .cast("long")
            .alias(f"tf_{term}")
        )

    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("tk"),
    ).select(
        "doc_id",
        F.size("tk").cast("long").alias("dl"),
        *[tf(t) for t in _BM25_TERMS],
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    k1, b = float(_K1), float(_B)

    def comp(t: str) -> F.Column:
        idf = (F.col("n") - F.col(f"df_{t}") + F.lit(0.5)) / (
            F.col(f"df_{t}") + F.lit(0.5)
        )
        tf_part = (F.col(f"tf_{t}") * F.lit(k1 + 1.0)) / (
            F.col(f"tf_{t}")
            + F.lit(k1)
            * (
                F.lit(1 - b)
                + F.lit(b) * (F.col("dl") / F.col("avgdl"))
            )
        )
        return idf * tf_part

    score = comp(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + comp(t)
    return d.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.col("dl").alias("n_tokens"),
        *[F.col(f"tf_{t}") for t in _BM25_TERMS],
        score.alias("score"),
    )


# The mixture-weight CTE block, shared VERBATIM by _MIX_ORACLE here,
# _EPOCH_ORACLE below, and text.py's _WEIGHTED_EPOCH_ORACLE (ADVICE
# r9: a named constant instead of string surgery on the assembled SQL,
# which silently truncated the wrong half if a SELECT ever followed
# the outer projection).
_MIX_CTES = """src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS grand FROM src),
w AS (SELECT source, n_docs, n_tokens,
             sqrt(CAST(n_tokens AS DOUBLE)) AS sw
      FROM src),
den AS (
  SELECT CAST(
           list_reduce(list(sw ORDER BY source), (a, b) -> a + b)
           AS DOUBLE) AS denom
  FROM w
)"""

_MIX_ORACLE = f"""
WITH {_MIX_CTES}
SELECT source, n_docs, n_tokens,
       n_tokens * 1.0 / grand AS raw_share,
       sw / denom AS temp_share,
       (sw / denom) / (n_tokens * 1.0 / grand) AS repeat_factor
FROM w CROSS JOIN tot CROSS JOIN den
"""


@register(
    "corpus_mixture_weights",
    covers="training-pipeline extension: temperature-scaled domain "
    "mixture weights (alpha = 0.5 token-count reweighting, the "
    "multilingual-sampling rule of mBERT/XLM-R/PaLM data mixing) with "
    "per-domain repeat factors; the one float sum (the sqrt "
    "normalizer) is a fixed-order sequential fold on both engines",
    oracle=_MIX_ORACLE,
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights: raw token share vs temperature
    share p_i^0.5 / sum(p_j^0.5) and the repeat factor their ratio
    implies. The heavy work is one map-side-combined groupBy over the
    corpus; everything after runs on the domain-count table (20 rows
    here, thousands at worst — dimension-sized at any corpus scale).
    The sqrt-weight normalizer is summed by an explicit sorted
    sequential fold (init 0.0, left-to-right), matching DuckDB's
    ``list_reduce`` over ``list(sw ORDER BY source)`` bit for bit —
    an order-pinned sum, where a plain ``sum()`` over doubles would
    be free to add in any (engine-specific) order."""
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = src.withColumn("sw", F.sqrt(F.col("n_tokens").cast("double")))
    scal = w.agg(
        F.sum("n_tokens").cast("long").alias("grand"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "sw"))),
                lambda s: s["sw"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("denom"),
    )
    return w.crossJoin(F.broadcast(scal)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") * F.lit(1.0) / F.col("grand")).alias("raw_share"),
        (F.col("sw") / F.col("denom")).alias("temp_share"),
        (
            (F.col("sw") / F.col("denom"))
            / (F.col("n_tokens") * F.lit(1.0) / F.col("grand"))
        ).alias("repeat_factor"),
    )


@register(
    "corpus_source_gate",
    covers="training-pipeline extension: SOURCE-level curation gate "
    "(domain filtering a la C4/RefinedWeb blocklists) — per-source "
    "aggregate quality stats decide keep/suppress for every document "
    "of the source; both ratios are int-sum/int-sum single divisions, "
    "engine-exact",
    oracle="""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
d AS (
  SELECT doc_id, source, len(tk) AS nw,
         len(list_filter(tk, w -> w IN ('the', 'a', 'of', 'and'))) AS stops
  FROM t
),
s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS source_docs,
         sum(CASE WHEN nw < 12 THEN 1 ELSE 0 END) * 1.0 / count(*) AS short_share,
         sum(stops) * 1.0 / sum(nw) AS source_stop_rate
  FROM d GROUP BY source
)
SELECT d.doc_id, d.source, s.source_docs, s.short_share, s.source_stop_rate,
       (s.short_share <= 0.02 AND s.source_stop_rate <= 0.07) AS source_kept
FROM d JOIN s USING (source)
""",
)
def source_level_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation: a web pipeline suppresses whole SOURCES
    (domains) whose aggregate quality is bad, not just individual
    documents — the blocklist stage of C4/RefinedWeb. Every document
    comes back with its source's aggregate stats and the keep/suppress
    verdict (violations-as-data, the house pattern).

    Scale shape: per-doc signals are row-local expressions; ONE
    map-side-combined shuffle collapses them to the source table
    (dimension-sized — domains number ~1e6-1e8 even at web scale);
    the verdict joins back broadcast below 5M sources, shuffle above
    (same count-gate policy as decontaminate / ivf_assignments).
    The source table is eagerly ``localCheckpoint``-ed before the
    gate: the corpus aggregation runs EXACTLY ONCE, the gate count is
    a free count of the materialized (dimension-sized) result, and the
    returned plan joins the checkpoint back to the corpus — one corpus
    pass total, not two (the r7 gate counted ``src`` straight off its
    lineage, executing the full corpus aggregation once for the gate
    and again in the returned plan). Trade-off: a localCheckpoint is
    unreplicated, so an executor loss during the join re-runs the
    query rather than recomputing a partition — acceptable for a
    gate-scoped, dimension-sized intermediate.
    Float discipline: short_share and source_stop_rate are each ONE
    long/long division (no float accumulations), so the gate
    comparison sees identical doubles on both engines.
    """
    docs = load(spark, sf_dir, "documents").withColumn(
        "tk", F.split("text", " ")
    )
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size("tk").alias("nw"),
        F.size(
            F.filter(F.col("tk"), lambda w: w.isin("the", "a", "of", "and"))
        ).alias("stops"),
    )
    src = (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("source_docs"),
            F.sum(F.when(F.col("nw") < 12, 1).otherwise(0)).alias("short"),
            F.sum("stops").alias("s_stops"),
            F.sum("nw").alias("s_words"),
        )
        .select(
            "source",
            "source_docs",
            (F.col("short") / F.col("source_docs")).alias("short_share"),
            (F.col("s_stops") / F.col("s_words")).alias("source_stop_rate"),
        )
        .withColumn(
            "source_kept",
            (F.col("short_share") <= 0.02)
            & (F.col("source_stop_rate") <= 0.07),
        )
    )
    src = src.localCheckpoint(eager=True)
    gate = F.broadcast(src) if src.count() <= 5_000_000 else src
    return per_doc.select("doc_id", "source").join(gate, "source").select(
        "doc_id",
        "source",
        "source_docs",
        "short_share",
        "source_stop_rate",
        "source_kept",
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    """Unrolled DuckDB replay of train-then-encode: the same
    boundary-wrapped string-replace merge chain as ``_bpe_oracle`` in
    ``text.py`` (provably equal to the Spark fold — see
    ``operators/bpe.py`` module docstring), extended one step to
    syms{n+1} (the fully merged vocabulary) and then applied to every
    document as a word -> token-list dictionary join."""
    ctes = [
        """words AS (
  SELECT token AS w, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> '' AND instr(token, chr(1)) = 0 AND instr(token, chr(2)) = 0
  GROUP BY token
)""",
        """syms1 AS (
  SELECT w, cnt,
         array_to_string(list_transform(regexp_extract_all(w, '(?s).'),
                                        c -> chr(1) || c || chr(2)), '') AS s
  FROM words
)""",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""tk{k} AS (
  SELECT cnt,
         regexp_extract_all(s, chr(1) || '([^' || chr(1) || ']*)' || chr(2), 1) AS tk
  FROM syms{k}
)"""
        )
        ctes.append(
            f"""pairs{k} AS (
  SELECT p.a AS a, p.b AS b, sum(cnt) AS n
  FROM (SELECT cnt, unnest(list_transform(range(2, len(tk) + 1),
                           i -> struct_pack(a := tk[i-1], b := tk[i]))) AS p
        FROM tk{k})
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""top{k} AS (
  SELECT a, b, a || b AS m, n FROM pairs{k} ORDER BY n DESC, a, b LIMIT 1
)"""
        )
        ctes.append(
            f"""syms{k + 1} AS (
  SELECT w, cnt,
         replace(s, chr(1) || t.a || chr(2) || chr(1) || t.b || chr(2),
                    chr(1) || t.m || chr(2)) AS s
  FROM syms{k} CROSS JOIN top{k} t
)"""
        )
    ctes.append(
        f"""dict AS (
  SELECT w,
         regexp_extract_all(s, chr(1) || '([^' || chr(1) || ']*)' || chr(2), 1)
           AS toks
  FROM syms{n_merges + 1}
)"""
    )
    ctes.append(
        """dtoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
dw AS (
  SELECT doc_id, i, tk[i] AS w
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM dtoks)
  WHERE tk[i] <> ''
),
wt AS (
  SELECT doc_id, i, j, toks[j] AS token
  FROM (SELECT doc_id, i, toks, unnest(generate_series(1, len(toks))) AS j
        FROM dw JOIN dict USING (w))
),
enc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         list(token ORDER BY i, j) AS tokens
  FROM wt GROUP BY doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT d.doc_id,
       coalesce(enc.n_tokens, 0) AS n_tokens,
       array_to_string(coalesce(enc.tokens, CAST([] AS VARCHAR[])), ' ')
         AS tokens
FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id"""
    )


@register(
    "bpe_encode_corpus",
    covers="text-analysis extension: tokenizer ENCODE — apply the "
    "trained BPE merge table to every document (model-sized merge "
    "list collected once, applied as a chain of JVM-side folds in one "
    "projection; completes the train/encode tokenizer pair)",
    oracle=_bpe_encode_oracle(8),
)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 merges (same rounds as ``bpe_train_merges``), then
    encode the corpus with them. Encoding is shuffle-free: the merge
    table is collected (model-sized — the tokenizer artifact), and
    each document is tokenized by one linear fold chain per merge
    inside a single projection."""
    from palegislature_spark.operators.bpe import apply_bpe, bpe_merge_table

    docs = load(spark, sf_dir, "documents")
    # merge_batch=8: identical output in ~2-3 driver rounds instead of
    # 8 (see bpe_train_merges; equality pinned in tests/test_bpe.py)
    merges = bpe_merge_table(docs, "text", n_merges=8, merge_batch=8)
    # words containing \x01/\x02 are excluded from TRAINING on both
    # engines (vocabulary(); the oracle's boundary-wrap replay needs
    # them); the oracle's encode dictionary inherits that exclusion
    # through its inner join, so screen them identically here —
    # apply_bpe itself encodes any word
    cleaned = docs.select(
        "doc_id",
        F.array_join(
            F.filter(
                F.split("text", " "),
                lambda w: ~w.contains("\x01") & ~w.contains("\x02"),
            ),
            " ",
        ).alias("text"),
    )
    # apply_bpe is the shuffle-free mapInPandas kernel with the
    # per-task word memo — no dictionary join, so no broadcast
    # decision (or its per-rep count() job) is needed
    enc = apply_bpe(cleaned, merges, "doc_id", "text")
    # space-joined (not raw array<string>): top-level result columns
    # must be scalar so downstream canonicalizers can sort/hash them —
    # enforced repo-wide by tests/test_registry.py's output-schema lint
    return enc.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.array_join("tokens", " ").alias("tokens"),
    )


_ROLLUP_ORACLE = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 2) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT strftime(date_trunc('day', hour), '%Y-%m-%d') AS day, event_type,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(list_reduce(list(total_value ORDER BY hour), (a, b) -> a + b)
            AS DOUBLE) AS total_value
FROM h GROUP BY 1, 2
"""


@register(
    "cascade_rollup_daily",
    covers="training-pipeline/storage extension: continuous-aggregate "
    "rollup cascade (raw -> hourly -> daily, the daily level derived "
    "from the HOURLY table, never raw — TimescaleDB continuous "
    "aggregates on Spark; daily double totals order-pinned by an "
    "hour-sorted fold so the cascade replays bit-exactly)",
    oracle=_ROLLUP_ORACLE,
)
def cascade_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily level of the rollup cascade. The oracle replays the same
    two-level shape (hourly CTE, then an hour-ordered list_reduce for
    the daily totals — matching the Spark fold's 0.0 init exactly,
    since 0.0 + x == x in IEEE). Incremental refresh of the hourly
    level is exercised from a real stream in tests/test_rollup.py."""
    from palegislature_spark.operators.rollup import (
        daily_from_hourly,
        hourly_rollup,
    )
    from palegislature_spark.session import ensure_utc

    ensure_utc(spark)
    ev = load(spark, sf_dir, "events")
    daily = daily_from_hourly(hourly_rollup(ev))
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    )


def _search_oracle() -> str:
    return _bm25_oracle(
        final="SELECT doc_id, {comps} AS score\n"
        "FROM d CROSS JOIN s\n"
        "WHERE {any_hit} > 0\n"
        "ORDER BY score DESC, doc_id\n"
        "LIMIT 10"
    )


@register(
    "bm25_search_topk",
    covers="text-analysis extension: index-SERVED BM25 search — top-k "
    "over the sharded inverted index (build/serve split, the IR "
    "analogue of the IVF index pair; the query touches only the "
    "queried tokens' posting segments, never the corpus). Oracle is "
    "the equivalent full-scan ranking — the index path must reproduce "
    "it bit for bit",
    oracle=_search_oracle(),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from palegislature_spark.operators.index import (
        build_inverted_index,
        bm25_search_topk as _search,
    )

    docs = load(spark, sf_dir, "documents")
    idx = build_inverted_index(docs, "doc_id", "text", n_shards=4)
    return _search(idx, _BM25_TERMS, k=10)


_SUPPLIER_EDGES_SQL = """edges AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)"""


def _pagerank_oracle(
    iters: int,
    edges_sql: str = _SUPPLIER_EDGES_SQL,
    final: str = "SELECT node, rank FROM r{n}",
) -> str:
    """Unrolled replay of the exact_replay pagerank: per-node incoming
    sums fold in source-id order (list_reduce == the Spark fold with
    0.0 init, since 0.0 + x == x in IEEE); (1 - d) is written as the
    SQL expression (1.0e0 - 0.85e0) so both engines derive the same
    double the Python literal subtraction produces. ``edges_sql`` is
    the graph-defining CTE (must be named ``edges`` with src/dst);
    ``final`` the last SELECT with ``{n}`` for the last round."""
    ctes = [
        edges_sql,
        """nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
)""",
        """deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       FROM edges GROUP BY src)""",
        "r0 AS (SELECT node, 1.0e0 AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst, e.src, r.rank / d.deg AS c
  FROM edges e
  JOIN r{i - 1} r ON r.node = e.src
  JOIN deg d ON d.src = e.src
)"""
        )
        ctes.append(
            f"""s{i} AS (
  SELECT dst, CAST(list_reduce(list(c ORDER BY src), (a, b) -> a + b)
              AS DOUBLE) AS s
  FROM c{i} GROUP BY dst
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT n.node,
         (1.0e0 - 0.85e0) + 0.85e0 * coalesce(s.s, 0.0e0) AS rank
  FROM nodes n LEFT JOIN s{i} s ON s.dst = n.node
)"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + final.format(n=iters)


@register(
    "centrality_rank_suppliers",
    covers="analytics extension: PageRank (3 damped propagation rounds "
    "over the distinct customer->supplier purchase graph — the "
    "weighted-iteration graph case beside connected components; "
    "oracle replays the order-pinned exact_replay twin, the scale "
    "default uses a plain map-side-combined sum)",
    oracle=_pagerank_oracle(3),
)
def centrality_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from palegislature_spark.operators.graph import (
        pagerank,
        supplier_purchase_edges,
    )

    return pagerank(
        supplier_purchase_edges(spark, sf_dir), iters=3, exact_replay=True
    )


_EPOCH_ORACLE = f"""
WITH {_MIX_CTES},
rf AS (
  SELECT source, (sw / denom) / (n_tokens * 1.0 / grand) AS repeat_factor
  FROM w CROSS JOIN tot CROSS JOIN den
),
plan AS (
  SELECT d.doc_id, d.source,
         CAST(floor(r.repeat_factor) AS BIGINT)
         + CASE WHEN substr(md5('epoch0|' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                     < lpad(lower(to_hex(
                         CAST(floor((r.repeat_factor - floor(r.repeat_factor))
                                    * 1152921504606846976.0e0) AS BIGINT)
                       )), 15, '0')
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN rf r ON d.source = r.source
)
SELECT doc_id, source, CAST(i AS BIGINT) AS copy_idx
FROM (SELECT doc_id, source, n_copies,
             unnest(generate_series(1, n_copies)) AS i
      FROM plan)
"""


@register(
    "corpus_epoch_sample",
    covers="training-pipeline extension: epoch plan materialization — "
    "turn the temperature-mixture repeat factors into an actual "
    "deterministic sampled corpus (floor(r) guaranteed copies + one "
    "more when the doc's md5 draw falls under frac(r); the fractional "
    "boundary is frac * 2^60 — an EXACT power-of-two scaling of the "
    "engine-identical double, so the draw replays bit-exactly)",
    oracle=_EPOCH_ORACLE,
)
def corpus_epoch_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes corpus_mixture_weights with a deterministic per-doc
    hash draw: every document appears floor(r_source) times plus one
    extra copy iff its 60-bit md5 draw is below frac(r_source) * 2^60.
    Expected token share per domain equals the temperature share; the
    plan is repartition- and engine-stable (no RNG). One broadcast of
    the domain-factor table; one explode — linear in output size."""
    weights = domain_mixture_weights(spark, sf_dir).select(
        "source", "repeat_factor"
    )
    docs = load(spark, sf_dir, "documents")
    boundary = F.floor(
        (F.col("repeat_factor") - F.floor("repeat_factor"))
        * F.lit(1152921504606846976.0)
    ).cast("long")
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("epoch0|"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    plan = (
        docs.join(F.broadcast(weights), "source")
        .select(
            "doc_id",
            "source",
            (
                F.floor("repeat_factor").cast("long")
                + F.when(draw < boundary, 1).otherwise(0)
            ).alias("n_copies"),
        )
    )
    # sequence(1, 0) DESCENDS in Spark ([1, 0]) instead of returning
    # empty — guard zero-copy docs explicitly so they drop like
    # DuckDB's empty generate_series
    copies = F.when(
        F.col("n_copies") >= 1,
        F.sequence(F.lit(1), F.col("n_copies")),
    ).otherwise(F.expr("array()").cast("array<int>"))
    return plan.select(
        "doc_id",
        "source",
        F.explode(copies).alias("copy_idx"),
    ).select("doc_id", "source", F.col("copy_idx").cast("long").alias("copy_idx"))


_WORD_EDGES_SQL = """pairs AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
        FROM (SELECT string_split(text, ' ') AS tk FROM documents))
),
edges AS (
  SELECT w1 AS src, w2 AS dst FROM pairs
  UNION
  SELECT w2, w1 FROM pairs
)"""


@register(
    "centrality_textrank_keywords",
    covers="text-analysis extension: TextRank keyword extraction "
    "(Mihalcea & Tarau 2004) — PageRank composed over the corpus word "
    "co-occurrence graph (adjacent-word edges, both directions), "
    "distributed top-20; reuses operators/graph.py with the same "
    "order-pinned exact_replay twin",
    oracle=_pagerank_oracle(
        3,
        edges_sql=_WORD_EDGES_SQL,
        final="SELECT node AS token, rank FROM r{n}"
        " ORDER BY rank DESC, node LIMIT 20",
    ),
)
def centrality_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from palegislature_spark.operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    tk = docs.select(F.split("text", " ").alias("tk"))
    pairs = tk.select(
        F.explode(
            F.when(
                F.size("tk") >= 2,
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i-1] AS w1, tk[i] AS w2))"
                ),
            ).otherwise(
                F.expr("array()").cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    edges = pairs.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst")
    ).unionByName(
        pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
    )
    ranks = pagerank(edges, iters=3, exact_replay=True)
    return (
        ranks.orderBy(F.desc("rank"), "node")
        .limit(20)
        .select(F.col("node").alias("token"), "rank")
    )


_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cnt AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total
        FROM cnt GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n, c.n * 1.0 / t.total AS prob
FROM cnt c JOIN tot t ON c.from_type = t.from_type
"""


@register(
    "chain_markov_transitions",
    covers="analytics extension: first-order Markov transition matrix "
    "over per-user event sequences (lead window + two keyed "
    "aggregations; probabilities stay int/int rational)",
    oracle=_TRANSITION_ORACLE,
)
def chain_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next event type | current) estimated from every user's
    (ts, event_id)-ordered event sequence — the behavioral-model
    summary (and the generator for synthetic session data). One
    window shuffle on user_id + one (from, to) aggregation."""
    from palegislature_spark.session import ensure_utc

    ensure_utc(spark)
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cnt = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cnt.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("total")
    )
    return cnt.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") * F.lit(1.0) / F.col("total")).alias("prob"),
    )


@register(
    "agg_salted_skew",
    covers="scale-hardening extension: deterministic two-phase salted "
    "aggregation (operators/skew.py salted_agg) over a heavy-hitter "
    "group key — the hot key's rows spread across 32 salt buckets in "
    "phase 1, partials combine in phase 2; semantically identical to "
    "the plain groupBy the oracle runs (AQE never splits a hash "
    "aggregate, so this is the explicit answer for skewed groupings)",
    oracle="""
SELECT l_returnflag,
       CAST(count(l_quantity) AS BIGINT) AS count_l_quantity,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate 60k+ rows into a handful of return-flag groups via
    the salted two-phase operator: counts/sums/extrema stay exact
    integers (TPC-H quantities are whole numbers), so two-phase ==
    one-phase bit for bit and the plain-SQL oracle doubles as the
    semantic-equality check."""
    from palegislature_spark.operators.skew import salted_agg

    qty = F.col("l_quantity").cast("long")
    # salted_agg maps column -> ONE aggregate; alias the measure per
    # aggregate so all four ride a single two-phase pass (one shuffle)
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        qty.alias("qty"),
        qty.alias("qty_min"),
        qty.alias("qty_max"),
    )
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "qty": "sum",
            "l_orderkey": "count",
            "qty_min": "min",
            "qty_max": "max",
        },
        salt_cols=["l_orderkey", "l_linenumber"],
        buckets=32,
    )
    return out.select(
        "l_returnflag",
        F.col("count_l_orderkey").cast("long").alias("count_l_quantity"),
        F.col("sum_qty").cast("long").alias("sum_qty"),
        F.col("min_qty_min").cast("long").alias("min_qty"),
        F.col("max_qty_max").cast("long").alias("max_qty"),
    )


@register(
    "corpus_epoch_order",
    covers="training-pipeline extension: deterministic per-epoch "
    "global shuffle order (data-loader permutation) — exact global "
    "positions via range-bucket prefix sums, no single-partition "
    "sort; engine-exact because the key is md5 and ranks are integer",
    oracle="""
SELECT doc_id,
       md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(row_number() OVER (
         ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS position
FROM documents
""",
)
def corpus_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-1 training order for the documents corpus: a total,
    reproducible permutation (seeded md5 reshuffle key) with exact
    global positions. The oracle ranks with one global window; the
    Spark plan replaces that with 256-way range buckets + prefix-sum
    offsets (operators/sampling.py epoch_order), so no stage ever
    sorts more than ~1/256 of the corpus in one task."""
    from palegislature_spark.operators.sampling import epoch_order

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return epoch_order(docs, "doc_id", "epoch1:")


_URL_CANON_SQL_PARTS = """
pct AS (
  -- RFC 3986 percent normalization: decode unreserved escapes,
  -- uppercase the hex of the rest, leave malformed '%' verbatim
  SELECT doc_id, url,
    u[1] || array_to_string(
      list_transform(u[2:], x ->
        CASE WHEN regexp_extract(x, '^([0-9A-Fa-f]{2})', 1) = ''
             THEN '%' || x
             WHEN (TRY_CAST(('0x' || substring(x, 1, 2)) AS INT) BETWEEN 48 AND 57)
               OR (TRY_CAST(('0x' || substring(x, 1, 2)) AS INT) BETWEEN 65 AND 90)
               OR (TRY_CAST(('0x' || substring(x, 1, 2)) AS INT) BETWEEN 97 AND 122)
               OR TRY_CAST(('0x' || substring(x, 1, 2)) AS INT) IN (45, 46, 95, 126)
             THEN chr(TRY_CAST(('0x' || substring(x, 1, 2)) AS INT)) || substring(x, 3)
             ELSE '%' || upper(substring(x, 1, 2)) || substring(x, 3)
        END),
      '') AS url_n
  FROM (SELECT doc_id, url, string_split(url, '%') AS u FROM dirty)
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url_n, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS s,
    -- lowercase host:port only; userinfo (up to the last @) keeps case
    substring(h0, 1, length(h0) - length(regexp_extract(h0, '([^@]*)$', 1)))
      || lower(regexp_extract(h0, '([^@]*)$', 1)) AS h,
    regexp_extract(url_n, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p,
    regexp_extract(url_n, '^[^#?]*\\?([^#]*)', 1) AS q
  FROM (
    SELECT doc_id, url, url_n,
      regexp_extract(url_n, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS h0
    FROM pct
  )
),
canon AS (
  SELECT doc_id, url,
    s || '://' ||
    CASE WHEN ends_with(h, CASE WHEN s = 'https' THEN ':443' ELSE ':80' END)
         THEN substring(h, 1, length(h) - CASE WHEN s = 'https' THEN 4 ELSE 3 END)
         ELSE h END ||
    CASE WHEN length(p1) > 1 AND ends_with(p1, '/')
         THEN substring(p1, 1, length(p1) - 1) ELSE p1 END ||
    CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS canonical_url
  FROM (
    SELECT *,
      CASE WHEN p = '' THEN '/' ELSE p END AS p1,
      array_to_string(
        list_sort(list_filter(string_split(q, '&'),
                              x -> x <> '' AND NOT starts_with(x, 'utm_'))),
        '&') AS kept
    FROM parts
  )
)
"""


@register(
    "canonicalize_url_dedup",
    covers="training-pipeline extension: URL canonicalization + dedup "
    "(the crawl-frontier stage before content dedup — host case, "
    "default ports, tracking params, param order, trailing slash, "
    "fragments, percent-encoding spellings all collapse); pure "
    "string algebra, engine-exact",
    oracle="""
WITH raw AS (
  SELECT doc_id, doc_id // 3 AS article, (doc_id // 3) % 5 AS ref,
         doc_id % 4 AS v
  FROM documents
),
dirty AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://WWW.News-Site.com/%41rticles/' || article || '?utm_source=feed&ref=' || ref || '&a=x%2fy'
      WHEN 1 THEN 'HTTPS://www.news-site.COM:443/Articles/' || article || '/?ref=' || ref || '&a=x%2Fy'
      WHEN 2 THEN 'https://www.news-site.com/Articles/' || article || '?ref=' || ref || '&a=x%2fy&utm_medium=mail#top'
      ELSE 'https://www.news-site.com/Articles/' || article || '/?utm_c=x&a=x%2Fy&ref=' || ref
    END AS url
  FROM raw
),
""" + _URL_CANON_SQL_PARTS + """
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM canon GROUP BY canonical_url
""",
)
def canonicalize_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: every document carries a deterministically
    messy URL variant (4 spellings per article id — tracking params,
    port/case noise, trailing slash, fragment, percent-encoding:
    ``%41rticles``→``Articles``, ``x%2fy``→``x%2Fy``); canonicalization
    (functions/urls.py, let-bound pure expressions) must collapse each
    article's variants to ONE canonical key. One map pass + one
    map-side-combined aggregate on the canonical key — exactly the
    crawl-frontier dedup a web pipeline runs before fetching.
    """
    from palegislature_spark.functions.urls import canonicalize_url

    docs = load(spark, sf_dir, "documents").select("doc_id")
    # integer DIV, not double /: at 1e15+ ids a double quotient is
    # no longer exact and the article key would fray
    article = F.expr("doc_id div 3")
    raw = docs.select(
        "doc_id",
        article.alias("article"),
        (article % 5).alias("ref"),
        (F.col("doc_id") % 4).alias("v"),
    )
    a, r = F.col("article").cast("string"), F.col("ref").cast("string")
    dirty = raw.select(
        "doc_id",
        F.when(F.col("v") == 0,
               F.concat(F.lit("https://WWW.News-Site.com/%41rticles/"), a,
                        F.lit("?utm_source=feed&ref="), r,
                        F.lit("&a=x%2fy")))
        .when(F.col("v") == 1,
              F.concat(F.lit("HTTPS://www.news-site.COM:443/Articles/"), a,
                       F.lit("/?ref="), r, F.lit("&a=x%2Fy")))
        .when(F.col("v") == 2,
              F.concat(F.lit("https://www.news-site.com/Articles/"), a,
                       F.lit("?ref="), r,
                       F.lit("&a=x%2fy&utm_medium=mail#top")))
        .otherwise(
            F.concat(F.lit("https://www.news-site.com/Articles/"), a,
                     F.lit("/?utm_c=x&a=x%2Fy&ref="), r))
        .alias("url"),
    )
    return (
        dirty.select("doc_id", "url", canonicalize_url(F.col("url")).alias(
            "canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.count_distinct("url").cast("long").alias("n_distinct_raw"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
    )


@register(
    "audit_corpus_delta",
    covers="training-pipeline extension: corpus snapshot diff between "
    "two generations — per-source added/removed/changed/unchanged "
    "counts from ONE full-outer join of narrow (id, group, md5) rows, "
    "churn share as a single exact division, churn alarm as an "
    "integer inequality; the what-changed report upstream of the "
    "category/numeric/embedding drift gates",
    oracle="""
WITH prev AS (
  SELECT doc_id, source, md5(text) AS fp
  FROM documents WHERE doc_id % 19 <> 0
),
cur AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS fp
  FROM documents WHERE doc_id % 23 <> 0
),
j AS (
  SELECT coalesce(c.source, p.source) AS source,
         CASE WHEN p.fp IS NULL THEN 1 ELSE 0 END AS a,
         CASE WHEN c.fp IS NULL THEN 1 ELSE 0 END AS r,
         CASE WHEN p.fp IS NOT NULL AND c.fp IS NOT NULL AND p.fp <> c.fp
              THEN 1 ELSE 0 END AS ch,
         CASE WHEN p.fp IS NOT NULL AND p.fp = c.fp THEN 1 ELSE 0 END AS s
  FROM prev p FULL OUTER JOIN cur c USING (doc_id)
),
agg AS (
  SELECT source,
         CAST(sum(a) AS BIGINT) AS n_added,
         CAST(sum(r) AS BIGINT) AS n_removed,
         CAST(sum(ch) AS BIGINT) AS n_changed,
         CAST(sum(s) AS BIGINT) AS n_unchanged
  FROM j GROUP BY source
)
SELECT source, n_added, n_removed, n_changed, n_unchanged,
       CASE WHEN n_removed + n_changed + n_unchanged = 0
            THEN CASE WHEN n_added + n_removed + n_changed > 0
                      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            ELSE CAST(n_added + n_removed + n_changed AS DOUBLE)
                 / (n_removed + n_changed + n_unchanged)
       END AS churn,
       CASE WHEN n_removed + n_changed + n_unchanged = 0
            THEN n_added + n_removed + n_changed > 0
            ELSE (n_added + n_removed + n_changed) * 1000
                 > 200 * (n_removed + n_changed + n_unchanged)
       END AS churned
FROM agg
""",
)
def audit_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two simulated corpus generations: the
    previous generation drops doc_id % 19 == 0 (those play "added"),
    the current drops doc_id % 23 == 0 ("removed") and revises the
    text of doc_id % 7 == 0 ("changed"); operators/audit.py
    corpus_delta classifies every id from md5 fingerprints in one
    full-outer join and reports per-source counts + churn at a 20%
    alarm threshold. Fingerprints are map-side, the join shuffles
    narrow scalars only, output is source-sized. Planted edge cases
    (empty previous generation, all-changed) in tests/test_audit.py.
    """
    from palegislature_spark.operators import audit

    docs = load(spark, sf_dir, "documents")
    prev = docs.filter(F.col("doc_id") % 19 != 0)
    cur = docs.filter(F.col("doc_id") % 23 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return audit.corpus_delta(
        prev, cur, "doc_id", F.md5(F.col("text").cast("binary")), "source",
        threshold_milli=200,
    )


_HYBRID_FINAL = """, tl AS (
  SELECT doc_id, {comps} AS score FROM d CROSS JOIN s WHERE {any_hit} > 0
),
tr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
  FROM tl QUALIFY r <= 20
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
vp AS (
  SELECT b.vec_id AS doc_id,
         list_cosine_similarity(q.qv, CAST(b.embedding AS DOUBLE[])) AS cos
  FROM embeddings b CROSS JOIN q WHERE b.vec_id <> 7
),
vr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS r
  FROM vp QUALIFY r <= 20
),
f AS (
  SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
         tr.r AS text_rank, vr.r AS vec_rank,
         coalesce(1.0e0 / (60 + tr.r), 0.0e0)
         + coalesce(1.0e0 / (60 + vr.r), 0.0e0) AS rrf_score
  FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
)
SELECT doc_id, text_rank, vec_rank, rrf_score
FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10"""


@register(
    "ann_hybrid_rrf",
    covers="similarity-search extension: HYBRID retrieval — the lexical "
    "leg (index-served BM25 top-20, operators/index.py) and the vector "
    "leg (exact cosine top-20 for one query embedding) fused by "
    "reciprocal rank (1/(60+rank), Cormack et al. 2009). Both legs are "
    "served shortlists, so fusion is k-row outer joins; the fixed "
    "leg-order sum with a 0.0 identity makes the fused score an exact "
    "SQL replay (reference analogue: SURVEY §2 S5/A6 single-signal "
    "lookup/top-k, which a retrieval user outgrows the moment two "
    "signals exist)",
    oracle=_bm25_oracle(final=_HYBRID_FINAL),
)
def ann_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + cosine top-10 with per-leg rank provenance.

    Plan shape: the BM25 leg touches only the queried tokens' posting
    segments (posting-bounded, never corpus-sized); the vector leg is
    one broadcast-query corpus pass; fusion joins two 20-row frames.
    The single-partition rank windows are over those 20-row
    shortlists — bounded by construction, same argument as the 1-row
    scalar-attach allowlist. At 100 TB both legs keep their own scale
    story (sharded postings / IVF probe) and fusion cost stays O(k).
    """
    from palegislature_spark.operators.fusion import rank_from_scores, rrf_fuse
    from palegislature_spark.operators.index import (
        bm25_search_topk as _search,
        build_inverted_index,
    )
    from palegislature_spark.operators.similarity import brute_force_topk

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    idx = build_inverted_index(docs, "doc_id", "text", n_shards=4)
    text_leg = rank_from_scores(
        _search(idx, _BM25_TERMS, k=20), "doc_id", "score", k=20
    )
    vec_leg = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 7), k=20
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(
        [("text", text_leg), ("vec", vec_leg)], id_col="doc_id", topk=10
    )


@register(
    "audit_profile_columns",
    covers="data-quality extension: one-pass table profiler — per-column "
    "null count, exact distinct count, bytewise min/max PLUS typed "
    "numeric min/max (doubles, non-NULL exactly for schema-numeric "
    "columns — ADVICE r10: the stringified bounds are byte-order "
    "only, '5' > '40') over a row-local melt + single grouped "
    "aggregate (the report every ingest runs first; reference "
    "analogue: the ad-hoc per-column sanity SELECTs around crawl.py's "
    "staging loads, done as ONE corpus pass instead of one scan per "
    "column)",
    oracle="""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
         source, n_chars, text
  FROM documents
),
m AS (
  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val,
         CAST(doc_id AS DOUBLE) AS num FROM src
  UNION ALL SELECT 'lang', lang, NULL FROM src
  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR),
                   CAST(n_chars AS DOUBLE) FROM src
  UNION ALL SELECT 'source', source, NULL FROM src
  UNION ALL SELECT 'text', text, NULL FROM src
)
SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(val) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
       min(val) AS min_val, max(val) AS max_val,
       min(num) AS num_min, max(num) AS num_max
FROM m GROUP BY col_name
""",
)
def audit_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile all five documents columns in one pass; lang is
    NULLed on doc_id % 13 == 0 (both engines) so the null-rate leg is
    exercised, not just trivially zero. Integer casts render
    identically on both engines; string min/max are bytewise on both
    (DuckDB binary collation, Spark UTF8 byte compare) — BYTE order,
    not numeric order, which is why the numeric columns additionally
    carry num_min/num_max doubles (non-NULL exactly for doc_id and
    n_chars, the two schema-numeric columns; NULL for the three
    string columns on both engines)."""
    from palegislature_spark.operators.audit import profile_columns

    docs = load(spark, sf_dir, "documents").withColumn(
        "lang",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(F.col("lang")),
    )
    return profile_columns(
        docs, ["doc_id", "lang", "n_chars", "source", "text"]
    )


@register(
    "audit_profile_wide",
    covers="data-quality extension: the profiler's WIDE-SCHEMA tier "
    "(VERDICT r10 'what's wrong' #2 / ADVICE r10) — no melt: ONE "
    "aggregate row of per-column aggregates over the unexploded scan, "
    "stacked to |cols| rows only after aggregation, so a 300-column "
    "production schema pays one corpus pass instead of a x|cols| row "
    "explode; the distinct count is HLL++ sketch state (the 100 TB "
    "tier) and is excluded from the projection because sketch "
    "estimates are engine-specific — every remaining column "
    "(null counts, bytewise and typed numeric bounds) hash-checks "
    "against the same melt-shaped SQL, which is the tier-equivalence "
    "claim itself",
    oracle="""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
         source, n_chars, text
  FROM documents
),
m AS (
  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val,
         CAST(doc_id AS DOUBLE) AS num FROM src
  UNION ALL SELECT 'lang', lang, NULL FROM src
  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR),
                   CAST(n_chars AS DOUBLE) FROM src
  UNION ALL SELECT 'source', source, NULL FROM src
  UNION ALL SELECT 'text', text, NULL FROM src
)
SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(val) AS BIGINT) AS n_nulls,
       min(val) AS min_val, max(val) AS max_val,
       min(num) AS num_min, max(num) AS num_max
FROM m GROUP BY col_name
""",
)
def audit_profile_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audit_profile_columns' report from the wide tier: same five
    documents columns, same lang-NULL twist, but layout='wide' (one
    unexploded corpus pass, per-column aggregate expressions, 1-row
    stack) with distinct='approx' (the pairing the operator enforces —
    exact count(DISTINCT) per column would re-plan the Expand the tier
    avoids).  n_distinct is dropped from the projection: HLL++
    estimates don't replay across engines; everything else must equal
    the melt tier's answer bit-for-bit, and the oracle says so by
    being the SAME melt-shaped SQL minus the distinct column."""
    from palegislature_spark.operators.audit import profile_columns

    docs = load(spark, sf_dir, "documents").withColumn(
        "lang",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(F.col("lang")),
    )
    return profile_columns(
        docs, ["doc_id", "lang", "n_chars", "source", "text"],
        distinct="approx", layout="wide",
    ).drop("n_distinct")


@register(
    "audit_delta_severity",
    covers="data-quality extension: changed-doc severity — the step after "
    "audit_corpus_delta's what-changed counts: every doc present in "
    "both generations with different text is classified minor-edit vs "
    "rewrite by word-3gram Jaccard, computed ROW-LOCALLY after one "
    "narrow id join (no shingle-grain shuffle; integer-milli severity "
    "cut, exact long/long jaccard division)",
    oracle="""
WITH prevg AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 19 != 0
),
curg AS (
  SELECT doc_id,
         CASE WHEN doc_id % 14 = 0 THEN reverse(text)
              WHEN doc_id % 7 = 0 THEN text || ' rev2'
              ELSE text END AS text
  FROM documents WHERE doc_id % 23 != 0
),
chg AS (
  SELECT p.doc_id, p.text AS pt, c.text AS ct
  FROM prevg p JOIN curg c USING (doc_id)
  WHERE p.text <> c.text
),
ptk AS (SELECT doc_id, string_split(pt, ' ') AS tk FROM chg),
ctk AS (SELECT doc_id, string_split(ct, ' ') AS tk FROM chg),
psh AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM ptk)
),
csh AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM ctk)
),
np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_prev FROM psh GROUP BY doc_id),
nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cur FROM csh GROUP BY doc_id),
nx AS (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_common
  FROM psh p JOIN csh c ON p.doc_id = c.doc_id AND p.g = c.g
  GROUP BY p.doc_id
)
SELECT np.doc_id, np.n_prev, nc.n_cur,
       coalesce(nx.n_common, 0) AS n_common,
       CAST(coalesce(nx.n_common, 0) AS DOUBLE)
       / CAST(np.n_prev + nc.n_cur - coalesce(nx.n_common, 0) AS DOUBLE)
         AS jaccard,
       CASE WHEN coalesce(nx.n_common, 0) * 1000
                 >= 600 * (np.n_prev + nc.n_cur - coalesce(nx.n_common, 0))
            THEN 'minor' ELSE 'rewrite' END AS severity
FROM np JOIN nc USING (doc_id) LEFT JOIN nx USING (doc_id)
""",
)
def audit_delta_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Severity of the changed docs from the audit_corpus_delta
    simulation, with a stronger second edit class: doc_id % 14 == 0
    gets its text REVERSED (every gram changes -> 'rewrite'), the
    remaining doc_id % 7 == 0 get the ' rev2' suffix (one new gram ->
    'minor'), so both severity classes are exercised at every sf.

    ASCII assumption (ADVICE r10): the reverse() edit relies on Spark
    F.reverse and DuckDB reverse() agreeing, which holds for ASCII
    (one char = one code point = one grapheme) but can diverge on
    multibyte text where DuckDB reverses grapheme clusters — the
    documents fixture is pure ASCII (verified: every row matches
    ^[ -~]*$), so the edit simulation is engine-exact here; a
    non-ASCII corpus would need a token-rotation scramble instead.
    NULL text on either side never classifies as changed (both
    engines' non-null-safe <>) — documented on delta_severity."""
    from palegislature_spark.operators.audit import delta_severity

    docs = load(spark, sf_dir, "documents")
    prev = docs.filter(F.col("doc_id") % 19 != 0)
    cur = docs.filter(F.col("doc_id") % 23 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 14 == 0, F.reverse(F.col("text")))
        .when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" rev2")))
        .otherwise(F.col("text")),
    )
    return delta_severity(prev, cur, "doc_id", "text", n=3, minor_milli=600)
