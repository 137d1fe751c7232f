"""Distributed BPE merge training — the tokenizer-training precursor.

Byte-pair-encoding merges (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") learned over the corpus
vocabulary: repeatedly count adjacent symbol pairs (weighted by word
frequency) and merge the most frequent one, left-to-right
non-overlapping.

Spark-first shape: the state is the VOCABULARY (distinct words with
counts, dimension-sized no matter how many documents), so each
iteration is a small groupBy over exploded adjacent pairs plus a
one-row argmax collect — the same driver-loop discipline as the Lloyd
refinement and the ER fixpoint (a scalar decision per round, never a
data-sized collect). The merge itself is applied as a JVM-side
``aggregate`` fold over each word's symbol array (no UDF), and the
evolving vocabulary is localCheckpoint()ed per round to keep lineage
flat. At 100 TB only the initial vocabulary build touches the corpus
(one explode + one shuffle on token); every round after that runs on
the vocab table.

The merge application is left-to-right non-overlapping (a fold), the
published BPE semantics: [l,l,l] under (l,l) becomes [ll,l], and
[a,b,a,b] under (a,b) becomes [ab,ab].

Production note: a real tokenizer wants 30k-50k merges, and one Spark
round per merge would mean 50k tiny jobs. ``merge_batch`` implements
the batched form: each round applies the maximal rank-order prefix of
mutually symbol-disjoint top pairs, with a count bound that makes the
result PROVABLY identical to one-at-a-time training (see
_batch_prefix) — rounds shrink ~merge_batch-fold while each stays the
same two jobs. The registry oracle query keeps merge_batch=1 so the
SQL replay stays one merge per unrolled round; tests assert batched ==
sequential, including tie-heavy Hypothesis draws.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from palegislature_spark.operators.kernels import TaskMemo, map_batches

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("step", T.LongType()),
        T.StructField("left_sym", T.StringType()),
        T.StructField("right_sym", T.StringType()),
        T.StructField("merged", T.StringType()),
        T.StructField("pair_count", T.LongType()),
    ]
)

def _pairs():
    # adjacent (symbol, next-symbol) pairs; sequence() reverses when
    # start > stop, so single-symbol words need the explicit empty guard
    return F.when(
        F.size("syms") >= 2,
        F.expr(
            "transform(sequence(1, size(syms) - 1),"
            " i -> struct(syms[i-1] AS a, syms[i] AS b))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<a:string,b:string>>"))


# --- boundary-wrapped string representation of a symbol sequence ----
#
# The DuckDB oracle replays every merge as a string replace over
# \x01<sym>\x02-wrapped symbols (queries/text.py _bpe_oracle) — and its
# hash-equality against the Spark fold is the standing proof the two
# constructions agree.  r12 adopts the SAME construction on the Spark
# side (guide §4.1, prefer built-ins): one native string `replace` per
# merge instead of an interpreted per-element `aggregate` fold that
# copies the symbol array once per element.  Words that themselves
# contain \x01/\x02 cannot use the wrapped form (the delimiter would
# collide); training excludes them outright (`vocabulary`), and
# `apply_bpe` routes them through the fold twin, so observable results
# are bit-identical everywhere.

_SYM_PAT = "\x01([^\x01]*)\x02"


def _wrap(col):
    """'abc' -> '\\x01a\\x02\\x01b\\x02\\x01c\\x02' (one code point per
    symbol — the oracle's chr(1)||c||chr(2) wrap, as one native
    regexp_replace)."""
    return F.regexp_replace(col, "(?s)(.)", "\x01$1\x02")


def _replace_merge(scol, a: str, b: str):
    """Apply merge (a,b) -> ab on the wrapped form: Java's replace is
    left-to-right non-overlapping, exactly the published BPE fold
    semantics (and exactly DuckDB's replace — the oracle equivalence)."""
    return F.replace(
        scol,
        F.lit(f"\x01{a}\x02\x01{b}\x02"),
        F.lit(f"\x01{a + b}\x02"),
    )


def _unwrap_toks(scol):
    """Wrapped form back to the symbol array."""
    return F.regexp_extract_all(scol, F.lit(_SYM_PAT), 1)


def vocabulary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, cnt): distinct whitespace tokens with corpus frequencies.

    Words containing \\x01/\\x02 are excluded — the DuckDB oracle twin
    wraps symbols in those control chars to make its string-replace
    merge boundary-exact, and the Spark side must filter identically.
    """
    return (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .filter(
            (F.col("w") != "")
            & ~F.col("w").contains("\x01")
            & ~F.col("w").contains("\x02")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _batch_prefix(ranked: list, batch: int) -> list[tuple]:
    """Maximal rank-order prefix of mutually symbol-disjoint pairs that
    is PROVABLY the sequence strict one-at-a-time BPE would pick.

    Disjointness makes the merges commute and keeps every later prefix
    pair's count exact (a merge only perturbs counts of pairs sharing
    one of its symbols). A merge (a,b)→ab can create new pairs
    (x,ab)/(ab,y), but their counts are bounded by the old (x,a)/(b,y)
    counts — pairs that INTERACT with (a,b), which by disjointness are
    never in the prefix, so they rank at or below the first non-chosen
    pair. Truncating the prefix to counts STRICTLY ABOVE that first
    non-chosen pair's count (the tie guard — at equal counts the
    lexicographic tie-break could prefer a freshly created symbol
    name, and the interacting pair bounding it may sit below the fetch
    horizon) leaves each prefix element the global argmax at its turn.
    Falls back to the top-1 pair when the guard empties the prefix
    (top-1 is the argmax by rank order regardless).
    """
    chosen: list[tuple] = []
    used: set[str] = set()
    for r in ranked:
        a, b, n = r["a"], r["b"], r["n"]
        if a in used or b in used:
            break
        chosen.append((a, b, n))
        used.update((a, b))
        if len(chosen) >= batch:
            break
    if len(chosen) < len(ranked):
        # first non-chosen ranked pair bounds every pair outside the
        # prefix — including ones a prefix merge could newly create
        bound = ranked[len(chosen)]["n"]
        strict = [c for c in chosen if c[2] > bound]
        chosen = strict or chosen[:1]
    return chosen


def bpe_merge_table(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
    merge_batch: int = 1,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (step, left_sym, right_sym, merged, pair_count) — the model
    artifact a tokenizer trainer exports. Ties break on
    (count desc, left, right) so the result is deterministic and
    SQL-replayable.

    ``merge_batch`` > 1 is the production-scale path (a 50k-merge vocab
    cannot afford one Spark round per merge): each round applies up to
    ``merge_batch`` mutually symbol-disjoint top pairs, chosen so the
    result is IDENTICAL to merge_batch=1 (see _batch_prefix; equality
    asserted in tests, including the Hypothesis tie cases). Rounds
    shrink ~merge_batch-fold while each stays two jobs.
    """
    spark = docs.sparkSession
    # training vocabulary excludes \x01/\x02 words (`vocabulary`), so
    # every word round-trips the oracle's boundary-wrapped string form:
    # each round's merge is ONE native string replace instead of an
    # interpreted per-symbol aggregate fold (r12; see the wrap helpers)
    words = (
        vocabulary(docs, text_col)
        .withColumn("s", _wrap(F.col("w")))
        .localCheckpoint()
    )
    merges: list[tuple] = []
    while len(merges) < n_merges:
        want = n_merges - len(merges)
        batch = min(merge_batch, want)
        ranked = (
            words.select("cnt", _unwrap_toks(F.col("s")).alias("syms"))
            .select("cnt", F.explode(_pairs()).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            # margin: conflicting pairs consumed while scanning for the
            # disjoint prefix + one row to detect the stop condition
            .limit(4 * batch + 1)
            .collect()
        )
        if not ranked:
            break
        chosen = _batch_prefix(ranked, batch)
        scol = F.col("s")
        for a, b, n in chosen:
            merges.append((len(merges) + 1, a, b, a + b, n))
            scol = _replace_merge(scol, a, b)
        words = words.withColumn("s", scol).localCheckpoint()
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def apply_bpe(
    docs: DataFrame,
    merge_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize with a learned merge table: per document,
    (id, tokens array) after replaying every merge in step order.

    The merge table is model-sized — collected once.  Encoding is one
    shuffle-free Arrow-kernel pass with a bounded per-task word ->
    tokens memo (``kernels.TaskMemo``; guide §4.5 heavyweight-init; a
    corpus repeats its vocabulary, so each DISTINCT word in a task is
    encoded once, up to the memo cap).  A word is encoded by the
    boundary-wrapped replace chain the DuckDB oracle runs —
    Python ``str.replace`` is left-to-right non-overlapping exactly
    like Java's/DuckDB's — and words containing the \\x01/\\x02
    delimiters take the per-symbol left fold instead.  The token
    stream never shuffles: the input rows already carry each
    document's word order.  The expression twin, ``apply_bpe_expr`` in
    tests/reference_impls.py, pins bit-equality (tests/test_bpe.py)."""
    import re

    rules = [
        (r["left_sym"], r["right_sym"])
        for r in merge_table.orderBy("step").collect()
    ]
    out_schema = T.StructType(
        [
            docs.schema[id_col],
            T.StructField("tokens", T.ArrayType(T.StringType())),
        ]
    )
    sym_pat = re.compile(_SYM_PAT)

    def encode_word(w: str) -> list:
        if "\x01" in w or "\x02" in w:
            # delimiter collision: per-rule left fold over the symbol
            # array
            syms = list(w)
            for a, b in rules:
                merged = a + b
                out: list = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = merged
                    else:
                        out.append(s)
                syms = out
            return syms
        s = "".join(f"\x01{c}\x02" for c in w)
        for a, b in rules:
            s = s.replace(f"\x01{a}\x02\x01{b}\x02", f"\x01{a + b}\x02")
        return sym_pat.findall(s)

    def batch(pdf, memo):
        toks_col = []
        for text in pdf[text_col]:
            toks: list = []
            if isinstance(text, str):
                for w in text.split(" "):
                    if w:
                        toks.extend(memo.get(w, encode_word))
            toks_col.append(toks)
        return {id_col: pdf[id_col], "tokens": toks_col}

    return map_batches(
        docs, (id_col, text_col), out_schema, batch, setup=TaskMemo,
        fan_out_by=id_col,
    )

