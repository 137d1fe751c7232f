"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the
same parquet, then compares row count, column names, and values
(order-insensitive; EXACT for every type, floats included — the
driver's gate hashes raw values with no rounding tolerance, so any
last-place float drift that would pass a tolerant compare still fails
the driver.  Queries must therefore round/cast identically on both
engines; this gate exists to catch the ones that don't before the
driver does).

Usage: python tools/verify_local.py [--sampled] [--subproc] [sf_dir] [query ...]

``--sampled`` (replica-scale runs): the queries in ``SAMPLED`` have
full oracles that cannot finish at replica scale — corpus-QUADRATIC
(embedding_near_dup / cluster_semantic_dedup: all-pairs or
within-cluster cosine), corpus-sized pairwise or span stages (the
dedup/decontam/span families), or a corpus-sized ordered-list
reassembly that overflows DuckDB's memory budget (bpe_encode_corpus
at 500k docs).  With the flag, each gets a BOUNDED oracle instead: a
deterministic 1-in-stride entity subset is recomputed against the
WHOLE corpus in SQL — so both presence of reported rows and absence
of unreported ones (recall) are checked on that slice.  Cost:
O(|subset| * n), not O(n^2) / O(corpus) peak memory.  At sf0.01
every stride degenerates to 1 and the sampled oracle reproduces the
full gate bit-for-bit.
"""

from __future__ import annotations

import math
import pathlib
import sys
import time

# this checkout's root, wherever the script is run from
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def normalize(rows: list[tuple], cols: list[str]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(row[i] for i in order))
    return sorted(cols), sorted(out, key=lambda r: tuple(str(x) for x in r))


def dtype_kind_mismatch(sdf, pdf) -> list[str]:
    """Driver-lens dtype probe: the driver materializes the DuckDB oracle
    through pandas, where HUGEINT (any integer ``sum()``) exports as
    float64 while Spark emits int64 — numerically equal values that
    hash differently (``2978`` vs ``2978.0``).  ``fetchall()`` hides
    this (HUGEINT -> Python int), which is how ``status_conditional_agg``
    stayed locally green through three red driver rounds.  Compare the
    pandas dtype *kind* per column against the Spark schema; flag any
    int-vs-float disagreement on a null-free column (nullable int
    columns legitimately export as float64, so nulls are excused).
    """
    spark_kind = {}
    for f in sdf.schema.fields:
        t = f.dataType.typeName()
        if t in ("byte", "short", "integer", "long"):
            spark_kind[f.name] = "i"
        elif t in ("float", "double"):
            spark_kind[f.name] = "f"
    bad = []
    for col in pdf.columns:
        sk = spark_kind.get(col)
        dk = pdf[col].dtype.kind
        if sk is None or dk not in "iuf":
            continue
        if (sk == "i") != (dk in "iu") and not pdf[col].isna().any():
            bad.append(f"{col}: spark={'int' if sk == 'i' else 'float'} duckdb-pandas={pdf[col].dtype}")
    return bad


def values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb  # exact: the driver hashes with no tolerance
    return a == b


def _doc_stride(con) -> int:
    n = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    return max(1, n // 300)


def _vec_stride(con) -> int:
    n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    return max(1, n // 300)


def _jaccard_sampled(con, stride: int, extra_where: str = ""):
    """Bounded oracle for the exact-Jaccard pair family
    (dedup_minhash_lsh / dedup_ngram_jaccard): every >=0.8 pair
    touching the 1-in-stride doc subset, with each sampled doc's
    shingle set joined against the WHOLE corpus inverted list —
    O(subset-shingles x collision density), not all-pairs.  The
    direction guard (a < b OR b unsampled) keeps both-sampled pairs
    from double-counting their shared-shingle tally.  ``extra_where``
    lets variants narrow the pair set further (the incremental
    query's batch-touching predicate)."""
    sql = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
pos AS (
  SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
  FROM pos
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
ssh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {stride} = 0),
common AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS id_1,
         GREATEST(a.doc_id, b.doc_id) AS id_2,
         count(*) AS c
  FROM ssh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id OR b.doc_id % {stride} <> 0
  GROUP BY 1, 2
)
SELECT id_1, id_2,
       c * 1.0 / (c1.n + c2.n - c) AS jaccard
FROM common
JOIN cnt c1 ON c1.doc_id = id_1
JOIN cnt c2 ON c2.doc_id = id_2
WHERE c * 1.0 / (c1.n + c2.n - c) >= 0.8{extra_where}
"""

    def keep(row_dict):
        return row_dict["id_1"] % stride == 0 or row_dict["id_2"] % stride == 0

    return sql, keep


def _funnel_sampled(con, stride: int):
    """Bounded oracle for the composed curation funnel: quality gate,
    exact-dup rank and the survivor table are LINEAR corpus passes and
    stay global (they are not the cost center); only the all-pairs
    shingle self-join is confined — sampled survivors' shingles probe
    the full inverted list, which is exactly the pair set deciding a
    sampled doc's near_dup status (the funnel suppresses id_2, the
    larger id, so pairs with id_2 = sampled are sufficient).  Output
    is the full status row for every 1-in-stride document — presence
    AND absence of each suppression reason on the slice."""
    sql = f"""
WITH q0 AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
q AS (
  SELECT doc_id, text,
         len(tk) AS n_words,
         len(list_filter(tk, w -> w IN ('the', 'a', 'of', 'and'))) * 1.0 / len(tk) AS stop_ratio,
         len(list_distinct(tk)) * 1.0 / len(tk) AS distinct_ratio
  FROM q0
),
gated AS (
  SELECT *, COALESCE(n_words >= 12 AND stop_ratio <= 0.21 AND distinct_ratio >= 0.35, FALSE) AS q_ok
  FROM q
),
exdup AS (
  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM gated WHERE q_ok
),
surv AS (
  SELECT g.doc_id, g.text FROM gated g JOIN exdup e USING (doc_id) WHERE e.rn = 1
),
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM surv),
pos AS (
  SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
  FROM pos
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
ssh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {stride} = 0),
common AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS c
  FROM sh a JOIN ssh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
nd AS (
  SELECT DISTINCT id_2 AS doc_id
  FROM common
  JOIN cnt c1 ON c1.doc_id = id_1
  JOIN cnt c2 ON c2.doc_id = id_2
  WHERE c * 1.0 / (c1.n + c2.n - c) >= 0.8
)
SELECT g.doc_id,
       CASE WHEN NOT g.q_ok THEN 'low_quality'
            WHEN e.rn > 1 THEN 'exact_dup'
            WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS status,
       CAST(g.n_words AS BIGINT) AS n_words
FROM gated g
LEFT JOIN exdup e USING (doc_id)
LEFT JOIN nd USING (doc_id)
WHERE g.doc_id % {stride} = 0
"""

    def keep(row_dict):
        return row_dict["doc_id"] % stride == 0

    return sql, keep


def _incremental_sampled(con, stride: int):
    """dedup_minhash_incremental's oracle is the batch-touching subset
    of the exact-Jaccard pair set (batch = doc_id % 5 = 0), so its
    bounded form is the sampled Jaccard oracle with that predicate
    appended; the Spark side still runs the full incremental
    index-probe at corpus scale."""
    return _jaccard_sampled(
        con, stride, extra_where="\n  AND (id_1 % 5 = 0 OR id_2 % 5 = 0)"
    )


def _simhash_sampled(con, stride: int):
    """Bounded oracle for banded_simhash_dedup: signatures for the whole
    corpus (linear), Hamming scan restricted to pairs touching the
    1-in-stride subset — O(subset x n) popcounts."""
    sql = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
toks AS (
  SELECT doc_id, token, count(*) AS cnt, md5(token) AS hex
  FROM words GROUP BY doc_id, token
),
votes AS (
  SELECT doc_id, bit_idx,
         sum(cnt * (2 * (((strpos('0123456789abcdef', substr(hex, (bit_idx // 4) + 1, 1)) - 1)
                          >> (bit_idx % 4)) & 1) - 1)) AS s
  FROM toks, (SELECT unnest(generate_series(0, 59)) AS bit_idx)
  GROUP BY doc_id, bit_idx
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit_idx) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
),
sub AS (SELECT * FROM sig WHERE doc_id % {stride} = 0)
SELECT LEAST(a.doc_id, b.doc_id) AS id_1,
       GREATEST(a.doc_id, b.doc_id) AS id_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sub a JOIN sig b
  ON a.doc_id <> b.doc_id
 AND (a.doc_id < b.doc_id OR b.doc_id % {stride} <> 0)
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""

    def keep(row_dict):
        return row_dict["id_1"] % stride == 0 or row_dict["id_2"] % stride == 0

    return sql, keep


def _decontam_sampled(con, stride: int):
    """Bounded oracle for decontam_testset: the eval 5-gram set is
    built from EVERY eval doc (exactly as the full oracle), the train
    side — tokenize, gram, overlap-count — restricted to the
    1-in-stride subset."""
    from palegislature_spark.operators.sampling import (
        cumulative_hex_boundaries,
    )

    b_val = dict(
        cumulative_hex_boundaries({"train": 0.9, "val": 0.05, "test": 0.05})
    )["val"]
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(5))
    sql = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15) >= '{b_val}'
           AS is_eval
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, is_eval, {gram} AS gram
  FROM (SELECT doc_id, is_eval, tk, unnest(generate_series(1, len(tk) - 4)) AS i
        FROM toks
        WHERE is_eval OR doc_id % {stride} = 0)
),
evalg AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
alltrain AS (SELECT doc_id FROM toks WHERE NOT is_eval AND doc_id % {stride} = 0),
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

    def keep(row_dict):
        return row_dict["doc_id"] % stride == 0

    return sql, keep


def _coverage_sampled(con, stride: int):
    """Bounded oracle for coverage_dup_spans: the duplicated-gram test
    stays GLOBAL (a sampled doc's span is duplicated if the 8-gram
    occurs in >=2 docs anywhere in the corpus), but the dup tally is
    confined to grams the sampled docs actually contain, and the
    interval-union windows run only over sampled docs."""
    k = 8
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(k))
    sql = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
spans AS (
  SELECT doc_id, i AS s, i + {k - 1} AS e, {gram} AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {k - 1})) AS i
        FROM toks)
),
subg AS (SELECT DISTINCT gram FROM spans WHERE doc_id % {stride} = 0),
dup AS (
  SELECT gram FROM (
    SELECT sp.gram, count(DISTINCT sp.doc_id) AS nd
    FROM spans sp JOIN subg USING (gram)
    GROUP BY sp.gram
  ) WHERE nd >= 2
),
ds AS (
  SELECT doc_id, s, e FROM spans JOIN dup USING (gram)
  WHERE doc_id % {stride} = 0
),
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
nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
       WHERE doc_id % {stride} = 0)
SELECT nt.doc_id, nt.n_tokens,
       coalesce(cov.covered_tokens, 0) AS covered_tokens,
       coalesce(cov.covered_tokens, 0) * 1.0 / nt.n_tokens AS coverage
FROM nt LEFT JOIN cov ON nt.doc_id = cov.doc_id
"""

    def keep(row_dict):
        return row_dict["doc_id"] % stride == 0

    return sql, keep


def _rewrite_sampled(con, stride: int):
    """Bounded oracle for cleanup_span_rewrite: the rewrite of the
    1-in-stride docs, with the cross-doc-dup test and the canonical
    (globally first occurrence) election kept GLOBAL — both computed
    only over grams the sampled docs contain (struct argmin replaces
    the full oracle's per-gram window; identical (doc, start) order)."""
    k = 8
    gram = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(k))
    sql = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
pos AS (
  SELECT doc_id, i AS pos, tk[i] AS w
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM toks
        WHERE doc_id % {stride} = 0)
),
spans AS (
  SELECT doc_id, i AS s, i + {k - 1} AS e, {gram} AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {k - 1})) AS i
        FROM toks)
),
subg AS (SELECT DISTINCT gram FROM spans WHERE doc_id % {stride} = 0),
gstats AS (
  SELECT sp.gram, count(DISTINCT sp.doc_id) AS nd,
         min(struct_pack(i := sp.doc_id, s := sp.s)) AS c
  FROM spans sp JOIN subg USING (gram)
  GROUP BY sp.gram
),
rem AS (
  SELECT sp.doc_id, sp.s, sp.e
  FROM spans sp JOIN gstats g USING (gram)
  WHERE sp.doc_id % {stride} = 0 AND g.nd >= 2
    AND NOT (sp.doc_id = g.c.i AND sp.s = g.c.s)
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
nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
       WHERE doc_id % {stride} = 0)
SELECT nt.doc_id, nt.n_tokens,
       nt.n_tokens - coalesce(reb.n_kept, 0) AS n_removed,
       coalesce(reb.text_clean, '') AS text_clean
FROM nt LEFT JOIN reb ON nt.doc_id = reb.doc_id
"""

    def keep(row_dict):
        return row_dict["doc_id"] % stride == 0

    return sql, keep


def _bpe_encode_sampled(con, stride: int):
    """Bounded oracle for bpe_encode_corpus: the merge table is still
    TRAINED on the whole corpus (the word-frequency scan streams and
    the fold chain is vocabulary-sized, so both survive any replica),
    but the corpus-sized encode replay — per-token-position dictionary
    join + per-doc ordered ``list()`` reassembly — is confined to the
    1-in-stride doc subset.  The full oracle's reassembly overflows
    DuckDB's 24GiB budget at the 100x replica's 500k docs; this bounds
    it to O(subset tokens).  The rewrite is two anchored substitutions
    on the registered oracle itself (asserted present), so the sampled
    SQL can never drift from the full oracle's training semantics."""
    from palegislature_spark.queries.corpus import _bpe_encode_oracle

    sql = _bpe_encode_oracle(8)
    dtoks_full = (
        "dtoks AS (SELECT doc_id, string_split(text, ' ') AS tk"
        " FROM documents)"
    )
    dtoks_sub = (
        "dtoks AS (SELECT doc_id, string_split(text, ' ') AS tk"
        f" FROM documents WHERE doc_id % {stride} = 0)"
    )
    assert dtoks_full in sql, "bpe oracle dtoks CTE changed shape"
    sql = sql.replace(dtoks_full, dtoks_sub)
    tail_full = "FROM documents d LEFT JOIN enc"
    tail_sub = (
        f"FROM (SELECT * FROM documents WHERE doc_id % {stride} = 0) d"
        " LEFT JOIN enc"
    )
    assert tail_full in sql, "bpe oracle final join changed shape"
    sql = sql.replace(tail_full, tail_sub)

    def keep(row_dict):
        return row_dict["doc_id"] % stride == 0

    return sql, keep


def _near_dup_sampled(con, stride: int):
    """Bounded oracle for embedding_near_dup: every pair touching the
    1-in-stride vector subset, recomputed per-row against the whole
    corpus. Returns (sql, spark_row_filter)."""
    sql = f"""
WITH sub AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id % {stride} = 0),
all_v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
hits AS (
  SELECT LEAST(s.vec_id, a.vec_id) AS id_1,
         GREATEST(s.vec_id, a.vec_id) AS id_2,
         round(list_cosine_similarity(s.v, a.v), 4) AS cosine
  FROM sub s JOIN all_v a ON s.vec_id <> a.vec_id
  WHERE list_cosine_similarity(s.v, a.v) >= 0.45
)
SELECT DISTINCT id_1, id_2, cosine FROM hits
"""

    def keep(row_dict):
        return row_dict["id_1"] % stride == 0 or row_dict["id_2"] % stride == 0

    return sql, keep


def _semantic_sampled(con, stride: int):
    """Bounded oracle for cluster_semantic_dedup: assignment AND
    dup-status recomputed for the 1-in-stride subset — each sampled
    vector scanned against its whole cluster (the quadratic part
    confined to |subset| * cluster_size)."""
    sql = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
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
sub AS (SELECT * FROM assignments WHERE vec_id % {stride} = 0)
SELECT s.vec_id,
       CAST(s.list_id AS BIGINT) AS list_id,
       CASE WHEN EXISTS (
              SELECT 1 FROM assignments b
              WHERE b.list_id = s.list_id AND b.vec_id < s.vec_id
                AND list_cosine_similarity(b.v, s.v) >= 0.4)
            THEN 'semantic_dup' ELSE 'kept' END AS status
FROM sub s
"""

    def keep(row_dict):
        return row_dict["vec_id"] % stride == 0

    return sql, keep


def _node_stride(con) -> int:
    n = con.execute("SELECT count(DISTINCT o_custkey) FROM orders").fetchone()[0]
    n += con.execute("SELECT count(DISTINCT l_suppkey) FROM lineitem").fetchone()[0]
    return max(1, n // 300)


def _pagerank_sampled(con, stride: int):
    """Bounded oracle for centrality_rank_suppliers: per-sampled-node
    rank vs a CONFINED replay of the order-pinned exact_replay fold.

    Confinement is exact for THIS graph because it is bipartite with
    edges only customer -> supplier, and that collapses the whole
    3-round replay to a closed form:

    - a customer never appears as a dst, so its contribution sum is
      NULL every round and its rank is EXACTLY the double
      ``(1.0e0 - 0.85e0)`` from round 1 on (bit-exact: the replay
      computes ``(1-d) + 0.85*coalesce(NULL->0.0)`` and ``x + 0.0 ==
      x`` for positive x in IEEE);
    - a supplier never appears as a src, so its round-3 rank depends
      only on its in-edges' customer ranks at round 2 — all exactly
      ``(1-d)`` — i.e. ``rank3(s) = (1-d) + d * fold(src-ordered,
      (1-d)/deg(src))``, the same src-string-ordered float fold the
      full replay's ``list_reduce(list(c ORDER BY src))`` performs.

    The earlier implementation spelled out the three r{i} rounds over
    varchar node keys; at the 100x replica DuckDB re-inlined the 60M-
    row DISTINCT per round and spilled past the disk. The closed form
    needs ONE materialized integer-keyed distinct + one fold over the
    sampled suppliers' in-edges, which is also why the math is easy to
    audit against the docstring's confinement argument."""
    sql = f"""WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (SELECT ck, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY ck),
samp_c AS (SELECT DISTINCT ck FROM edges WHERE ck % {stride} = 0),
samp_s AS (SELECT DISTINCT sk FROM edges WHERE sk % {stride} = 0),
sums AS (
  SELECT e.sk,
         CAST(list_reduce(
           list((1.0e0 - 0.85e0) / d.deg ORDER BY 'c' || CAST(e.ck AS VARCHAR)),
           (a, b) -> a + b) AS DOUBLE) AS f2
  FROM edges e JOIN samp_s s ON s.sk = e.sk JOIN deg d ON d.ck = e.ck
  GROUP BY e.sk
)
SELECT 'c' || CAST(ck AS VARCHAR) AS node, (1.0e0 - 0.85e0) AS rank
FROM samp_c
UNION ALL
SELECT 's' || CAST(s.sk AS VARCHAR),
       (1.0e0 - 0.85e0) + 0.85e0 * coalesce(m.f2, 0.0e0)
FROM samp_s s LEFT JOIN sums m ON m.sk = s.sk"""

    def keep(row_dict):
        return int(row_dict["node"][1:]) % stride == 0

    return sql, keep


def _ivfpq_bounded_sql(refine: bool) -> str:
    """Shared bounded replay for the IVFPQ chain (ann_ivfpq_topk /
    ann_ivfpq_refine): the registry oracle's FORMULATION — corpus-wide
    row_number windows carrying 64-double vectors, a corpus-wide PQ
    encode, CTEs re-evaluated per consumer — spills >90 GB at the
    100x replica; the ANSWER (a 100-row panel top-k) is tiny.  Same
    rewrite discipline as _recall_audit_bounded:

    * both IVF assignment windows -> hash-agg argmax over NARROW
      MATERIALIZED (vec_id, list_id, cos) tables;
    * the PQ encode argmin (pcodes r=1) -> the same argmax trick over
      narrow (vec_id, sub_id, code_id, d), and CONFINED to the
      candidate ids the ADC stage actually reads (the probed lists'
      members — exactly the confinement the Spark plan itself has);
    * query-side distance tables stay panel-sized; the ADC fold and
      every tie-break keep the registry oracle's exact shape
      (sub-id-ordered fold; first-min = smallest code_id; rank ties
      to the smaller neighbor_id)."""
    ivfpq = """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
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
assign AS MATERIALIZED (
  SELECT e.vec_id, c.list_id, list_cosine_similarity(e.v, c.cvec) AS cos
  FROM emb e CROSS JOIN centroids c
),
amax AS (SELECT vec_id, max(cos) AS mc FROM assign GROUP BY vec_id),
assignments AS (
  SELECT a.vec_id, min(a.list_id) AS list_id
  FROM assign a JOIN amax m ON m.vec_id = a.vec_id AND a.cos = m.mc
  GROUP BY a.vec_id
),
lists AS (
  SELECT s.list_id, list(e.v ORDER BY e.vec_id) AS vs,
         CAST(count(*) AS DOUBLE) AS n
  FROM assignments s JOIN emb e USING (vec_id) GROUP BY s.list_id
),
refined AS (
  SELECT list_id,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(range(1, len(a) + 1), i -> a[i] + b[i])),
           x -> x / n) AS cvec
  FROM lists
),
assign2 AS MATERIALIZED (
  SELECT e.vec_id, c.list_id, list_cosine_similarity(e.v, c.cvec) AS cos
  FROM emb e CROSS JOIN refined c
),
amax2 AS (SELECT vec_id, max(cos) AS mc FROM assign2 GROUP BY vec_id),
assignments2 AS (
  SELECT a.vec_id, min(a.list_id) AS list_id
  FROM assign2 a JOIN amax2 m ON m.vec_id = a.vec_id AND a.cos = m.mc
  GROUP BY a.vec_id
),
qprobe AS (
  SELECT e.vec_id AS query_id, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c WHERE e.vec_id < 20
),
probes AS (SELECT query_id, list_id FROM qprobe WHERE r <= 2),
cand AS MATERIALIZED (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assignments2 a USING (list_id)
  WHERE p.query_id <> a.vec_id
),
cand_ids AS (SELECT DISTINCT neighbor_id AS vec_id FROM cand),
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
  FROM emb e JOIN cand_ids ci ON ci.vec_id = e.vec_id CROSS JOIN subs s
),
scored AS MATERIALIZED (
  SELECT es.vec_id, es.sub_id, cb.code_id,
         list_reduce(
           list_transform(range(1, 17),
                          i -> (es.sv[i] - cb.cvec[i]) * (es.sv[i] - cb.cvec[i])),
           (a, b) -> a + b) AS d
  FROM esub es JOIN codebook cb USING (sub_id)
),
smin AS (SELECT vec_id, sub_id, min(d) AS md FROM scored GROUP BY vec_id, sub_id),
ncodes AS (
  SELECT s.vec_id, s.sub_id, min(s.code_id) AS code_id
  FROM scored s
  JOIN smin m ON m.vec_id = s.vec_id AND m.sub_id = s.sub_id AND s.d = m.md
  GROUP BY s.vec_id, s.sub_id
),
qsub AS (
  SELECT e.vec_id AS query_id, s.sub_id,
         list_slice(e.v, s.sub_id * 16 + 1, (s.sub_id + 1) * 16) AS sv
  FROM emb e CROSS JOIN subs s WHERE e.vec_id < 20
),
qtab AS (
  SELECT q.query_id, q.sub_id, cb.code_id,
         list_reduce(
           list_transform(range(1, 17),
                          i -> (q.sv[i] - cb.cvec[i]) * (q.sv[i] - cb.cvec[i])),
           (a, b) -> a + b) AS d
  FROM qsub q JOIN codebook cb USING (sub_id)
),
adc AS (
  SELECT cd.query_id, cd.neighbor_id,
         list_reduce(list(t.d ORDER BY t.sub_id), (a, b) -> a + b) AS dist
  FROM cand cd
  JOIN ncodes c ON c.vec_id = cd.neighbor_id
  JOIN qtab t ON t.query_id = cd.query_id AND t.sub_id = c.sub_id
             AND t.code_id = c.code_id
  GROUP BY cd.query_id, cd.neighbor_id
),
adcranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank,
         dist
  FROM adc
)"""
    if not refine:
        return ivfpq + """
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(dist, 6) AS adc_dist
FROM adcranked WHERE rank <= 5"""
    return ivfpq + """,
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
FROM rranked WHERE rank <= 5"""


def _ivfpq_topk_bounded(con, stride: int):
    """Full-output bounded replay of ann_ivfpq_topk (``stride``
    accepted for the SAMPLED signature and unused — the output is
    panel-sized, every spark row is checked)."""
    return _ivfpq_bounded_sql(refine=False), (lambda row: True)


def _ivfpq_refine_bounded(con, stride: int):
    """Full-output bounded replay of ann_ivfpq_refine (see
    _ivfpq_topk_bounded)."""
    return _ivfpq_bounded_sql(refine=True), (lambda row: True)


def _recall_audit_bounded(con, stride: int):
    """Bounded oracle for ann_recall_audit (VERDICT r10 #4): the FULL
    20-row audit, replayed with the n x sqrt(n) blowups removed — the
    output is panel-sized (20 queries) at every scale, so unlike the
    per-entity families nothing can be row-sampled away; what made the
    registry oracle infeasible at the 100x replica (>75 min, killed)
    was its FORMULATION, not the answer size:

    * both corpus-assignment row_number windows (n x n_lists ranked
      rows, two sort passes over ~89M rows carrying 64-double vectors)
      become hash-agg argmax — ``max(cos)`` per vector then
      ``min(list_id)`` among exact-equal maxima, bit-identical to
      ``row_number() ORDER BY cos DESC, list_id`` at r=1;
    * the per-pair cosine tables materialize NARROW (vec_id, list_id,
      cos — never the vectors), so the two corpus passes spill at
      ~20 bytes/row instead of ~500;
    * the panel-sized stages (qprobe, candidate ranking, the brute
      leg's 20 x n scan, the measurement join) keep the registry
      oracle's exact shape.

    Cost: O(n * sqrt(n)) cosine evaluations — unavoidable, the index
    build IS that — but constant-width state and zero corpus-sized
    sorts.  ``stride`` is accepted for the SAMPLED signature and
    unused: every spark row is checked (keep == True), making this a
    full-output bounded replay, stronger than the 1-in-stride tiers.
    """
    sql = """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
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
  FROM picked
  WHERE pick <= (SELECT GREATEST(8, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM emb)
),
assign AS MATERIALIZED (
  SELECT e.vec_id, c.list_id, list_cosine_similarity(e.v, c.cvec) AS cos
  FROM emb e CROSS JOIN centroids c
),
amax AS (SELECT vec_id, max(cos) AS mc FROM assign GROUP BY vec_id),
assignments AS (
  SELECT a.vec_id, min(a.list_id) AS list_id
  FROM assign a JOIN amax m ON m.vec_id = a.vec_id AND a.cos = m.mc
  GROUP BY a.vec_id
),
lists AS (
  SELECT s.list_id, list(e.v ORDER BY e.vec_id) AS vs,
         CAST(count(*) AS DOUBLE) AS n
  FROM assignments s JOIN emb e USING (vec_id) GROUP BY s.list_id
),
refined AS (
  SELECT list_id,
         list_transform(
           list_reduce(vs, (a, b) -> list_transform(range(1, len(a) + 1), i -> a[i] + b[i])),
           x -> x / n) AS cvec
  FROM lists
),
assign2 AS MATERIALIZED (
  SELECT e.vec_id, c.list_id, list_cosine_similarity(e.v, c.cvec) AS cos
  FROM emb e CROSS JOIN refined c
),
amax2 AS (SELECT vec_id, max(cos) AS mc FROM assign2 GROUP BY vec_id),
assignments2 AS (
  SELECT a.vec_id, min(a.list_id) AS list_id
  FROM assign2 a JOIN amax2 m ON m.vec_id = a.vec_id AND a.cos = m.mc
  GROUP BY a.vec_id
),
qprobe AS (
  SELECT e.vec_id AS query_id, e.v AS qv, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.list_id) AS r
  FROM emb e CROSS JOIN refined c WHERE e.vec_id < 20
),
probes AS (SELECT query_id, qv, list_id FROM qprobe WHERE r <= 2),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, e.v) AS cos
  FROM probes p
  JOIN assignments2 a USING (list_id)
  JOIN emb e ON e.vec_id = a.vec_id
  WHERE p.query_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM pairs
),
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
GROUP BY e.query_id"""

    def keep(row_dict):
        return True  # panel-sized output: every row is checked

    return sql, keep


# name -> (stride_from_table, bounded_oracle_builder); stride targets
# ~300 sampled entities regardless of corpus scale, so the gate's cost
# stays O(300 x n) at any replica size
SAMPLED = {
    "ann_recall_audit": (_vec_stride, _recall_audit_bounded),
    # full-output bounded replays (panel-sized answers; the registry
    # formulation's corpus-wide windows + unconfined PQ encode spill
    # >90 GB at the 100x replica — the rewrite, not the answer, is
    # what's bounded)
    "ann_ivfpq_topk": (_vec_stride, _ivfpq_topk_bounded),
    "ann_ivfpq_refine": (_vec_stride, _ivfpq_refine_bounded),
    "centrality_rank_suppliers": (_node_stride, _pagerank_sampled),
    "embedding_near_dup": (_vec_stride, _near_dup_sampled),
    "cluster_semantic_dedup": (_vec_stride, _semantic_sampled),
    "dedup_minhash_lsh": (_doc_stride, _jaccard_sampled),
    "dedup_ngram_jaccard": (_doc_stride, _jaccard_sampled),
    "dedup_minhash_incremental": (_doc_stride, _incremental_sampled),
    # same full oracle (batch-touching exact-Jaccard pair set) as the
    # incremental query — the compaction lifecycle changes the index
    # FILES, never the served rows — so it shares the bounded builder
    "banded_minhash_compaction": (_doc_stride, _incremental_sampled),
    "curation_funnel": (_doc_stride, _funnel_sampled),
    "banded_simhash_dedup": (_doc_stride, _simhash_sampled),
    "decontam_testset": (_doc_stride, _decontam_sampled),
    "coverage_dup_spans": (_doc_stride, _coverage_sampled),
    "cleanup_span_rewrite": (_doc_stride, _rewrite_sampled),
    "bpe_encode_corpus": (_doc_stride, _bpe_encode_sampled),
}




_SUBPROC_ORACLE = """
import pickle, sys, os
import duckdb
sql_path, sf_dir, out_path, tables = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4].split(",")
os.makedirs("/tmp/duckdb_verify_spill", exist_ok=True)
con = duckdb.connect()
con.execute("SET memory_limit='24GiB'")
con.execute("SET temp_directory='/tmp/duckdb_verify_spill'")
for t in tables:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
sql = open(sql_path).read()
# materialize ONCE, then read twice: the heavy replays used to run the
# whole SQL a second time just to get the pandas frame for the
# dtype-kind check — at replica scale that doubled a multi-minute query
con.execute("CREATE TEMP TABLE __oracle_result AS " + sql)
res = con.execute("SELECT * FROM __oracle_result")
cols = [d[0] for d in res.description]
rows = res.fetchall()
pdf = con.execute("SELECT * FROM __oracle_result").df()
with open(out_path, "wb") as f:
    pickle.dump({"cols": cols, "rows": rows, "pdf": pdf}, f)
"""


def oracle_in_subprocess(sql: str, sf_dir: str, tables) -> tuple:
    """Last-resort oracle replay in a CLEAN child process: co-resident
    with the Spark JVM, the long-lived in-process DuckDB hits
    budget/commit OOMs on the heaviest replica replays that the same
    SQL survives easily in a fresh process (measured: 11-42s
    standalone vs bad-alloc in-process)."""
    import pickle
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".sql", delete=False) as f:
        f.write(sql)
        sql_path = f.name
    out_path = sql_path + ".out"
    cmd = [sys.executable, "-c", _SUBPROC_ORACLE, sql_path, sf_dir, out_path,
           ",".join(tables)]
    # start_new_session: the child must NOT share the driver's process
    # group — Spark/py4j signal traffic SIGINTs the group mid-replay
    # and killed the heaviest child deterministically
    try:
        subprocess.run(cmd, check=True, timeout=1800, start_new_session=True)
    except subprocess.CalledProcessError:
        # transient commit-pressure crash while the Spark side of the
        # same query still holds memory — settle and retry once
        import time as _time

        _time.sleep(10)
        subprocess.run(cmd, check=True, timeout=1800, start_new_session=True)
    with open(out_path, "rb") as f:
        d = pickle.load(f)
    return d["cols"], d["rows"], d["pdf"]


def main() -> int:
    args = sys.argv[1:]
    sampled_mode = "--sampled" in args
    if sampled_mode:
        args.remove("--sampled")
    subproc_mode = "--subproc" in args
    if subproc_mode:
        args.remove("--subproc")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from palegislature_spark.catalog import STAR_TABLES
    from palegislature_spark.session import get_spark

    spark = get_spark("verify_local")
    import os.path

    def fresh_con():
        # Co-resident with the Spark JVM, DuckDB's default limit (80%
        # of RAM) intermittently throws bad-alloc OOM on the heavier
        # replays (replica-scale BPE) even with system RAM free —
        # allocator interaction, not true exhaustion; the same SQL
        # runs fine in a pure-DuckDB process. An explicit cap with
        # spill helps but does not fully suppress it, so queries that
        # hit OutOfMemoryException retry once on a FRESH connection
        # (resets the allocator arena).
        import os

        # DuckDB does NOT create the temp_directory; if it is missing,
        # spill silently fails and budget-bound replays die with
        # KB-sized bad-allocs (the r6 replica-gate failure mode — the
        # dir evaporated with /tmp between rounds)
        os.makedirs("/tmp/duckdb_verify_spill", exist_ok=True)
        c = duckdb.connect()
        # two distinct OOM modes to thread between: the replica BPE
        # replays legitimately need >16GiB of DuckDB budget (KB-sized
        # bad-allocs fire when the QUERY budget is exhausted on an
        # unspillable block), while the kernel overcommit heuristic
        # caps total committed address space at ~50% of RAM shared
        # with the Spark JVM. 28GiB + spill + capped threads fits
        # both; the retry below absorbs residual flakes.
        c.execute("SET memory_limit='28GiB'")
        c.execute("SET threads=16")
        c.execute("SET temp_directory='/tmp/duckdb_verify_spill'")
        for t in STAR_TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(p):
                # Spark-written datasets are DIRECTORIES of part files
                # (e.g. the scalegen_star 10x replica) — glob them
                p = f"{p}/*.parquet"
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    con = fresh_con()

    qs, oracles = queries(), oracle_sql()
    failures = []
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if con is None:  # a prior retry died mid-reconnect
            con = fresh_con()
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(s_rows)} rows) [{time.time()-t0:.1f}s]")
            continue
        oracle_sql_text = oracles[name]
        tag = ""
        if sampled_mode and name in SAMPLED:
            stride_fn, builder = SAMPLED[name]
            stride = stride_fn(con)
            oracle_sql_text, keep = builder(con, stride)
            full = len(s_rows)
            s_rows = [
                r for r in s_rows if keep(dict(zip(s_cols, r)))
            ]
            tag = f" [sampled 1/{stride}: {len(s_rows)}/{full} spark rows]"
            if full > 0 and not s_rows:
                # vacuous-pass guard (ADVICE r7): if the ids are not
                # dense/divisible by the stride (offset or multiplied
                # ids), the keep() subset collapses to zero rows and
                # the gate would pass on 0-vs-0 — fail loudly instead.
                failures.append(name)
                print(
                    f"FAIL  {name}: sampled subset empty "
                    f"(full result had {full} rows; stride {stride} "
                    "matches no spark rows — non-dense ids?)"
                )
                continue
        try:
            try:
                if subproc_mode:
                    # replica-scale co-residency with the JVM makes the
                    # long-lived in-process DuckDB not just OOM but
                    # hard-ABORT (std::terminate in a destructor after
                    # bad_alloc) on the heaviest replays — run every
                    # replay in its own clean process there
                    raise duckdb.OutOfMemoryException("routed to subprocess")
                res = con.execute(oracle_sql_text)
                d_cols = [d[0] for d in res.description]
                d_rows = res.fetchall()
                d_pdf = con.execute(oracle_sql_text).df()
            except duckdb.OutOfMemoryException:
                # co-resident budget/commit OOM — rebuild the
                # connection (never leave `con` dead: that poisoned
                # every later query with ConnectionException), then
                # fall back to a CLEAN subprocess replay, which
                # reliably survives the replays the shared process
                # cannot.
                if not subproc_mode:
                    try:
                        con.close()
                    except Exception:  # noqa: BLE001
                        pass
                    import gc

                    gc.collect()
                    time.sleep(2)
                    con = None
                    con = fresh_con()
                d_cols, d_rows, d_pdf = oracle_in_subprocess(
                    oracle_sql_text, sf_dir, STAR_TABLES
                )
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue

        if sampled_mode and name in SAMPLED and s_rows and not d_rows:
            # mirror of the vacuous-pass guard on the oracle side: a
            # sampled replay that returns nothing while spark kept
            # rows means the oracle's stride predicate went stale
            failures.append(name)
            print(
                f"FAIL  {name}: sampled oracle returned 0 rows while "
                f"spark kept {len(s_rows)}"
            )
            continue

        dt_bad = dtype_kind_mismatch(sdf, d_pdf)
        if dt_bad:
            failures.append(name)
            print(f"FAIL  {name}: driver-lens dtype mismatch: {'; '.join(dt_bad)}")
            continue

        sc, sr = normalize(s_rows, s_cols)
        dc, dr = normalize(d_rows, d_cols)
        if sc != dc:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sc} duckdb={dc}")
            continue
        if len(sr) != len(dr):
            failures.append(name)
            print(f"FAIL  {name}: rows spark={len(sr)} duckdb={len(dr)}")
            continue
        bad = None
        for i, (a, b) in enumerate(zip(sr, dr)):
            if not all(values_equal(x, y) for x, y in zip(a, b)):
                bad = (i, a, b)
                break
        if bad:
            failures.append(name)
            print(f"FAIL  {name}: value mismatch at sorted row {bad[0]}:\n  spark={bad[1]}\n  duck ={bad[2]}")
            continue
        print(f"ok    {name}: {len(sr)} rows match{tag} [{time.time()-t0:.1f}s]")

    print(f"\n{n_checked - len(failures)}/{n_checked} checked queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
