"""The benchmark workloads.

A workload has four parts:

* ``generate(seed, work)`` builds its inputs and the expected outputs
  outside the engine (untimed, in a child process);
* ``prepare(spark, inputs, work)`` loads them into the session and does
  the untimed preparation every iteration relies on (timed as set-up);
* ``iteration(ctx, state)`` runs one full pass of the workload's
  sequence, each public engine call through ``ctx.call``;
* ``check(ctx, state, out)`` compares one iteration's outputs with the
  expectations from ``generate``.

The engine is driven only through public functions of ``er``,
``pipelines``, ``sources``, ``operators`` and ``queries``.
"""

from __future__ import annotations

import csv
import importlib
import math
import shutil
from pathlib import Path

import numpy as np

import gen

# Every layer the trace reports, in the engine's module names.
LAYERS = (
    "er", "pipelines.dump", "sources.merge", "operators.dedup", "operators.contamination", "operators.bpe",
    "operators.similarity", "operators.pq", "operators.graph",
    "queries.relational", "queries.events",
)
# Layers whose kernels ship rows to Python workers.
KERNEL_LAYERS = (
    "operators.dedup", "operators.bpe", "operators.similarity",
    "operators.pq",
)


class CheckFailed(Exception):
    pass


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# --------------------------------------------------------------------------
# legis_refresh: the paper's own pipeline
# --------------------------------------------------------------------------

class LegisRefresh:
    """Full refresh of one year, then a held-back session as a delta.

    Full refresh: ``merge_members`` -> ``match_vote_names`` ->
    ``backfill_member_ids`` -> ``export_matrices`` over both chambers of
    the base year. Increment: ``upsert_parquet`` of the next year's
    Senate votes into a fresh copy of the base vote store, then match,
    backfill and export for that group only.
    """

    name = "legis_refresh"
    base_year, delta_year = 2011, 2012
    groups = ((2011, 1), (2011, 2), (2012, 2))
    # a sixth of a published session: at the full ~720 rolls the House
    # and Senate export alone took 14 s warm on 4 cores
    rolls_per_group = 120
    phases = ("refresh", "increment")

    def generate(self, seed: int, work: Path):
        return gen.legis_snowflake(seed, list(self.groups), self.rolls_per_group)

    def prepare(self, spark, inputs, work: Path):
        from palegislature_spark import schemas

        tables, _ = inputs
        sessions = tables["sessions"]
        base_ids = set(sessions.loc[sessions.year == self.base_year, "id"])
        votes = tables["votes"]
        frames = {
            k: spark.createDataFrame(v, schemas.SNOWFLAKE[k]).localCheckpoint()
            for k, v in tables.items() if k != "votes"
        }
        base_votes = votes[votes.session_id.isin(base_ids)]
        delta_votes = votes[~votes.session_id.isin(base_ids)]
        frames["base_votes"] = spark.createDataFrame(
            base_votes, schemas.VOTES).localCheckpoint()
        frames["delta_votes"] = spark.createDataFrame(
            delta_votes, schemas.VOTES).localCheckpoint()
        store = work / "base_store"
        shutil.rmtree(store, ignore_errors=True)
        frames["base_votes"].write.partitionBy("session_id").parquet(str(store))
        frames["base_store"] = store
        frames["delta_sessions"] = sorted(set(delta_votes.session_id))
        return frames

    def iteration(self, ctx, st):
        from pyspark.sql import functions as F

        from palegislature_spark.er import (
            backfill_member_ids, match_vote_names, merge_members)
        from palegislature_spark.er.vote_names import roll_years
        from palegislature_spark.pipelines import export_matrices
        from palegislature_spark.sources.merge import upsert_parquet

        out = ctx.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        store = ctx.work / "store"
        shutil.copytree(st["base_store"], store)
        rolls, days, sessions = st["roll_calls"], st["session_days"], st["sessions"]
        years = roll_years(rolls, days)

        def merged():
            m, s, _ = merge_members(st["members"], st["service"])
            return m.localCheckpoint(), s.localCheckpoint()

        def resolve(votes):
            return ctx.call("er", "match_vote_names", lambda: match_vote_names(
                votes, rolls, days, members, service).localCheckpoint())

        ctx.phase("refresh")
        members, service = ctx.call("er", "merge_members", merged)
        matches = resolve(st["base_votes"])
        filled = ctx.call("er", "backfill_member_ids", lambda: backfill_member_ids(
            st["base_votes"], matches, years).localCheckpoint())
        base_sessions = sessions.filter(F.col("year") == self.base_year)
        ctx.call("pipelines.dump", "export_matrices", lambda: export_matrices(
            filled, rolls, days, base_sessions, members, service,
            str(out / "refresh")))

        ctx.phase("increment")
        ctx.call("sources.merge", "upsert_parquet", lambda: upsert_parquet(
            ctx.spark, str(store), st["delta_votes"], ["roll_id", "name"],
            partition_cols=["session_id"]))
        delta = ctx.call("sources.merge", "read_store", lambda: ctx.spark.read.parquet(
            str(store)).filter(F.col("session_id").isin(st["delta_sessions"])))
        dmatches = resolve(delta)
        dfilled = ctx.call("er", "backfill_member_ids", lambda: backfill_member_ids(
            delta, dmatches, years).localCheckpoint())
        delta_sessions = sessions.filter(F.col("year") == self.delta_year)
        ctx.call("pipelines.dump", "export_matrices", lambda: export_matrices(
            dfilled, rolls, days, delta_sessions, members, service,
            str(out / "increment")))
        return {"out": out, "store": store, "filled": [filled, dfilled]}

    def check(self, ctx, st, res):
        _, truth = ctx.inputs
        cells = 0
        for year, chamber in self.groups:
            phase = "refresh" if year == self.base_year else "increment"
            cname = {1: "House", 2: "Senate"}[chamber]
            path = res["out"] / phase / str(year) / f"{cname}.csv"
            _expect(path.exists(), f"missing {path.name} for {year}")
            with open(path, newline="") as f:
                rows = list(csv.reader(f))
            t = truth[(year, chamber)]
            header = rows[0]
            _expect(header[:3] == ["Name", "Number", "Date"], "bad header")
            surnames = [h.split(" ")[-1] for h in header[3:]]
            _expect(surnames == t["surnames"],
                    f"{year}/{cname}: columns differ from the service roster")
            body = rows[3:]  # District and Party rows follow the header
            _expect(rows[1][0] == "District" and rows[2][0] == "Party",
                    "missing District/Party rows")
            _expect(body == t["rows"], f"{year}/{cname}: vote cells differ")
            cells += sum(c != "" for r in body for c in r[3:])
        shutil.rmtree(res["out"], ignore_errors=True)
        shutil.rmtree(res["store"], ignore_errors=True)
        ctx.counters["cells_written"] = cells
        if ctx.tracing:
            total = sum(f.count() for f in res["filled"])
            unresolved = sum(f.filter("member_id IS NULL").count() for f in res["filled"])
            ctx.counters["resolved_ratio"] = (total - unresolved) / total


# --------------------------------------------------------------------------
# lake_ops: curation, ANN build / serve / append, star-schema queries
# --------------------------------------------------------------------------

def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Row multisets equal, numbers to a relative 1e-9 (summation order
    differs between engines)."""
    def key(r):
        return tuple((0, float(v)) if isinstance(v, (int, float)) else (1, str(v)) for v in r)

    got, want = sorted(got, key=key), sorted(want, key=key)
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# (layer, registry query) pairs of the star phase; the DuckDB oracle of
# each is the expectation
STAR_QUERIES = (
    ("queries.relational", "q1_pricing_summary"),
    ("queries.events", "session_windows"),
)
# Copies of the repository's test data (TESTDATA.md, seed 42): the sf0.1
# documents and embeddings, and the sf0.01 star tables the star phase reads
DATA = Path(__file__).resolve().parent / "data"
CORPUS, STAR = DATA / "sf0.1", DATA / "sf0.01"
STAR_TABLES = ("lineitem", "orders", "events")
PAGERANK_ITERS = 3
# lists probed per query, of the ~42 (sqrt-n) the index has: at the
# default 2, recall@5 on these vectors is ~0.2
N_PROBE = 8


class LakeOps:
    """The north-star data operators over the test data's corpus, vectors
    and star tables; the seed draws the BPE training sample, the query
    batch and the held-out delta.

    Curate: ``minhash_lsh_pairs``, ``duplicate_span_coverage`` and
    ``apply_bpe`` with a merge table trained in set-up. Build:
    ``save_ivf_index`` (sqrt-n lists) plus PQ codebooks and codes. Serve:
    one query batch through ``load_ivf_index`` + ``ivf_probe`` and
    ``ivfpq_topk``, probing ``N_PROBE`` lists. Append: ``ivf_append_delta`` of a held-out 10%, then
    one probe through the widened index. Query: a relational and an event
    registry query plus supplier PageRank (``centrality_rank_suppliers``)
    over the sf0.01 star tables, checked against the registry's DuckDB
    oracles.
    """

    name = "lake_ops"
    phases = ("curate", "build", "serve", "append", "query")
    batch, bpe_sample = 16, 500

    def generate(self, seed: int, work: Path):
        import duckdb
        import pyarrow.parquet as pq

        from palegislature_spark.queries.registry import REGISTRY

        for mod in ("relational", "events", "corpus"):  # registers the queries
            importlib.import_module(f"palegislature_spark.queries.{mod}")
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{STAR}/{t}.parquet')")
        oracle = {q: con.execute(REGISTRY[q].oracle).fetchall()
                  for q in [q for _, q in STAR_QUERIES] + ["centrality_rank_suppliers"]}
        con.close()
        docs = pq.read_table(CORPUS / "documents.parquet", columns=["doc_id", "text"]).to_pandas()
        emb = pq.read_table(CORPUS / "embeddings.parquet")
        split = gen.lake_split(seed, len(docs), emb.num_rows, self.bpe_sample, self.batch)
        query, delta = split["query"], split["delta"]
        base = np.setdiff1d(np.arange(emb.num_rows), np.concatenate([query, delta]))
        for k, rows in (("base", base), ("delta", delta), ("query", query)):
            pq.write_table(emb.take(rows), work / f"{k}.parquet")
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        ids = emb.column("vec_id").to_numpy()
        widened = np.sort(np.concatenate([base, delta]))
        truth = {
            "before": gen.topk_cosine(vecs[base], ids[base], vecs[query]),
            "after": gen.topk_cosine(vecs[widened], ids[widened], vecs[query]),
        }
        # verbatim copies: (smaller id, larger id) pairs with equal text
        first: dict[str, int] = {}
        copies = set()
        for i, t in zip(docs.doc_id, docs.text):
            if t in first:
                copies.add((first[t], int(i)))
            else:
                first[t] = int(i)
        n_words = (docs.text.str.count(" ") + 1).tolist()
        return {"n_docs": len(docs), "n_words": dict(zip(docs.doc_id.tolist(), n_words)),
                "bpe_train": docs.doc_id.values[split["bpe_train"]].tolist(),
                "query_ids": ids[query].tolist(), "truth": truth, "copies": copies,
                "oracle": oracle}

    def prepare(self, spark, inp, work: Path):
        from pyspark.sql import functions as F

        from palegislature_spark.operators.bpe import bpe_merge_table

        st = {k: spark.read.parquet(str(work / f"{k}.parquet")).localCheckpoint()
              for k in ("base", "delta", "query")}
        st["documents"] = spark.read.parquet(str(CORPUS / "documents.parquet")).localCheckpoint()
        # the tokenizer is trained on a sample, as tokenizers usually are
        st["merges"] = bpe_merge_table(
            st["documents"].filter(F.col("doc_id").isin(inp["bpe_train"]))).localCheckpoint()
        return st

    def iteration(self, ctx, st):
        from palegislature_spark.operators import graph, pq, similarity
        from palegislature_spark.operators.bpe import apply_bpe
        from palegislature_spark.operators.contamination import duplicate_span_coverage
        from palegislature_spark.operators.dedup import minhash_lsh_pairs

        docs = st["documents"]
        out: dict = {}
        ctx.phase("curate")
        out["minhash"] = ctx.call("operators.dedup", "minhash_lsh_pairs", lambda: _rows(
            minhash_lsh_pairs(docs, "doc_id", "text").select("id_1", "id_2")))
        out["coverage"] = ctx.call(
            "operators.contamination", "duplicate_span_coverage", lambda: _rows(
                duplicate_span_coverage(docs).select("doc_id", "coverage")))
        out["bpe"] = ctx.call("operators.bpe", "apply_bpe", lambda: _rows(
            apply_bpe(docs, st["merges"])))

        path = str(ctx.work / "ivf")
        ctx.phase("build")
        ctx.call("operators.similarity", "save_ivf_index",
                 lambda: similarity.save_ivf_index(st["base"], path))

        def pq_build():
            cb = pq.pq_codebooks(st["base"]).localCheckpoint()
            return cb, pq.pq_encode(st["base"], cb).localCheckpoint()

        cbs, codes = ctx.call("operators.pq", "pq_codebooks_encode", pq_build)

        def probe(batch):
            cents, assign = similarity.load_ivf_index(ctx.spark, path)
            return _rows(similarity.ivf_probe(cents, assign, batch, n_probe=N_PROBE)
                         .select("query_id", "rank", "neighbor_id"))

        ctx.phase("serve")
        out["probe"] = ctx.call("operators.similarity", "ivf_probe",
                                lambda: probe(st["query"]))
        out["adc"] = ctx.call("operators.pq", "ivfpq_topk", lambda: _rows(
            pq.ivfpq_topk(*similarity.load_ivf_index(ctx.spark, path), cbs, codes, st["query"],
                          n_probe=N_PROBE)
            .select("query_id", "rank", "neighbor_id")))

        ctx.phase("append")
        ctx.call("operators.similarity", "ivf_append_delta",
                 lambda: similarity.ivf_append_delta(ctx.spark, path, st["delta"], 1))
        out["after"] = ctx.call("operators.similarity", "ivf_probe_appended",
                                lambda: probe(st["query"]))
        shutil.rmtree(path, ignore_errors=True)

        ctx.phase("query")
        for layer, q in STAR_QUERIES:
            fn = getattr(importlib.import_module(f"palegislature_spark.{layer}"), q)
            out[q] = ctx.call(layer, q, lambda: [tuple(r) for r in fn(ctx.spark, str(STAR)).collect()])
        out["pagerank"] = ctx.call("operators.graph", "pagerank", lambda: [
            tuple(r) for r in graph.pagerank(
                graph.supplier_purchase_edges(ctx.spark, str(STAR)),
                iters=PAGERANK_ITERS, exact_replay=True).collect()])
        ctx.counters["graph_iters"] = PAGERANK_ITERS
        return out

    @staticmethod
    def _recall(rows, truth, query_ids) -> float:
        got: dict[int, set] = {}
        for q, _, n in rows:
            got.setdefault(q, set()).add(n)
        hits = sum(len(got.get(q, set()) & set(t)) for q, t in zip(query_ids, truth))
        return hits / (5 * len(truth))

    def check(self, ctx, st, res):
        inp = ctx.inputs
        minhash = {(a, b) for a, b in res["minhash"]}
        _expect(inp["copies"] <= minhash, "minhash missed a verbatim copy")
        cov = dict(res["coverage"])
        _expect(all(cov[b] == 1.0 for _, b in inp["copies"] if inp["n_words"][b] >= 8),
                "a verbatim copy is not fully covered")
        _expect(len(res["bpe"]) == inp["n_docs"], "apply_bpe lost documents")
        recall = self._recall(res["probe"], inp["truth"]["before"], inp["query_ids"])
        after = self._recall(res["after"], inp["truth"]["after"], inp["query_ids"])
        _expect(recall >= 0.3 and after >= 0.3,
                f"IVF recall@5 too low: {recall:.3f} before, {after:.3f} after the append")
        ctx.counters["recall_at_5"] = recall
        for _, q in STAR_QUERIES:
            _expect(_same_rows(res[q], inp["oracle"][q]), f"{q} differs from its oracle")
        _expect(_same_rows(res["pagerank"], inp["oracle"]["centrality_rank_suppliers"]),
                "pagerank differs from the centrality_rank_suppliers oracle")


WORKLOADS = {w.name: w for w in (LegisRefresh(), LakeOps())}
PHASES = tuple(p for w in WORKLOADS.values() for p in w.phases)
