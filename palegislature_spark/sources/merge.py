"""Merge-by-key writes over plain Parquet (S7/S8, SURVEY §1.4, §4.3.5).

The reference upserts row-at-a-time through SQLite
(``db.update(table, row, keys)`` — ``crawl.py:77,112,166,206,503``).
The distributed equivalent without a table format is batch merge:
union existing + updates, keep the newest row per key
(``row_number() over (partition by key order by version desc) = 1``),
and rewrite only the touched partitions
(``partitionOverwriteMode=dynamic``, set in session defaults).

Bulk UPDATE (S8 — ``match_names.py:187-188``, ``apply_edits.py``)
is the join-and-coalesce pattern: see ``overwrite_updates``.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from palegislature_spark.sources.commit import (
    MANIFEST,
    STAGING,
    commit_marker,
    hadoop_fs,
    marker_ids,
    names,
    prune,
    recover_swap,
    swap,
)


def merge_by_key(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str | None = None,
) -> DataFrame:
    """Upsert semantics: updates win over existing rows per key.

    ``version_col`` (e.g. an ingest timestamp) orders within-batch
    duplicates — highest wins; without it, update-batch rows beat
    existing rows and within-batch duplicates resolve arbitrarily
    but deterministically (row_number, source-tag order).

    Schema evolution (add-column): update columns absent from
    ``existing`` are filled with typed NULLs on the existing side, so
    an upsert that introduces a new column (e.g. the rollup sink's
    ``last_batch`` stamp against a table written before that column
    existed) merges instead of failing analysis.  Existing-only
    columns are still dropped (``select(updates.columns)``) — the
    update batch defines the output schema.
    """
    keys = list(keys)
    tagged_new = updates.withColumn("__src", F.lit(1))
    if existing is None:
        unioned = tagged_new
    else:
        for f in updates.schema.fields:
            if f.name not in existing.columns:
                existing = existing.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        unioned = existing.select(updates.columns).withColumn(
            "__src", F.lit(0)
        ).unionByName(tagged_new)
    order = [F.col("__src").desc()]
    if version_col:
        order.append(F.col(version_col).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__src", "__rn")
    )


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_cols: Sequence[str] = (),
    version_col: str | None = None,
) -> None:
    """Merge ``updates`` into the Parquet dataset at ``path``.

    First write creates the dataset. With ``partition_cols``, only
    partitions that appear in ``updates`` are rewritten — existing
    rows of touched partitions are merged in, untouched partitions
    are untouched.

    Durability: the merged output is fully written to a staging
    directory *next to* the dataset, then swapped in with O(1)
    filesystem renames (per touched partition when partitioned,
    whole-dataset otherwise).  The live data is never deleted before
    its replacement is durable — a crash mid-job leaves the previous
    dataset intact, and a crash mid-swap leaves every partition at
    either its old or its new complete state.  Crash RECOVERY is
    automatic under the single-writer convention: every call first
    runs :func:`_repair_interrupted_swap`, which finishes a crashed
    predecessor's publish (complete staging + missing live dir, or
    partially swapped partition leaves) or discards an incomplete
    staging — so no crash window leaves the dataset unreadable or
    half-merged for the next writer/reader.  This also removes the
    read-then-overwrite-same-path cycle, so no checkpoint barrier is
    needed at all (the r1 design localCheckpoint'ed and overwrote in
    place: executor loss or mid-write failure could destroy the
    dataset — see ADVICE r1).
    """
    _repair_interrupted_swap(spark, path)
    try:
        existing = spark.read.parquet(path)
        exists = True
    except Exception:  # noqa: BLE001 — first write: no dataset yet
        existing = None
        exists = False

    if exists and partition_cols:
        # only merge rows from partitions present in the update batch
        parts = updates.select(*partition_cols).distinct()
        existing = existing.join(F.broadcast(parts), list(partition_cols), "left_semi")

    merged = merge_by_key(existing, updates, keys, version_col)

    if not exists:
        writer = merged.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        return

    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    if not partition_cols:
        swap(fs, HPath, base, merged)
        return
    staging = base + STAGING
    fs.delete(HPath(staging), True)
    merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(staging)
    _swap_partitions(fs, HPath, staging, base, len(partition_cols))
    fs.delete(HPath(staging), True)


def _repair_interrupted_swap(spark: SparkSession, path: str) -> None:
    """Finish the publish of a crashed previous ``upsert_parquet``
    call — run automatically at the start of every call, making the
    swap protocol crash-recoverable under the single-writer
    convention. Partitioned mode (a complete staging that holds
    ``col=value`` leaves; already-swapped leaves were MOVED out of
    staging, so the remainder is exactly the unfinished set): re-run
    the leaf swaps idempotently, which also heals a leaf caught
    between its delete and rename. Whole-dataset mode:
    :func:`~palegislature_spark.sources.commit.recover_swap`. An
    incomplete staging (no ``_SUCCESS``: the crash hit mid-write and
    live was never touched) is discarded by the next swap before it
    writes. A reader therefore never observes a half-merged table:
    each partition (or the whole dataset) is always at its complete
    old or complete new state.
    """
    base = path.rstrip("/")
    staging = base + STAGING
    fs, HPath = hadoop_fs(spark, base)
    if fs.exists(HPath(staging + "/_SUCCESS")):
        depth, probe = 0, staging
        while True:
            subs = [
                st
                for st in fs.listStatus(HPath(probe))
                if st.isDirectory() and "=" in st.getPath().getName()
            ]
            if not subs:
                break
            depth += 1
            probe = subs[0].getPath().toString()
        if depth:
            _swap_partitions(fs, HPath, staging, base, depth)
            fs.delete(HPath(staging), True)
            return
    recover_swap(fs, HPath, base)


def _swap_partitions(fs, HPath, staging: str, live: str, depth: int) -> None:
    """Move every ``col=value/.../col=value`` leaf directory written
    under ``staging`` into ``live``, replacing the old partition dir.
    Each swap is one delete + one rename of a complete directory."""

    def leaves(dir_path: str, level: int) -> list[str]:
        out = []
        for st in fs.listStatus(HPath(dir_path)):
            name = st.getPath().getName()
            if not st.isDirectory() or "=" not in name:
                continue
            child = f"{dir_path}/{name}"
            if level == 1:
                out.append(child)
            else:
                out.extend(leaves(child, level - 1))
        return out

    for src in leaves(staging, depth):
        rel = src[len(staging) + 1 :]
        dst = f"{live}/{rel}"
        parent = dst.rsplit("/", 1)[0]
        fs.mkdirs(HPath(parent))
        fs.delete(HPath(dst), True)
        fs.rename(HPath(src), HPath(dst))


def overwrite_updates(
    fact: DataFrame,
    fixes: DataFrame,
    keys: Sequence[str],
    columns: Sequence[str],
) -> DataFrame:
    """Bulk UPDATE as a join: for rows matching ``fixes`` on ``keys``,
    replace ``columns`` with the fix values (NULL fix values keep the
    original — coalesce semantics). All other rows pass through.
    """
    keys = list(keys)
    fx = F.broadcast(
        fixes.select(
            *keys, *[F.col(c).alias(f"__fix_{c}") for c in columns]
        )
    )
    out = fact.join(fx, keys, "left")
    return out.select(
        *[
            F.coalesce(F.col(f"__fix_{c}"), F.col(c)).alias(c)
            if c in columns
            else F.col(c)
            for c in fact.columns
        ]
    )


def upsert_parquet_rowlevel(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str | None = None,
) -> dict:
    """Row-level copy-on-write MERGE over plain Parquet.

    ``upsert_parquet`` rewrites whole partitions, which is the right
    grain only when update keys align with the partition layout.  This
    is the non-aligned path — the mechanics a table format (Delta /
    Iceberg MERGE) provides, hand-rolled on the open file format:

    1. probe which data FILES contain an updated key (left-semi join
       against ``_metadata.file_path`` — file-level pruning, the
       hidden-column analogue of Delta's min/max file skipping);
    2. rewrite ONLY those files, merged with the updates (new keys
       ride along into the rewritten output);
    3. publish the replacement files into the live directory, then
       delete the superseded originals.

    Every untouched file stays byte-identical — at 100 TB an update
    touching 0.1% of keys rewrites ~0.1% of files instead of every
    partition the keys straddle.

    Durability + snapshot isolation: replacements are fully written to
    a staging dir and moved in BEFORE anything else changes, then the
    new file set is COMMITTED by a single atomic rename of the
    ``_MANIFEST`` pointer file (the SQLite-transaction analogue the
    reference got for free — ``pa_legislature.py:44-49``; the same
    commit protocol as Delta/Iceberg's log tip, minimal form).
    Readers that resolve the manifest (:func:`read_snapshot`) see
    either the complete old generation or the complete new one, never
    a half-published mix or duplicate keys.  Superseded originals are
    deleted only AFTER the commit; a snapshot reader that pinned the
    previous generation keeps reading it untouched: superseded files
    are NOT deleted at commit — they are recorded in the new
    manifest's ``retire`` list and physically removed one merge
    LATER (or by an explicit :func:`vacuum`).  That one-generation
    retention window is what lets a reader mid-scan on generation N
    survive the commit of N+1 (the same reason Delta/Iceberg separate
    commit from VACUUM); ``read_snapshot`` additionally re-resolves
    and retries if it ever does lose the race across two commits.
    Plain ``spark.read.parquet(path)`` on a dataset with
    pending-retire files sees duplicates — run :func:`vacuum` after
    the last merge before handing the directory to manifest-unaware
    readers.  Single-writer convention (as with any file-format table
    without a locking catalog).

    Interrupted-commit safety (r8, VERDICT r7 #6): the commit's file
    list is the MANIFEST-TO-MANIFEST DELTA (previous committed set
    minus superseded plus this merge's published names), never a
    directory scan — files published by a crashed attempt that died
    before its commit can NEVER leak into a later generation as
    duplicates; they are swept at the start of the next merge
    (anything on disk outside committed ∪ pending-retire). A legacy
    directory without a manifest is bootstrapped (its as-found file
    set committed) BEFORE anything is published, closing the same
    window for the first managed merge. Whatever the crash point —
    mid-staging, mid-publish, between publish and commit, or
    mid-retire — ``read_snapshot`` observes either the complete old
    generation or the complete new one (tests/test_pipelines.py
    interrupted-commit tests).

    Raises ValueError on a hive-partitioned target (partition values
    live in directory names there — rewriting those rows into root
    files would corrupt the layout; use ``upsert_parquet``, whose
    partition-swap grain matches) and on a target/updates column-set
    mismatch (a silent ``select(updates.columns)`` would drop
    target-only columns).

    Returns {"files_total", "files_rewritten", "rows_written",
    "generation"}.
    """
    keys = list(keys)
    base = path.rstrip("/")
    manifest = _read_manifest(spark, base)
    if manifest is None:
        try:
            spark.read.parquet(path)
            exists = True
        except Exception:  # noqa: BLE001 — first write: no dataset yet
            exists = False
    else:
        exists = True
    if not exists:
        deduped = merge_by_key(None, updates, keys, version_col)
        deduped.write.mode("overwrite").parquet(path)
        _commit_manifest(spark, path, generation=0)
        return {
            "files_total": 0,
            "files_rewritten": 0,
            "rows_written": deduped.count(),
            "generation": 0,
        }

    fs0, HPath0 = hadoop_fs(spark, base)
    for st in fs0.listStatus(HPath0(base)):
        if st.isDirectory() and "=" in st.getPath().getName():
            raise ValueError(
                f"{path} is hive-partitioned ({st.getPath().getName()}/): "
                "row-level rewrite would publish partition columns as data "
                "columns in root files. Use upsert_parquet(partition_cols=...)."
            )
    if manifest is None:
        # legacy directory (plain Spark write, no manifest yet):
        # BOOTSTRAP a manifest of the as-found file set before
        # publishing anything — from here on every commit is a
        # manifest-to-manifest delta, so a crash mid-publish can
        # never leak uncommitted files into a later generation
        _commit_manifest(spark, base)
        manifest = _read_manifest(spark, base)
    else:
        # crashed-publish orphan sweep (single-writer convention):
        # any part- file on disk outside the committed set and the
        # pending-retire list was published by an interrupted merge
        # and never committed — remove it before it can confuse a
        # directory-level consumer
        known = set(manifest["files"]) | set(manifest.get("retire", []))
        for st in fs0.listStatus(HPath0(base)):
            name = st.getPath().getName()
            if name.startswith("part-") and name not in known:
                fs0.delete(st.getPath(), False)
    # snapshot-resolved target: pending-retire files on disk are
    # NOT part of the dataset
    tgt = spark.read.parquet(*[f"{base}/{f}" for f in manifest["files"]])
    if set(tgt.columns) != set(updates.columns):
        raise ValueError(
            "target/updates column mismatch: "
            f"target-only={sorted(set(tgt.columns) - set(updates.columns))}, "
            f"updates-only={sorted(set(updates.columns) - set(tgt.columns))}. "
            "Align the schemas explicitly; a silent projection would drop "
            "target-only columns from rewritten files."
        )

    # _metadata resolves only against the file-source relation itself,
    # so bind it to a regular column before any join/projection
    tgt_f = tgt.select("*", F.col("_metadata.file_path").alias("__file"))
    all_files = {
        r["__file"] for r in tgt_f.select("__file").distinct().collect()
    }
    affected = [
        r["__file"]
        for r in tgt_f.join(
            F.broadcast(updates.select(*keys).distinct()), keys, "left_semi"
        )
        .select("__file")
        .distinct()
        .collect()
    ]

    # rows needing rewrite: only the affected files are even read —
    # the _metadata predicate prunes at file granularity
    touched = tgt_f.filter(F.col("__file").isin(affected)) if affected else None
    merged = merge_by_key(
        touched.select(updates.columns) if touched is not None else None,
        updates,
        keys,
        version_col,
    )

    staging = base + ".__rowstage__"
    fs, HPath = hadoop_fs(spark, base)
    fs.delete(HPath(staging), True)
    merged.write.mode("overwrite").parquet(staging)
    # count from staged footers, BEFORE anything is retired — merged's
    # lineage reads files this merge supersedes
    rows_written = spark.read.parquet(staging).count()

    # 1. the PREVIOUS merge's retire list has aged one full
    #    generation: physically remove it now
    for name in manifest.get("retire", []):
        fs.delete(HPath(f"{base}/{name}"), False)
    # 2. publish new files (uuid part names cannot collide) — invisible
    #    to manifest readers until the commit below
    published = set()
    for st in fs.listStatus(HPath(staging)):
        name = st.getPath().getName()
        if name.startswith("part-"):
            fs.rename(st.getPath(), HPath(f"{base}/{name}"))
            published.add(name)
    fs.delete(HPath(staging), True)
    # 3. COMMIT: atomically publish the new complete file set as the
    #    MANIFEST-TO-MANIFEST DELTA (previous committed set minus
    #    affected plus published) — never a directory scan, which
    #    would sweep a crashed prior attempt's orphans in as
    #    duplicates. The affected originals stay on disk as this
    #    manifest's retire list — excluded from "files" so no reader
    #    mixes them with their replacements, kept so a reader
    #    mid-scan on the previous generation finishes.
    affected_names = {f.rsplit("/", 1)[-1] for f in affected}
    generation = _commit_manifest(
        spark,
        base,
        files=(set(manifest["files"]) - affected_names) | published,
        retire=affected_names,
    )

    return {
        "files_total": len(all_files),
        "files_rewritten": len(affected),
        "rows_written": rows_written,
        "generation": generation,
    }


def _commit_manifest(
    spark: SparkSession,
    path: str,
    generation: int | None = None,
    exclude: set[str] | None = None,
    retire: set[str] | None = None,
    files: set[str] | None = None,
) -> int:
    """Atomically publish a snapshot generation.

    ``files`` (the crash-safe form, r8): commit EXACTLY these names —
    the manifest-to-manifest delta the caller computed (previous
    committed set minus superseded plus freshly published). A crashed
    previous attempt may have left published-but-uncommitted ``part-``
    files in the directory; a directory scan would sweep those
    orphans into the new generation as duplicate rows, so every
    post-bootstrap commit passes ``files`` explicitly.

    Without ``files``: scan the directory for ``part-`` files minus
    ``exclude`` — only safe when no uncommitted orphan can exist
    (first write; legacy-directory bootstrap, which commits BEFORE
    anything is published).

    Protocol: write ``_MANIFEST.tmp`` fully, then ``rename`` it to the
    fresh name ``_MANIFEST-<gen>`` — a rename to a non-existent
    destination is atomic on HDFS/local (and never leaves a
    no-manifest window, unlike renaming OVER a live pointer file,
    which requires a delete first).  Readers resolve the highest
    generation present.  The previous generation's manifest is kept
    (a reader may be mid-resolve on it); older ones are pruned.
    Underscore-prefixed names are invisible to Spark's file listing,
    so plain directory reads are unaffected.
    """
    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    prev = _read_manifest(spark, base)
    if generation is None:
        generation = (prev["generation"] + 1) if prev else 1
    if files is None:
        skip = exclude or set()
        files = {
            n for n in names(fs, HPath, base)
            if n.startswith("part-") and n not in skip
        }
    payload = json.dumps(
        {
            "generation": generation,
            "files": sorted(files),
            "retire": sorted(retire or ()),
        }
    ).encode()
    commit_marker(fs, HPath, base, MANIFEST, generation, payload, width=12)
    prune(fs, HPath, base, MANIFEST, generation - 1)
    return generation


def _read_manifest(
    spark: SparkSession, path: str, generation: int | None = None
) -> dict | None:
    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    gens = marker_ids(fs, HPath, base, MANIFEST)
    if not gens:
        return None
    if generation is not None:
        if generation not in gens:
            raise ValueError(
                f"generation {generation} not available at {base}; "
                f"present: {sorted(gens)} (commits prune manifests older "
                "than the previous generation — the time-travel window is "
                "the last two commits)"
            )
        pick = generation
    else:
        pick = max(gens)
    mpath = HPath(f"{base}/{MANIFEST}{pick:012d}")
    stream = fs.open(mpath)
    try:
        # py4j passes arrays by value — a Java-side readFully cannot
        # mutate a Python bytearray; toByteArray RETURNS the bytes
        raw = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return json.loads(bytes(raw).decode())
    finally:
        stream.close()


def read_snapshot(
    spark: SparkSession,
    path: str,
    retries: int = 5,
    generation: int | None = None,
) -> DataFrame:
    """Snapshot-isolated read of a row-level-merged dataset.

    ``generation`` pins a specific commit (time travel) instead of the
    latest; the window is the last TWO generations — commits prune
    older manifests, and a retired generation's files are physically
    removed one commit after they leave the live set, the same
    retention that lets a mid-scan reader survive a concurrent commit.

    Resolves ``_MANIFEST`` and reads EXACTLY its committed file list —
    a concurrent merge's already-published-but-uncommitted files are
    invisible, and a half-retired old generation is never mixed with a
    new one.  If the resolved generation's files vanish mid-read (the
    reader pinned a manifest in the instant before a commit retired
    them), re-resolve and retry — optimistic reader concurrency, the
    same contract as a table format's snapshot re-resolution.  Datasets
    without a manifest (written by plain Spark) fall back to a normal
    directory read.
    """
    import time

    base = path.rstrip("/")
    last_err: Exception | None = None
    for attempt in range(retries):
        try:
            m = _read_manifest(spark, base, generation)
            if m is None:
                if generation is not None:
                    raise ValueError(f"no manifest at {base} to time-travel")
                return spark.read.parquet(base)
            files = [f"{base}/{f}" for f in m["files"]]
            if not files:
                return spark.read.parquet(base).limit(0)
            df = spark.read.parquet(*files)
            df.count()  # force file resolution against THIS snapshot
            return df
        except Exception as e:  # noqa: BLE001 — retired under us: re-resolve
            last_err = e
            # drop Spark's shared FileStatusCache entries for the
            # dataset — a stale listing would re-fail every retry
            try:
                spark.catalog.refreshByPath(base)
            except Exception:  # noqa: BLE001
                pass
            time.sleep(0.05 * (attempt + 1))
    raise last_err if last_err else RuntimeError("unreachable")


def vacuum(spark: SparkSession, path: str) -> int:
    """Physically remove the current snapshot's pending-retire files
    and commit a clean generation.  Run after the last merge before
    handing the directory to manifest-unaware readers (plain
    ``spark.read.parquet``), exactly like a table format's VACUUM.
    Returns the number of files removed.
    """
    base = path.rstrip("/")
    m = _read_manifest(spark, base)
    if m is None or not m.get("retire"):
        return 0
    fs, HPath = hadoop_fs(spark, base)
    for name in m["retire"]:
        fs.delete(HPath(f"{base}/{name}"), False)
    _commit_manifest(spark, base, files=set(m["files"]))
    return len(m["retire"])


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Bin-pack small data files into ~``target_file_bytes`` outputs
    and commit the result as a new snapshot generation.

    Incremental sinks (stream_upsert_parquet micro-batches, frequent
    row-level merges) accrete many small files; at cluster scale each
    file costs a task plus footer/open overhead, so scan cost drifts
    away from data cost — the standard table-format answer is a
    periodic OPTIMIZE/rewrite, which this implements on the manifest
    protocol: rewrite only the undersized files, publish replacements,
    then one atomic manifest commit.  Readers on the current
    generation keep their file set (compacted originals move to the
    retire list and are physically removed one generation later, as
    with the row-level merge); ``read_snapshot`` concurrency holds
    unchanged.

    Returns {"files_compacted", "files_written", "generation"}
    (all zero / current generation when fewer than two small files
    exist — nothing to gain).
    """
    base = path.rstrip("/")
    fs, HPath = hadoop_fs(spark, base)
    manifest = _read_manifest(spark, base)
    if manifest is None:
        # same legacy bootstrap as the row-level merge: commit the
        # as-found file set BEFORE publishing, so a crash mid-publish
        # can never leak uncommitted compaction output into a later
        # scan-based generation
        _commit_manifest(spark, base)
        manifest = _read_manifest(spark, base)
    live = set(manifest["files"])
    small = [
        st.getPath().getName()
        for st in fs.listStatus(HPath(base))
        if st.getPath().getName() in live and st.getLen() < target_file_bytes
    ]
    if len(small) < 2:
        gen = manifest["generation"] if manifest else 0
        return {"files_compacted": 0, "files_written": 0, "generation": gen}
    total = sum(
        st.getLen()
        for st in fs.listStatus(HPath(base))
        if st.getPath().getName() in set(small)
    )
    n_out = max(1, -(-total // target_file_bytes))  # ceil division

    staging = base + ".__compact__"
    fs.delete(HPath(staging), True)
    spark.read.parquet(*[f"{base}/{f}" for f in small]).repartition(
        int(n_out)
    ).write.mode("overwrite").parquet(staging)

    # age out the previous generation's retire list before relisting —
    # same order as the row-level merge, so the fresh manifest never
    # resurrects superseded files
    if manifest is not None:
        for name in manifest.get("retire", []):
            fs.delete(HPath(f"{base}/{name}"), False)
    published = set()
    for st in fs.listStatus(HPath(staging)):
        name = st.getPath().getName()
        if name.startswith("part-"):
            fs.rename(st.getPath(), HPath(f"{base}/{name}"))
            published.add(name)
    fs.delete(HPath(staging), True)
    # same manifest-to-manifest delta commit as the row-level merge
    generation = _commit_manifest(
        spark,
        base,
        files=(live - set(small)) | published,
        retire=set(small),
    )
    written = len(published)
    return {
        "files_compacted": len(small),
        "files_written": written,
        "generation": generation,
    }


def snapshot_diff(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    gen_a: int | None = None,
    gen_b: int | None = None,
) -> DataFrame:
    """Row-level change set between two committed generations — the
    table-format CDC primitive (Delta CDF / Iceberg changelog scan) on
    the manifest protocol: time-travel both snapshots and classify
    every key as added / removed / updated (unchanged rows are
    dropped).

    ``gen_b`` defaults to the latest committed generation and
    ``gen_a`` to the one before it — the incremental-consumer default
    "what did the most recent commit change" (a naive latest-vs-latest
    default would always diff a snapshot against itself and report
    nothing).  The manifest retention window keeps the last TWO
    generations readable, so (N-1, N) is also the supported window;
    deeper history would need retained manifests (the same trade a
    table format makes with its log retention setting).  Diffing a
    generation-0 dataset reports every row as added.

    Returns (keys..., change, before, after): ``before``/``after``
    are structs of the non-key columns (NULL on the missing side).
    Plan shape: one full-outer shuffle join on the key — linear, the
    same cost as the merge that produced the commit; at 100 TB the
    join prunes further if both generations share partition layout.
    """
    keys = list(keys)
    if gen_b is None:
        m = _read_manifest(spark, path.rstrip("/"))
        if m is None:
            raise ValueError(
                f"no manifest at {path}: snapshot_diff needs committed "
                "generations (write via upsert_parquet_rowlevel/compact)"
            )
        gen_b = m["generation"]
    if gen_a is None:
        gen_a = gen_b - 1
    b = read_snapshot(spark, path, generation=gen_b)
    if gen_a < 0:
        a = b.limit(0)  # before generation 0: the empty dataset
    else:
        a = read_snapshot(spark, path, generation=gen_a)
    cols = [c for c in b.columns if c not in keys]
    a_s = a.select(*keys, F.struct(*cols).alias("before"))
    b_s = b.select(*keys, F.struct(*cols).alias("after"))
    j = a_s.join(b_s, keys, "full_outer")
    change = (
        F.when(F.col("before").isNull(), "added")
        .when(F.col("after").isNull(), "removed")
        .when(~F.col("before").eqNullSafe(F.col("after")), "updated")
        .otherwise("unchanged")
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .select(*keys, "change", "before", "after")
    )
