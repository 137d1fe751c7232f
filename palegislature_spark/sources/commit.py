"""The on-disk commit protocol shared by every persisted dataset.

Every long-lived dataset here — the vote store's parquet upserts
(sources/merge.py), the MinHash band index, the IVF assignments, the
PQ codes and the streaming state tables — publishes through the
functions below, so the layout is known in this module only.

Layout (the names are the format: a dataset written by an earlier
version loads unchanged):

* Marker files ``<prefix><NNNNNN>``: ``_BANDGEN-`` commits a MinHash
  generation, ``_BANDDELTA-`` / ``_IVFDELTA-`` / ``_PQDELTA-`` commit
  one streaming batch, ``_MANIFEST-<NNNNNNNNNNNN>`` commits a row-level
  snapshot (its JSON payload is the file list, sources/merge.py).
  Underscore names are invisible to Spark's file listing.
* Data directories: ``gen-NNNNNN/`` (one MinHash generation),
  ``delta-NNNNNN/`` (a MinHash or IVF batch), ``codes-delta-NNNNNN/``
  (a PQ batch).
* ``_FOLDED-NNNNNN`` inside a folded dataset (a generation, or the
  ``assignments/`` / ``codes/`` base): the highest delta batch id the
  dataset already contains.
* ``<live>.__staging__`` and ``<live>.__old__`` beside a dataset that
  :func:`swap` replaces as a whole.

Invariants every caller relies on:

1. The marker rename is the visibility point. A marker is written
   under a ``.tmp`` name and renamed to a fresh numbered name, which is
   atomic on HDFS and local filesystems. Readers see only data that a
   committed marker names, so a crash before the rename leaves nothing
   visible and a replay simply overwrites the uncommitted directory.
2. ``_FOLDED`` lives inside the folded dataset, so it becomes visible
   atomically with the fold (the generation commit or the swap).
   Readers skip every committed delta at or below it; a fold is never
   visible without its high-water, so no delta is counted twice.
3. GC is keyed on the high-water: a compaction deletes every committed
   delta at or below it, not only the ones it folded itself, so a crash
   between publish and GC leaves deltas that are already invisible and
   that the next compaction removes.
4. Live is renamed aside before staging is promoted, so no crash point
   leaves zero complete copies, and :func:`recover_swap` repairs every
   interrupted state. Staging counts as complete only once its
   ``_SUCCESS`` exists, and a folding swap writes ``_FOLDED`` first.

One writer per dataset (there is no locking catalog); readers may run
concurrently and see either the old or the new committed state.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

STAGING = ".__staging__"
TRASH = ".__old__"
FOLDED = "_FOLDED-"
GENERATION = "_BANDGEN-"
MANIFEST = "_MANIFEST-"


def hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path class for ``path``'s scheme (file:,
    hdfs:, s3a: alike — the protocol is scheme-agnostic)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(path), conf
    )
    return fs, jvm.org.apache.hadoop.fs.Path


def names(fs, HPath, directory: str) -> list[str]:
    """Entry names of ``directory`` ([] when it does not exist)."""
    if not fs.exists(HPath(directory)):
        return []
    return [st.getPath().getName() for st in fs.listStatus(HPath(directory))]


def _numbered(fs, HPath, directory: str, prefix: str) -> list[tuple[int, str]]:
    out = []
    for name in names(fs, HPath, directory):
        if name.startswith(prefix):
            try:
                out.append((int(name[len(prefix):]), name))
            except ValueError:
                continue
    return out


def marker_ids(fs, HPath, directory: str, prefix: str) -> list[int]:
    """Integer suffixes of the ``<prefix><int>`` entries of ``directory``."""
    return [n for n, _ in _numbered(fs, HPath, directory, prefix)]


def commit_marker(
    fs, HPath, directory: str, prefix: str, n: int,
    payload: bytes = b"", width: int = 6,
) -> None:
    """Publish marker ``<prefix><n>``: write ``payload`` to a tmp name,
    then rename to the fresh numbered name (invariant 1)."""
    tmp = HPath(f"{directory}/{prefix[:-1]}.tmp")
    out = fs.create(tmp, True)
    try:
        if payload:
            out.write(bytearray(payload))
    finally:
        out.close()
    fs.rename(tmp, HPath(f"{directory}/{prefix}{n:0{width}d}"))


def prune(fs, HPath, directory: str, prefix: str, below: int) -> None:
    """Delete every ``<prefix><id>`` entry of ``directory`` with id < ``below``."""
    for n, name in _numbered(fs, HPath, directory, prefix):
        if n < below:
            fs.delete(HPath(f"{directory}/{name}"), True)


def _touch(fs, HPath, path: str) -> None:
    fs.create(HPath(path), True).close()


def folded_high_water(fs, HPath, dataset: str) -> int:
    """Highest delta batch id folded into ``dataset``, or -1."""
    return max(marker_ids(fs, HPath, dataset, FOLDED), default=-1)


def stamp_folded(fs, HPath, dataset: str, high_water: int) -> None:
    if high_water >= 0:
        _touch(fs, HPath, f"{dataset}/{FOLDED}{high_water:06d}")


def generation_dir(base: str, gen: int) -> str:
    return f"{base}/gen-{gen:06d}"


def current_generation(fs, HPath, base: str) -> int | None:
    """Highest committed generation under ``base``, or None."""
    return max(marker_ids(fs, HPath, base, GENERATION), default=None)


def commit_generation(fs, HPath, base: str, gen: int) -> None:
    """Publish generation ``gen``, then prune generations older than
    the previous one: a reader mid-scan on N-1 survives the commit of
    N (the one-generation retention window)."""
    commit_marker(fs, HPath, base, GENERATION, gen)
    prune(fs, HPath, base, GENERATION, gen - 1)
    prune(fs, HPath, base, "gen-", gen - 1)


def swap(fs, HPath, live: str, df: DataFrame, folded: int = -1) -> None:
    """Replace the dataset at ``live`` with ``df``: write staging,
    stamp ``_FOLDED`` (when ``folded`` >= 0) before ``_SUCCESS`` marks
    staging promotable, rename live aside, promote staging, drop the
    old copy (invariant 4)."""
    staging, trash = live + STAGING, live + TRASH
    fs.delete(HPath(staging), True)
    df.write.mode("overwrite").parquet(staging)
    if folded >= 0:
        fs.delete(HPath(staging + "/_SUCCESS"), False)
        stamp_folded(fs, HPath, staging, folded)
        _touch(fs, HPath, staging + "/_SUCCESS")
    fs.delete(HPath(trash), True)
    if fs.exists(HPath(live)):
        fs.rename(HPath(live), HPath(trash))
    fs.rename(HPath(staging), HPath(live))
    fs.delete(HPath(trash), True)


def recover_swap(fs, HPath, live: str) -> None:
    """Repair an interrupted :func:`swap`. With live missing, promote a
    complete staging, else restore the renamed-aside old copy; once
    live exists, drop the old copy. Never deletes a candidate before a
    live copy exists. Staging is left to the next :func:`swap` (which
    clears it before writing): a reader running this beside a writer
    must not delete the writer's in-flight staging."""
    staging, trash = live + STAGING, live + TRASH
    if not fs.exists(HPath(live)):
        if fs.exists(HPath(staging + "/_SUCCESS")):
            fs.rename(HPath(staging), HPath(live))
        elif fs.exists(HPath(trash)):
            fs.rename(HPath(trash), HPath(live))
    if fs.exists(HPath(live)):
        fs.delete(HPath(trash), True)


@dataclass(frozen=True)
class DeltaLog:
    """One index family's per-batch delta log under a base directory:
    batch ``b`` is the dataset ``<prefix><b>`` made visible by the
    marker ``<marker><b>``, and a folded dataset's ``_FOLDED``
    high-water hides every batch it already contains."""

    marker: str
    prefix: str

    def path(self, base: str, batch_id: int) -> str:
        return f"{base}/{self.prefix}{batch_id:06d}"

    def unfolded(self, fs, HPath, base: str, folded: str) -> tuple[int, list[int]]:
        """(high-water of ``folded``, sorted committed batch ids above it)."""
        hw = folded_high_water(fs, HPath, folded)
        ids = marker_ids(fs, HPath, base, self.marker)
        return hw, sorted(d for d in ids if d > hw)

    def read_paths(self, fs, HPath, base: str, folded: str) -> list[str]:
        """``folded`` plus every committed, unfolded delta: the reader's union."""
        _, ids = self.unfolded(fs, HPath, base, folded)
        return [folded] + [self.path(base, d) for d in ids]

    def append(self, fs, HPath, base: str, folded: str, batch_id: int, write) -> bool:
        """Idempotent append: a batch already committed, or at or below
        the high-water, is a no-op; otherwise ``write(delta_path)``
        then commit its marker. True iff newly committed."""
        if fs.exists(HPath(f"{base}/{self.marker}{batch_id:06d}")):
            return False
        if batch_id <= folded_high_water(fs, HPath, folded):
            return False
        write(self.path(base, batch_id))
        commit_marker(fs, HPath, base, self.marker, batch_id)
        return True

    def gc(self, fs, HPath, base: str, high_water: int) -> None:
        """Delete every committed delta at or below ``high_water`` (invariant 3)."""
        for d in marker_ids(fs, HPath, base, self.marker):
            if d <= high_water:
                fs.delete(HPath(self.path(base, d)), True)
                fs.delete(HPath(f"{base}/{self.marker}{d:06d}"), False)

    def fold_by_swap(self, spark, base: str, live: str, layout=None) -> dict:
        """Fold the unfolded deltas into the dataset at ``live``: read
        it with EXACTLY the pinned delta snapshot (re-listing would race
        a concurrent append — a delta landing between two listings
        would be folded yet excluded from the high-water and GC, so
        readers would count it twice), apply ``layout``, swap it in
        with the new high-water, then GC. Returns {"rows",
        "deltas_folded", "high_water"}."""
        fs, HPath = hadoop_fs(spark, base)
        recover_swap(fs, HPath, live)
        hw, ids = self.unfolded(fs, HPath, base, live)
        df = spark.read.parquet(live, *[self.path(base, d) for d in ids])
        merged = (layout(df) if layout else df).localCheckpoint()
        rows = merged.count()
        new_hw = max([hw] + ids)
        swap(fs, HPath, live, merged, folded=new_hw)
        self.gc(fs, HPath, base, new_hw)
        return {"rows": rows, "deltas_folded": len(ids), "high_water": new_hw}


MINHASH_DELTAS = DeltaLog("_BANDDELTA-", "delta-")
IVF_DELTAS = DeltaLog("_IVFDELTA-", "delta-")
PQ_DELTAS = DeltaLog("_PQDELTA-", "codes-delta-")
