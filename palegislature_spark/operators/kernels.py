"""The one Arrow-kernel seam: every Python kernel in the engine runs
through :func:`map_batches`, the only caller of
``DataFrame.mapInPandas``.  A kernel supplies a per-batch function from
a pandas frame of its input columns to its output columns; the seam
owns the rest, with these policies:

* **One transport.** ``mapInPandas``: Arrow batches in, one pandas frame
  per non-empty input batch out, under the declared schema.  Kernels
  never see a zero-row frame.
* **Projection before any exchange.** The seam selects the columns the
  kernel reads before it repartitions or maps: ``mapInPandas`` is opaque
  to column pruning, so any other column would be shuffled and shipped
  to Python for nothing.
* **Fan-out gate.** ``fan_out_by=<id column>`` repartitions by that
  column only when the scan has fewer partitions than
  ``defaultParallelism``.  Small parquet inputs arrive as ONE scan
  partition, which would serialize a heavy per-row kernel into one
  Python worker (measured 2x on binary_video_fingerprint at sf0.1); a
  scan that is already parallel (a real corpus, the 10x/100x replicas)
  skips the extra full shuffle.  Kernels opt in: media synthesis,
  SimHash and BPE do; winnow's kernel is light enough that the fan-out
  measured as a loss (numbers at its call site).
* **Bounded memo.** :class:`TaskMemo`, built per task through the
  ``setup`` hook, stores at most ``MEMO_CAP`` entries and past that
  computes without storing, so an adversarial vocabulary costs
  recomputation, never unbounded worker memory.  An entry is a word
  plus a BPE token list (~300-500 bytes with dict overhead) or a
  SimHash md5 int (~150 bytes): a full memo is ~20-35 MB per Python
  worker.  Corpora repeat their vocabulary (Zipf), so the frequent
  words arrive first and the cap binds only on the long tail.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEMO_CAP = 1 << 16  # entries per task


class TaskMemo:
    """Per-task ``key -> value`` memo, bounded at ``MEMO_CAP`` entries.
    ``compute`` must be deterministic and never return None."""

    __slots__ = ("_entries",)

    def __init__(self) -> None:
        self._entries: dict = {}

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key, compute: Callable[[Any], Any]):
        value = self._entries.get(key)
        if value is None:
            value = compute(key)
            if len(self._entries) < MEMO_CAP:
                self._entries[key] = value
        return value


def map_batches(
    df: DataFrame,
    cols: Sequence[str],
    schema: T.StructType,
    batch_fn: Callable[..., Mapping[str, Any]],
    setup: Callable[[], Any] | None = None,
    fan_out_by: str | None = None,
) -> DataFrame:
    """Run ``batch_fn`` over the Arrow batches of ``df[cols]``.

    ``batch_fn(pdf)`` — or ``batch_fn(pdf, setup())`` with ``setup``
    called once per task — returns the output columns by name."""
    src = df.select(*cols)
    if (
        fan_out_by is not None
        and src.rdd.getNumPartitions()
        < src.sparkSession.sparkContext.defaultParallelism
    ):
        src = src.repartition(F.col(fan_out_by))

    def gen(batches):
        import pandas as pd

        state = setup() if setup is not None else None
        for pdf in batches:
            if len(pdf):
                out = batch_fn(pdf) if setup is None else batch_fn(pdf, state)
                yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema)
