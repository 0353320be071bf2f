"""Pins: materialized frames that own their data.

A pin is a DataFrame whose rows sit in Spark's columnar in-memory cache
and whose logical plan is one opaque RDD scan: the RDD its source plan
computed. It reads neither the files nor the frames it was computed from
by name, so two things follow.

- A write to a directory the pin was read from does not touch it. Spark
  recaches every cached plan that scans a written path after each write
  (``CacheManager.recacheByPath``), and every cached plan that reads a
  frame being unpersisted; a cached plan over the index store, or over a
  mutation batch, would drop its blocks and recompute from the new file
  listing or the batch's source on its next use.
- A plan over pins stays as deep as the pins, however many pins came
  before them: a pin built from older pins does not carry their plans.

When a pin's cache is gone — it was freed while a lazy DataFrame still
reads it, or ``spark.catalog.clearCache()`` dropped it — Spark recomputes
it from the RDD's lineage, as it was when the pin was built: from the
shuffle outputs and broadcasts Spark still holds for that lineage, else
from the batches and store files it was computed from. A source that is
gone since (a store file that maintenance deleted, a released
checkpoint) and that no held shuffle output covers makes that recompute
fail. A flushed index (``SearchEngine.flush_indexes``) is the durable
copy.

The lineage of a pin built from pins carries theirs, so it grows with
every pin in the chain. ``pin(df, checkpoint=True)`` cuts it: the rows
are written once to a local-disk checkpoint and the pin's lineage starts
there. The checkpoint is row-format, about ten times the columnar size,
and is left to Spark's ContextCleaner, which frees it once no plan
references it (after a JVM GC), so a lazy reader can always recompute
from it; a folded index base is the one pin that takes it.

Pins have owners: ``Pins.take`` makes a pin with one owner, ``share``
adds one (a PIT or scroll handle co-owning an index's frames) and
``free`` drops one, releasing the cache when none is left. The cache is
``MEMORY_AND_DISK``: under memory pressure it spills, it is not dropped.
``release_checkpoint`` frees a superseded ``localCheckpoint`` at once.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def pin(df: DataFrame, checkpoint: bool = False) -> DataFrame:
    """Materialize ``df`` as a pin: one action computes the rows and
    builds the columnar cache over the RDD that computed them, or, with
    ``checkpoint``, over a local-disk checkpoint of the rows."""
    spark = df.sparkSession
    if checkpoint:
        src = df.localCheckpoint(eager=False,
                                 storageLevel=StorageLevel.DISK_ONLY)
    else:
        src = DataFrame(spark._jsparkSession.internalCreateDataFrame(
            df._jdf.queryExecution().toRdd(), df._jdf.schema(), False),
            spark)
    pinned = src.cache()
    pinned.count()
    return pinned


def release_checkpoint(df: DataFrame | None) -> None:
    """Release the blocks of a ``localCheckpoint``'s RDD (its analyzed
    plan is a ``LogicalRDD`` over the checkpointed RDD) at once, instead
    of when a JVM GC feeds the ContextCleaner. Only for checkpoints that
    no plan will read again: a checkpoint cannot be recomputed once its
    blocks are gone. A frame whose plan is not a ``LogicalRDD`` is left
    alone, and a failure of the internal API degrades to the GC-driven
    release."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — degrade to GC-driven release
        pass


class Pins:
    """The owner counts of the pins one owner set took. Frames it did
    not take (a disk-backed index base) pass through ``share`` and
    ``free`` untouched."""

    def __init__(self) -> None:
        self._owners: dict[int, list] = {}   # id(pin) -> [pin, owners]
        self._lock = threading.Lock()

    def take(self, df: DataFrame, checkpoint: bool = False) -> DataFrame:
        """Pin ``df`` with one owner."""
        pinned = pin(df, checkpoint)
        with self._lock:
            self._owners[id(pinned)] = [pinned, 1]
        return pinned

    def share(self, df: DataFrame) -> None:
        with self._lock:
            entry = self._owners.get(id(df))
            if entry is not None:
                entry[1] += 1

    def free(self, df: DataFrame | None) -> None:
        """Drop one owner; the last one releases the cache."""
        with self._lock:
            entry = self._owners.get(id(df))
            if entry is None:
                return
            entry[1] -= 1
            if entry[1] > 0:
                return
            del self._owners[id(df)]
        df.unpersist()
