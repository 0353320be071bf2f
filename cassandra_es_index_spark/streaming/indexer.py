"""Incremental indexing: mutation stream → index-store upserts.

The reference indexes each Cassandra mutation through per-write Indexer
hooks (ref indexers/EsIndexer.java:59-79); in Spark the equivalent is a
micro-batch ``foreachBatch`` applying the whole batch as one merge.
Semantics carried over (SURVEY.md §2.8):

- W1 upsert-per-mutation, last-writer-wins at the index
- W3 per-key concurrency: the reference serializes writers per key with an
  interned lock (ref ElasticIndex.java:449-458); here a window picks the
  single latest mutation per key inside the batch — deterministic
  one-writer-per-key without any lock. Ties at equal ``ts`` break by a
  total order: ``partition_delete`` wins (Cassandra's tombstone-wins
  rule), then the upsert whose row has the greatest JSON serialization
  (the store's ``_dedupe_batch`` rule), and ``empty_update`` is last so it
  never hides an update
- W7 tombstone policy: ONLY partition deletes propagate; range tombstones
  and row deletes are ignored, and an empty update is NOT a delete
  (UCS-4927, ref indexers/NoOpIndexer.java:31-56,
  EsSecondaryIndex.java:225-227)
- W8 analytic mode: ``es-analytic-mode=true`` drops the delete branch
  entirely (ref EsSecondaryIndex.java:413)
- W2 async vs sync ack: a micro-batch commit IS the sync barrier; async
  fire-and-forget corresponds to not awaiting the streaming epoch.
- W4/W5 (log-replay skip, replica dedup): exactly-once checkpointing makes
  them moot; a double-delivering source's identical rows tie in the W3
  window's total order and one of them survives.

The batch is resolved (W3, W7, W8) ONCE and pinned: the store's single
generation, the postings delta and the change set all read that pin, so
they agree on every winner and the batch source is evaluated once.

Mutation batch layout (FIXTURES.md F4): key columns + payload columns +
``op`` ∈ {insert, update, partition_delete, empty_update} + event-time
``ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_es_index_spark.docmodel import DOC_ID, doc_id_column
from cassandra_es_index_spark.indexstore import ParquetIndexStore

OP = "op"
UPSERT_OPS = ("insert", "update")
DELETE_OP = "partition_delete"
EMPTY_OP = "empty_update"


def apply_mutation_batch(store: ParquetIndexStore, batch: DataFrame,
                         ts_col: str = "ts") -> dict[str, DataFrame | None]:
    """Apply one micro-batch of mutations to the index store.

    Returns the effective change set ``{"upserts": df|None, "deletes":
    df|None, "batch": df}`` (post W3/W7/W8 filtering) so the caller can
    maintain derived state — e.g. the search engine's postings indexes —
    incrementally instead of rebuilding from the full corpus. ``upserts``
    and ``deletes`` are projections of ``batch``, the resolved batch
    pinned in executor cache; the caller releases it with
    ``release_batch`` once its derived state is materialized
    (``refresh_search_view`` does)."""
    spec = store.spec
    keys = spec.key_columns
    cfg = spec.config()

    # W3: single writer per key — keep only the latest mutation per key,
    # ties broken by the total order in the module docstring.
    rank = (F.when(F.col(OP) == DELETE_OP, 0)
             .when(F.col(OP) == EMPTY_OP, 2).otherwise(1))
    w = Window.partitionBy(*keys).orderBy(
        F.desc(ts_col), rank, F.desc(F.to_json(F.struct(*batch.columns))))
    latest = (batch.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") == 1)
                   .drop("_rn"))

    # W7: empty updates are dropped entirely (not deletes, not upserts).
    latest = latest.where(F.col(OP) != EMPTY_OP)
    # W8: analytic mode retains documents on delete.
    if cfg.analytic_mode:
        latest = latest.where(F.col(OP) != DELETE_OP)
    latest = latest.cache()
    counts = dict(latest.groupBy(OP).count().collect())

    upserts = deletes = None
    if any(counts.get(op) for op in UPSERT_OPS):
        upserts = (latest.where(F.col(OP).isin(*UPSERT_OPS))
                         .drop(OP, ts_col))
    if counts.get(DELETE_OP):
        deletes = (latest.where(F.col(OP) == DELETE_OP)
                         .select(doc_id_column(spec).alias(DOC_ID)))
    store.write_batch(upserts, deletes)
    return {"upserts": upserts, "deletes": deletes, "batch": latest}


def release_batch(changes: dict) -> None:
    """Drop the batch pin of a change set from ``apply_mutation_batch``
    (other change sets carry none)."""
    if changes.get("batch") is not None:
        changes["batch"].unpersist()


class MutationIndexer:
    """foreachBatch adapter: ``indexer.start(stream_df)`` upserts every
    micro-batch into the store (exactly-once via the stream checkpoint).

    ``on_batch(changes)``, when given, receives each batch's effective
    change set — the facade uses it to refresh the search view and update
    postings incrementally per micro-batch instead of on a manual cadence
    — and owns its batch pin (``release_batch``); without it the pin is
    released here.
    """

    def __init__(self, store: ParquetIndexStore, ts_col: str = "ts",
                 on_batch=None):
        self.store = store
        self.ts_col = ts_col
        self.on_batch = on_batch

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:  # noqa: ARG002
        changes = apply_mutation_batch(self.store, batch, self.ts_col)
        if self.on_batch is not None:
            self.on_batch(changes)
        else:
            release_batch(changes)

    def start(self, stream_df: DataFrame, checkpoint: str,
              trigger_seconds: int | None = None):
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint)
                  .outputMode("update"))
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()
