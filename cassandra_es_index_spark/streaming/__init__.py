"""Streaming/incremental indexing (SURVEY.md §2.8).

``indexer`` — mutation-stream → index-store upsert via ``foreachBatch``:
last-writer-wins per key inside a batch (W3), partition-delete-only
tombstone policy (W7), empty-update-is-not-delete (UCS-4927), analytic
mode (W8), TTL carry-through (W6).
``windows`` — watermark + tumbling/sliding/session windows (W11
superset — absent in the reference, first-class here).
"""

from cassandra_es_index_spark.streaming.indexer import (
    MutationIndexer, apply_mutation_batch, release_batch,
)

__all__ = ["MutationIndexer", "apply_mutation_batch", "release_batch"]
