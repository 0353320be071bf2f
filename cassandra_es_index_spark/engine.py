"""Engine facade — the one-object surface a user of the reference plugin
switches to.

Ties together the pieces that the reference exposes through CQL + JMX
(SURVEY.md §3): register/build (CREATE CUSTOM INDEX + rebuild_index),
search (`SELECT … WHERE query='…'`), incremental indexing (write path),
and the scheduled maintenance verbs (TTL sweep, segment retention, purge,
compaction). Each method delegates to the focused module; nothing here
adds semantics.

    engine = CassandraEsIndexEngine(spark, index_root="/data/indexes")
    engine.register(df, TableSpec("emails", ["id"]), build=True)
    engine.search("emails", "body:cassan*")
    engine.apply_mutations("emails", mutation_batch)
    engine.maintain("emails", now_epoch_s=..., retention_ms=...)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cassandra_es_index_spark.catalog import TableSpec
from cassandra_es_index_spark.docmodel import base_rows_view, build_documents
from cassandra_es_index_spark.indexstore import ParquetIndexStore
from cassandra_es_index_spark.search import SearchEngine
from cassandra_es_index_spark.streaming.indexer import (
    MutationIndexer, apply_mutation_batch, release_batch,
)


class CassandraEsIndexEngine:
    def __init__(self, spark: SparkSession, index_root: str):
        self.spark = spark
        self.index_root = index_root
        self.search_engine = SearchEngine(spark)
        self._stores: dict[str, ParquetIndexStore] = {}

    # -- lifecycle ----------------------------------------------------------

    def register(self, df: DataFrame, spec: TableSpec,
                 build: bool = False,
                 event_time_col: str | None = None) -> ParquetIndexStore:
        """Register a base table for search; optionally bulk-build the
        persistent index (ref getInitializationTask / EsIndexBuilder)."""
        self.search_engine.register(df, spec)
        store = ParquetIndexStore(
            self.spark, os.path.join(self.index_root, spec.name), spec,
            event_time_col=event_time_col)
        self._stores[spec.name] = store
        if build:
            store.build(df, truncate_first=bool(
                spec.config().get("truncate-rebuild")))
        return store

    def store(self, table: str) -> ParquetIndexStore:
        return self._stores[table]

    # -- query path ---------------------------------------------------------

    def search(self, table: str, query: str, **kw) -> DataFrame:
        return self.search_engine.search(table, query, **kw)

    def validate(self, table: str, query: str) -> str | None:
        return self.search_engine.validate(table, query)

    def sql(self, statement: str) -> DataFrame:
        """Generic passthrough (S15): the reference forwards arbitrary REST
        bodies to ES for ops tooling (ref GenericRequest.java:27-48,
        EsJmxBridge.java:116-131). Registered tables are temp views, so any
        diagnostic/aggregation a user would send raw to ES is a SQL
        statement here — same escape hatch, strictly more expressive."""
        return self.spark.sql(statement)

    # -- write path ---------------------------------------------------------

    def apply_mutations(self, table: str, batch: DataFrame,
                        ts_col: str = "ts") -> None:
        changes = apply_mutation_batch(self._stores[table], batch, ts_col)
        self.refresh_search_view(table, changes=changes)

    def stream_mutations(self, table: str, stream: DataFrame,
                         checkpoint: str, refresh_each_batch: bool = True,
                         **kw):
        """Continuous indexing. With ``refresh_each_batch`` (default) the
        search view — including any postings indexes, updated
        incrementally — follows every micro-batch, matching the
        reference's per-write ES indexing; pass False to refresh manually
        via ``refresh_search_view`` at a coarser cadence."""
        on_batch = ((lambda changes:
                     self.refresh_search_view(table, changes=changes))
                    if refresh_each_batch else None)
        return MutationIndexer(self._stores[table], on_batch=on_batch).start(
            stream, checkpoint, **kw)

    def refresh_search_view(self, table: str,
                            changes: dict | None = None) -> None:
        """Point the search surface at the store's current resolved state
        so search sees writes — in the reference, search hits ES, which IS
        the mutated index.

        With ``changes`` (the batch returned by ``apply_mutation_batch``),
        postings indexes are maintained INCREMENTALLY: only the batch is
        tokenized — its documents built once, from the pinned batch, which
        is released once the index deltas are materialized — and only its
        doc-ids' postings rows are replaced, so
        term search stays index-served under a steady mutation stream
        (the reference's ES updates its inverted index per-doc the same
        way, ref ElasticIndex.java:603-614). Without ``changes`` (e.g. a
        caller-cadenced streaming refresh), postings fall back to full
        invalidation.

        J1 row loading is pointed at store-resolved rows union'd with the
        untouched base remainder, so inserted documents — absent from the
        registered base snapshot — still load a row (the reference reads
        them from Cassandra, which holds the write)."""
        store = self._stores[table]
        if store.exists():
            resolved = store.read().drop("segment")
            base, spec = self.search_engine.catalog.get(table)
            if changes is not None and self.search_engine.has_postings(table):
                upserts = changes.get("upserts")
                new_docs = (build_documents(upserts, spec)
                            if upserts is not None else None)
                self.search_engine.apply_delta(
                    table, resolved, new_docs, changes.get("deletes"))
            else:
                self.search_engine.set_documents(table, resolved)
            self.search_engine.set_row_source(
                table, self._row_source_view(base, spec, resolved))
        if changes is not None:
            # the index deltas are materialized: the batch pin is done
            release_batch(changes)

    def _row_source_view(self, base: DataFrame, spec: TableSpec,
                         resolved_docs: DataFrame) -> DataFrame:
        """Row-loading side after mutations: store rows (current values,
        including inserts) plus base rows whose keys the store has never
        seen. Falls back to the plain base when the documents cannot be
        projected onto the base schema."""
        converted = base_rows_view(resolved_docs, base)
        if converted is None:
            return base
        keys = spec.key_columns
        leftover = base.join(resolved_docs.select(*keys).distinct(),
                             on=keys, how="left_anti")
        return converted.unionByName(leftover)

    # -- maintenance (the reference's schedulers, caller-cadenced) ----------

    def maintain(self, table: str, now_epoch_s: int | None = None,
                 now_ms: int | None = None,
                 retention_ms: int | None = None,
                 compact_max_files: int | None = None,
                 flush_postings_path: str | None = None) -> dict[str, object]:
        """One maintenance pass: TTL sweep (60 s cadence in the reference),
        segment retention, purge of empty segments, optional compaction,
        and (with ``flush_postings_path``) a durable-index flush: every
        index of the table checkpoints base+overlay to a new on-disk
        generation under a committed manifest
        (``SearchEngine.flush_indexes``) — ES's segment-flush analogue on
        the maintenance cadence.

        The search view is refreshed afterwards — maintenance changes the
        store's content (TTL/retention) and its FILE SET (compaction
        rewrites, segment drops), so a pre-maintenance documents snapshot
        would be stale or reference deleted files. A TTL-only sweep rides
        the incremental postings path (the expired ids are known); any
        structural change (drop/purge/compact) takes the full refresh.
        The flush runs LAST so it checkpoints the post-maintenance state."""
        store = self._stores[table]
        report: dict[str, object] = {}
        expired_ids = None
        if now_epoch_s is not None:
            expired_ids = store.delete_expired(now_epoch_s)
            report["ttl_swept"] = True
        structural = False
        if now_ms is not None and retention_ms is not None:
            expired = store.expired_segments(now_ms, retention_ms)
            store.drop_segments(expired)
            report["segments_dropped"] = expired
            structural = structural or bool(expired)
        report["segments_purged"] = store.purge_empty_segments()
        structural = structural or bool(report["segments_purged"])
        if compact_max_files is not None:
            report["segments_compacted"] = store.compact_segments(
                compact_max_files)
            structural = structural or bool(report["segments_compacted"])
        ttl_deleted = (expired_ids is not None
                       and expired_ids.limit(1).count() > 0)
        if table in self.search_engine.catalog.names():
            if structural:
                self.refresh_search_view(table)
            elif ttl_deleted:
                self.refresh_search_view(
                    table, changes={"upserts": None, "deletes": expired_ids})
        if flush_postings_path is not None:
            flushed = self.search_engine.flush_indexes(
                table, flush_postings_path)
            report["postings_flushed"] = flushed["postings"]
            report["indexes_flushed"] = flushed
        return report
