"""Parquet-backed index table with segment lifecycle.

Re-expresses the reference's index lifecycle (SURVEY.md §2.1 S3-S12, §2.8
W6/W9/W10) on a partitioned parquet layout:

- **Segmentation** — the ES per-period index (``<alias>_index@<suffix>``,
  ref DefaultIndexManager.java:105-163) becomes a ``segment`` partition
  column; the alias spanning segments is simply the table path. Two
  policies, mirroring the two reference index managers:
  * date-suffix segments OFF/YEAR/MONTH/DAY/HOUR (DefaultIndexManager)
  * fixed-width epoch frames of ``segment-size`` ms (IndexDropManager.java:92-99)
- **Upsert** (S3, ``doc_as_upsert``, ref ElasticIndex.java:603-614) —
  log-structured merge-on-read: each batch APPENDS delta files tagged with
  a generation number; existing files are never rewritten, so write cost
  is O(batch) regardless of segment size (the reference's per-doc HTTP
  upsert has the same property). Reads resolve last-writer-wins per
  ``_id`` and drop tombstones; the resolution joins only the (small)
  delta against the base, so base rows are never shuffled. Because the
  shadow join is global on ``_id``, a document whose segment assignment
  changes (event-time update) correctly hides its stale copy in the old
  segment. ``compact_deltas`` folds deltas back into gen-0 base files —
  the analogue of ES segment merging; with Delta/Iceberg on the cluster
  this whole mechanism maps 1:1 to ``MERGE INTO`` + table compaction.
- **Deletes** (S5) and **delete-by-query / doc-TTL expiry** (S6) — O(batch)
  tombstone appends under a dedicated ``segment=_tombstones`` partition
  (ref ElasticIndex.java:642-649, 825-836).
- **Segment-level expiry** (W10) — drop whole segment directories older
  than the retention horizon (ref IndexDropManager.java:154-168).
- **Truncate / drop / purge-empty** (S7, S8, A2) — directory-level ops.

Doc-identity column is ``_id`` (ref doc id); all reads prune on the
``segment`` partition column automatically via Catalyst.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_es_index_spark.catalog import TableSpec
from cassandra_es_index_spark.docmodel import (
    DOC_ID, INDEXATION_FIELD, TTL_FIELD, build_documents,
)

SEGMENT = "segment"
GEN = "_gen"            # 0 = compacted base, >0 = delta generation
DELETED = "_deleted"    # tombstone marker
TOMBSTONE_SEG = "_tombstones"
_GEN_FILE = "_delta_gen"  # leading underscore → invisible to parquet reads

# date-suffix formats per segmentation level (ref DefaultIndexManager.java:48)
_SEGMENT_FMT = {
    "YEAR": "yyyy",
    "MONTH": "yyyy-MM",
    "DAY": "yyyy-MM-dd",
    "HOUR": "yyyy-MM-dd-HH",
}


class ParquetIndexStore:
    """One index table = one parquet directory partitioned by ``segment``."""

    def __init__(self, spark: SparkSession, path: str, spec: TableSpec,
                 event_time_col: str | None = None):
        self.spark = spark
        self.path = path
        self.spec = spec
        self.event_time_col = event_time_col
        cfg = spec.config()
        self.mode = str(cfg.get("index-segment")).upper()   # OFF|YEAR|…|FRAME
        self.segment_size_ms = int(cfg.get("segment-size"))
        # auto-fold deltas once this many delta generations accumulate
        # (bounds read-time merge cost; 0 disables)
        self.compact_every = int(cfg.get("delta-compact-gens") or 32)
        # the stored documents' schema (partition column excepted), kept
        # from the first read so later reads skip the footer-inference
        # job; `_check_schema` forbids drift, and every whole-store
        # (re)write forgets it
        self._schema: T.StructType | None = None

    # -- segment assignment -------------------------------------------------

    def segment_column(self) -> Column:
        """Segment suffix for each document (ref DefaultIndexManager date
        formats; FRAME = IndexDropManager fixed-width epoch frames)."""
        if self.mode == "OFF" or self.event_time_col is None:
            return F.lit("all")
        ts = F.col(self.event_time_col)
        if self.mode in _SEGMENT_FMT:
            return F.date_format(ts, _SEGMENT_FMT[self.mode])
        if self.mode == "FRAME":
            frame = F.floor(F.unix_millis(ts) / F.lit(self.segment_size_ms))
            return frame.cast("string")
        if self.mode == "CUSTOM":
            return F.lit(str(self.spec.config().get("segment-name") or "custom"))
        raise ValueError(f"unknown index-segment mode {self.mode!r}")

    # -- generation counter --------------------------------------------------

    def _current_gen(self) -> int:
        try:
            with open(os.path.join(self.path, _GEN_FILE)) as f:
                return int(f.read().strip() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def _set_gen(self, gen: int) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, _GEN_FILE), "w") as f:
            f.write(str(gen))

    def _next_gen(self) -> int:
        gen = self._current_gen() + 1
        self._set_gen(gen)
        return gen

    @staticmethod
    def _tag(docs: DataFrame, gen: int, deleted: bool = False) -> DataFrame:
        return (docs.withColumn(GEN, F.lit(gen).cast("long"))
                    .withColumn(DELETED, F.lit(deleted)))

    # -- bulk build (S1 → S3 path) ------------------------------------------

    def build(self, base: DataFrame, truncate_first: bool = False) -> None:
        """Full index (re)build from the base table — the reference's
        ``EsIndexBuilder.build()`` (ref EsIndexBuilder.java:60-93) with
        optional ``truncate-rebuild``."""
        if truncate_first:
            self.truncate()
        docs = build_documents(base, self.spec).withColumn(
            SEGMENT, self.segment_column())
        self._schema = None
        (self._tag(docs, 0).write.mode("overwrite")
             .partitionBy(SEGMENT).parquet(self.path))
        self._set_gen(0)

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            name.startswith(f"{SEGMENT}=") for name in os.listdir(self.path))

    def _raw(self) -> DataFrame:
        """The stored rows, generations and tombstones included. Only the
        first read infers the schema from the files; the partition
        column's type is inferred from the directories on each read,
        since the tombstone segment changes it."""
        if self._schema is not None:
            return self.spark.read.schema(self._schema).parquet(self.path)
        raw = self.spark.read.parquet(self.path)
        self._schema = T.StructType(
            [f for f in raw.schema.fields if f.name != SEGMENT])
        return raw

    def read(self) -> DataFrame:
        """Resolved view: last writer per ``_id`` wins, tombstones dropped.

        With no outstanding deltas this is a plain partition-pruned scan.
        With deltas, only the delta rows (bounded by ``compact_deltas``
        cadence) are shuffled/broadcast; base rows pass through one
        anti-join against the delta id set.
        """
        return self._resolve(self._raw())

    def _resolve(self, raw: DataFrame) -> DataFrame:
        if self._current_gen() == 0:
            return raw.drop(GEN, DELETED)
        base = raw.where(F.col(GEN) == 0)
        delta = raw.where(F.col(GEN) > 0)
        delta_ids = delta.select(DOC_ID).distinct()
        # a generation's tombstones rank first: a same-generation upsert
        # and tombstone of one _id resolve to deleted, deterministically
        w = Window.partitionBy(DOC_ID).orderBy(F.desc(GEN), F.desc(DELETED))
        latest = (delta.withColumn("_rn", F.row_number().over(w))
                       .where(F.col("_rn") == 1)
                       .where(~F.col(DELETED))
                       .drop("_rn", GEN, DELETED))
        survivors = base.join(delta_ids, on=DOC_ID, how="left_anti") \
                        .drop(GEN, DELETED)
        return survivors.unionByName(latest)

    def count(self) -> int:
        return self.read().count() if self.exists() else 0

    # -- upsert / delete (S3, S5) -------------------------------------------

    def write_batch(self, batch: DataFrame | None,
                    ids: DataFrame | None) -> None:
        """Append one write batch as ONE delta generation: ``batch``'s
        upsert documents and a tombstone for each ``_id`` in ``ids``, in a
        single parquet write. The store schema is read once (schema check
        and tombstone columns alike) and auto-compaction is checked once,
        so ``delta-compact-gens`` counts batches. Should a batch upsert and
        delete one ``_id``, the tombstone wins (``_resolve`` ranks a
        generation's tombstones first). On a store with no files yet, the
        documents become the gen-0 base and the tombstones shadow
        nothing."""
        docs = None if batch is None else self._batch_docs(batch)
        if not self.exists():
            if docs is not None:
                if ids is not None:
                    docs = docs.join(ids.select(DOC_ID), DOC_ID, "left_anti")
                self._schema = None
                (self._tag(docs, 0).write.mode("overwrite")
                     .partitionBy(SEGMENT).parquet(self.path))
                self._set_gen(0)
            return
        if docs is None and ids is None:
            return
        stored = self._raw().schema
        if docs is not None:
            self._check_schema(docs, stored)
        gen = self._next_gen()
        parts = []
        if docs is not None:
            parts.append(self._tag(docs, gen))
        if ids is not None:
            parts.append(self._tag(self._tombstones(ids, stored), gen,
                                   deleted=True))
        out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        out.write.mode("append").partitionBy(SEGMENT).parquet(self.path)
        self._maybe_autocompact()

    def upsert(self, batch: DataFrame) -> None:
        """``doc_as_upsert`` semantics (ref ElasticIndex.java:603-614):
        replace-or-insert by ``_id``. Appends one delta generation —
        existing files are untouched (byte-identical), written bytes are
        O(batch). Stale copies anywhere in the table (including other
        segments, when an event-time change moves a document) are shadowed
        at read time and physically removed by ``compact_deltas``.

        ``batch`` may be a base-table slice (documents get built here) or
        already-built documents carrying ``_id`` (e.g. from a sink
        fallback)."""
        self.write_batch(batch, None)

    def _batch_docs(self, batch: DataFrame) -> DataFrame:
        """Upsert documents of a write batch: built from a base-table
        slice unless they already carry ``_id``, segment-assigned, one row
        per ``_id``."""
        if DOC_ID not in batch.columns:
            missing = [k for k in self.spec.key_columns
                       if k not in batch.columns]
            if missing:
                # fuzz catch (r14.75): build_documents crashed with an
                # unresolved-column AnalysisException instead of a
                # typed write-contract error
                raise ValueError(
                    f"upsert batch for {self.spec.name!r} is missing "
                    f"key column(s) {missing}")
        docs = batch if DOC_ID in batch.columns else build_documents(batch, self.spec)
        if SEGMENT not in docs.columns:
            docs = docs.withColumn(SEGMENT, self.segment_column())
        return self._dedupe_batch(docs)

    @staticmethod
    def _dedupe_batch(docs: DataFrame) -> DataFrame:
        """One row per ``_id`` within a batch. All rows of one batch share a
        generation, so without this a duplicated id would pick a
        nondeterministic winner at read time (and could flip after
        ``compact_deltas``). The winner is chosen by the lexicographically
        greatest JSON serialization of the full row — arbitrary but
        deterministic, so repeated reads and compaction always agree."""
        w = Window.partitionBy(DOC_ID).orderBy(
            F.desc(F.to_json(F.struct(*docs.columns))))
        return (docs.withColumn("_batch_rn", F.row_number().over(w))
                    .where(F.col("_batch_rn") == 1)
                    .drop("_batch_rn"))

    def _check_schema(self, docs: DataFrame, stored: T.StructType) -> None:
        """Fail fast when an upsert batch's schema diverges from the store.

        ``spark.read.parquet`` without mergeSchema resolves the table schema
        from one representative footer, so a divergent batch would be
        written but its extra columns silently dropped (or read as null) on
        later reads — better to reject it at the write."""
        have = {(f.name, f.dataType.simpleString()) for f in stored.fields
                if f.name not in (GEN, DELETED, SEGMENT)}
        incoming = {(f.name, f.dataType.simpleString())
                    for f in docs.schema.fields if f.name != SEGMENT}
        if have != incoming:
            extra = sorted(n for n, _ in incoming - have)
            missing = sorted(n for n, _ in have - incoming)
            raise ValueError(
                f"upsert batch schema mismatch for {self.spec.name!r}: "
                f"batch-only {extra}, store-only {missing}")

    @staticmethod
    def _tombstones(ids: DataFrame, stored: T.StructType) -> DataFrame:
        """Tombstone rows for ``ids``: the document schema with every field
        but ``_id`` nulled, under the dedicated tombstone segment."""
        return ids.select(*[
            (F.col(DOC_ID) if f.name == DOC_ID else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in stored.fields if f.name not in (GEN, DELETED, SEGMENT)
        ]).withColumn(SEGMENT, F.lit(TOMBSTONE_SEG))

    def delete_ids(self, ids: DataFrame) -> None:
        """Single-doc deletes by ``_id`` (ref ElasticIndex.java:642-649);
        missing ids are a no-op, like the reference accepting 404 — the
        tombstone simply shadows nothing."""
        self.write_batch(None, ids)

    def bulk(self, ndjson: str) -> list[dict]:
        """ES ``_bulk`` analogue (r13): the NDJSON action surface the
        reference actually writes through (ref EsIndexBuilder's bulk
        requests / ElasticIndex.java:593-615). Parses action/metadata
        lines + source lines, resolves per-id LAST-action-wins within
        the batch (ES applies a bulk in order; one delta generation
        can't express an index-then-delete sequence, so the driver
        resolves the order first), applies everything as ONE batched
        upsert + ONE tombstone pass, and returns ES-bulk-shaped
        per-item results in request order:
        ``{"action", "_id", "result"|"error", "status"}``.

        Semantics per action:
        - ``index``: replace-or-insert → ``created``/``updated``;
        - ``create``: 409 item error when the id already exists (in
          the store or earlier in this batch);
        - ``update``: ``{"doc": {...partial...}}`` merges onto the
          existing source (404 item error when missing; ``script``/
          ``upsert`` forms typed-reject — engine subset);
        - ``delete``: ``deleted``/``not_found`` (both non-errors,
          like ES).

        Scale shape: a bulk body is a BOUNDED batch by API contract
        (like scroll pages / percolate stored queries), so the parse,
        the id-existence probe (one ``isin``-pruned scan collecting ≤
        batch ids), and the update-target fetch are all O(batch)
        driver work; the writes stay the store's O(batch) delta
        appends. Source docs must match the base-table columns; specs
        with json-serialized fields typed-reject (their doc build is
        not invertible driver-side)."""
        import json as _json

        cfg = self.spec.config()
        if cfg.json_serialized_fields or cfg.json_flat_serialized_fields:
            raise ValueError(
                "bulk: specs with json-serialized fields are not "
                "supported (engine subset — the doc build is not "
                "invertible for partial updates)")
        lines = [ln for ln in ndjson.splitlines() if ln.strip()]
        items: list[list] = []   # [action, meta, source]
        i = 0
        while i < len(lines):
            try:
                obj = _json.loads(lines[i])
            except ValueError as e:
                raise ValueError(
                    f"bulk: malformed JSON on line {i + 1}") from e
            i += 1
            if not isinstance(obj, dict) or len(obj) != 1:
                raise ValueError(
                    "bulk: each action line must be a one-key object")
            (action, meta), = obj.items()
            if action not in ("index", "create", "update", "delete"):
                raise ValueError(f"bulk: unknown action {action!r}")
            meta = meta if isinstance(meta, dict) else {}
            src = None
            if action != "delete":
                if i >= len(lines):
                    raise ValueError(
                        f"bulk: action {action!r} is missing its "
                        "source line")
                src = _json.loads(lines[i])
                i += 1
                if action == "update":
                    if not isinstance(src, dict) or set(src) != {"doc"}:
                        raise ValueError(
                            "bulk update takes {'doc': {...}} only "
                            "(engine subset — script/upsert forms "
                            "change semantics silently)")
                    src = src["doc"]
                if not isinstance(src, dict):
                    raise ValueError("bulk: source must be an object")
            items.append([action, meta, src])

        # base source schema = the doc schema minus the engine fields
        sample = (self._raw() if self.exists() else None)
        if sample is None:
            raise ValueError("bulk: build the store first (the source "
                             "schema derives from it)")
        drop = {DOC_ID, INDEXATION_FIELD, TTL_FIELD, SEGMENT, GEN,
                DELETED}
        base_fields = [f_ for f_ in sample.schema.fields
                       if f_.name not in drop]
        base_schema = T.StructType(base_fields)
        base_cols = [f_.name for f_ in base_fields]

        def coerce(fld: T.StructField, v):
            if v is None:
                return None
            if isinstance(fld.dataType, (T.DoubleType, T.FloatType)):
                return float(v)
            if isinstance(fld.dataType, (T.LongType, T.IntegerType,
                                         T.ShortType, T.ByteType)):
                return int(v)
            if isinstance(fld.dataType, T.StringType):
                return str(v)
            return v     # timestamps/dates/bools pass through

        def to_row(src: dict) -> tuple:
            extra = set(src) - set(base_cols)
            if extra:
                raise ValueError(
                    f"bulk: unknown source fields {sorted(extra)} "
                    f"(store columns: {base_cols})")
            return tuple(coerce(f_, src.get(f_.name))
                         for f_ in base_fields)

        # synthesize ids for index/create sources with ONE local
        # doc-build (local relation — projection preserves row order)
        write_items = [(j, it) for j, it in enumerate(items)
                       if it[0] in ("index", "create")]
        ids_by_item: dict[int, str] = {}
        if write_items:
            rows = [to_row(it[2]) for _, it in write_items]
            probe = build_documents(
                self.spark.createDataFrame(rows, base_schema),
                self.spec)
            got = [r[0] for r in probe.select(DOC_ID).collect()]
            for (j, _), did in zip(write_items, got):
                ids_by_item[j] = did
        for j, it in enumerate(items):
            if it[0] in ("index", "create"):
                claimed = it[1].get("_id")
                if claimed is not None \
                        and str(claimed) != ids_by_item[j]:
                    # engine ids derive from the spec key columns — a
                    # contradicting metadata _id would be silently
                    # overridden (the no-silent-drops contract)
                    raise ValueError(
                        f"bulk: metadata _id {claimed!r} contradicts "
                        f"the key-derived id {ids_by_item[j]!r}")
            if it[0] in ("update", "delete"):
                did = it[1].get("_id")
                if did is None:
                    raise ValueError(
                        f"bulk: {it[0]} needs an '_id' in its "
                        "metadata")
                ids_by_item[j] = str(did)

        all_ids = sorted(set(ids_by_item.values()))
        present = {
            r[0] for r in self.read()
            .where(F.col(DOC_ID).isin(all_ids))
            .select(DOC_ID).collect()} if all_ids else set()
        # update targets need their current source fields
        upd_ids = sorted({ids_by_item[j] for j, it in enumerate(items)
                          if it[0] == "update"
                          and ids_by_item[j] in present})
        existing_src: dict[str, dict] = {}
        if upd_ids:
            for r in (self.read()
                      .where(F.col(DOC_ID).isin(upd_ids))
                      .select(DOC_ID, *base_cols).collect()):
                existing_src[r[0]] = {c: r[c] for c in base_cols}

        # walk in order: per-id running state, per-item results
        state: dict[str, dict | None] = {}   # id → source | None=del
        live = set(present)
        results: list[dict] = []
        for j, (action, _meta, src) in enumerate(items):
            did = ids_by_item[j]
            if action == "delete":
                found = did in live
                results.append({"action": action, "_id": did,
                                "result": ("deleted" if found
                                           else "not_found"),
                                "status": 200 if found else 404})
                state[did] = None
                live.discard(did)
                continue
            if action == "create" and did in live:
                results.append({"action": action, "_id": did,
                                "error": "version_conflict (document "
                                         "already exists)",
                                "status": 409})
                continue
            if action == "update":
                if did not in live:
                    results.append({"action": action, "_id": did,
                                    "error": "document missing",
                                    "status": 404})
                    continue
                # in-batch state wins over the store snapshot even when
                # it is an empty/all-falsy source — `or` would silently
                # merge onto the STALE store row; only absence (never
                # written this batch) falls through. state[did] can't be
                # None here: a delete clears `live` and update 404s.
                cur = (state[did] if did in state
                       else existing_src.get(did, {}))
                merged = dict(cur)
                extra = set(src) - set(base_cols)
                if extra:
                    raise ValueError(
                        f"bulk: unknown source fields {sorted(extra)}")
                merged.update(src)
                state[did] = merged
                results.append({"action": action, "_id": did,
                                "result": "updated", "status": 200})
                continue
            # index / create
            was_live = did in live
            state[did] = src
            live.add(did)
            results.append({
                "action": action, "_id": did,
                "result": ("updated" if action == "index" and was_live
                           else "created"),
                "status": 200 if action == "index" and was_live
                else 201})

        writes = [s for s in state.values() if s is not None]
        deletes = [d for d, s in state.items() if s is None]
        self.write_batch(
            self.spark.createDataFrame([to_row(s) for s in writes],
                                       base_schema) if writes else None,
            self.spark.createDataFrame([(d,) for d in deletes],
                                       f"{DOC_ID} string") if deletes else None)
        return results

    def delete_where(self, predicate: Column) -> DataFrame | None:
        """Delete-by-query (ref ElasticIndex.java:817-836): one column-
        pruned scan to find matching ids, then an O(matches) tombstone
        append — no segment rewrite.

        Returns the matched ``_id`` set, MATERIALIZED (eager local
        checkpoint) before the tombstones land — re-evaluating the lazy
        plan afterwards would read the post-tombstone state and resolve to
        empty. Callers use it to update derived state (postings deltas)
        incrementally."""
        if not self.exists():
            return None
        try:
            matched = self.read().where(predicate)
        except Exception as e:
            # fuzz catch (r14.75): a predicate referencing an unknown
            # column surfaced Spark's AnalysisException — re-raise as
            # the store's typed error (the delete-by-query contract)
            raise ValueError(
                f"delete_where predicate does not resolve against "
                f"{self.spec.name!r}: {e}") from e
        matches = (matched.select(DOC_ID).distinct()
                       .localCheckpoint(eager=True))
        self.write_batch(None, matches)
        return matches

    # -- TTL / retention (S6, W10, A2) --------------------------------------

    def delete_expired(self, now_epoch_s: int) -> DataFrame | None:
        """Doc-level TTL sweep: drop docs whose ``_cassandraTtl`` passed
        (ref ElasticIndex.java:825-836; 60 s cadence in the reference —
        cadence belongs to the caller's scheduler). Returns the expired
        ``_id`` set (see ``delete_where``)."""
        return self.delete_where(F.col(TTL_FIELD) <= F.lit(now_epoch_s))

    def expired_segments(self, now_ms: int, retention_ms: int) -> list[str]:
        """FRAME-mode segments entirely older than the retention horizon
        (ref IndexDropManager.deleteExpired, IndexDropManager.java:154-168)."""
        if self.mode != "FRAME" or not self.exists():
            return []
        horizon_frame = (now_ms - retention_ms) // self.segment_size_ms
        out = []
        for name in os.listdir(self.path):
            if name.startswith(f"{SEGMENT}="):
                value = name.split("=", 1)[1]
                if value.isdigit() and int(value) < horizon_frame:
                    out.append(value)
        return out

    def drop_segments(self, segments: list[str]) -> None:
        for seg in segments:
            shutil.rmtree(os.path.join(self.path, f"{SEGMENT}={seg}"),
                          ignore_errors=True)

    def purge_empty_segments(self) -> list[str]:
        """Drop segments with zero live rows (ref ElasticIndex.java:839-856,
        hourly in the reference). The tombstone segment is never purged
        here — ``compact_deltas`` clears it."""
        if not self.exists():
            return []
        counts = (self.read().groupBy(SEGMENT).count().collect())
        non_empty = {r[SEGMENT] for r in counts if r["count"] > 0}
        dropped = []
        for name in os.listdir(self.path):
            if name.startswith(f"{SEGMENT}="):
                seg = name.split("=", 1)[1]
                if seg not in non_empty and seg != TOMBSTONE_SEG:
                    dropped.append(seg)
        self.drop_segments(dropped)
        return dropped

    # -- compaction (SURVEY.md §7 hard-part 3) ------------------------------

    def delta_stats(self) -> dict[str, int]:
        """Outstanding merge-on-read state: generation counter + delta/
        tombstone row counts (monitoring surface)."""
        gen = self._current_gen()
        if gen == 0 or not self.exists():
            return {"gen": gen, "delta_rows": 0, "tombstones": 0}
        raw = self._raw().where(F.col(GEN) > 0)
        agg = raw.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col(DELETED), 1).otherwise(0)).alias("t")).first()
        return {"gen": gen, "delta_rows": agg["n"] or 0,
                "tombstones": agg["t"] or 0}

    def _maybe_autocompact(self) -> None:
        if self.compact_every and self._current_gen() >= self.compact_every:
            self.compact_deltas()

    def compact_deltas(self, target_files_per_segment: int = 1) -> list[str]:
        """Fold outstanding deltas/tombstones into gen-0 base files — the
        engine's ES-segment-merge analogue. Only segments that hold delta
        rows or shadowed/deleted base rows are rewritten; everything else
        stays byte-identical. Resets the generation counter, so subsequent
        reads are plain scans again.

        ``target_files_per_segment`` sizes the rewrite (1 is right for
        delta-sized segments; cluster deployments with large segments
        raise it so rewritten files stay near the ideal scan size)."""
        if not self.exists() or self._current_gen() == 0:
            return []
        raw = self._raw()
        delta = raw.where(F.col(GEN) > 0)
        delta_ids = delta.select(DOC_ID).distinct()
        base = raw.where(F.col(GEN) == 0)
        shadowed_segs = (base.join(delta_ids, on=DOC_ID, how="left_semi")
                             .select(SEGMENT).distinct())
        delta_segs = delta.select(SEGMENT).distinct()
        touched = sorted({r[SEGMENT] for r in
                          shadowed_segs.unionByName(delta_segs).collect()})
        data_segs = [s for s in touched if s != TOMBSTONE_SEG]
        if data_segs:
            resolved = (self._resolve(raw)
                        .where(F.col(SEGMENT).isin(data_segs))
                        .repartition(
                            max(1, target_files_per_segment * len(data_segs)),
                            F.col(SEGMENT)))
            self._rewrite_segments(self._tag(resolved, 0), data_segs)
        if TOMBSTONE_SEG in touched:
            self.drop_segments([TOMBSTONE_SEG])
        self._set_gen(0)
        return touched

    def segment_file_counts(self) -> dict[str, int]:
        if not self.exists():
            return {}
        out: dict[str, int] = {}
        for name in os.listdir(self.path):
            if name.startswith(f"{SEGMENT}="):
                seg_dir = os.path.join(self.path, name)
                n = len([f for f in os.listdir(seg_dir) if f.endswith(".parquet")])
                out[name.split("=", 1)[1]] = n
        return out

    def compact_segments(self, max_files: int = 8,
                         target_files: int = 1) -> list[str]:
        """Rewrite segments whose parquet-file count exceeds ``max_files``
        down to ``target_files``. Upsert-heavy workloads accrete one file
        set per delta generation; this folds deltas first (so the rewrite
        sees resolved rows), then bin-packs crowded segments. Returns
        every segment rewritten by either phase."""
        folded = [s for s in self.compact_deltas() if s != TOMBSTONE_SEG]
        crowded = [seg for seg, n in self.segment_file_counts().items()
                   if n > max_files]
        if crowded:
            data = (self._raw().where(F.col(SEGMENT).isin(crowded))
                        .repartition(target_files, F.col(SEGMENT)))
            self._rewrite_segments(data, crowded)
        return sorted(set(folded) | set(crowded))

    # -- truncate / drop (S7, S8) -------------------------------------------

    def truncate(self) -> None:
        self._schema = None
        if os.path.isdir(self.path):
            shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path, exist_ok=True)
        self._set_gen(0)

    def drop(self) -> None:
        self._schema = None
        shutil.rmtree(self.path, ignore_errors=True)

    # -- snapshot / restore (ES _snapshot analogue) ---------------------------

    def snapshot(self, dest: str) -> dict:
        """Copy the store's current files (every segment partition plus
        the generation marker) to ``dest`` — the ES ``_snapshot`` API
        analogue. Point-in-time consistency comes from the
        log-structured layout: data files are immutable once written
        and concurrent upserts only APPEND new-generation files, so a
        file copy is always a consistent prefix of the log. Returns
        ``{"files": n, "gen": g}``."""
        if not self.exists():
            raise ValueError(f"nothing to snapshot at {self.path!r}")
        if os.path.exists(dest):
            raise ValueError(f"snapshot destination {dest!r} already "
                             "exists — snapshots are immutable, pick a "
                             "new name")
        shutil.copytree(self.path, dest)
        n_files = sum(len(fs) for _, _, fs in os.walk(dest))
        return {"files": n_files, "gen": self._current_gen()}

    def restore(self, src: str, overwrite: bool = False) -> None:
        """Replace this store's contents with a snapshot taken by
        :meth:`snapshot`. Refuses to clobber an existing store unless
        ``overwrite=True`` (the ES restore-into-existing-index error);
        a directory without the generation marker is not a snapshot of
        this store format and is typed-rejected."""
        if not os.path.isfile(os.path.join(src, _GEN_FILE)):
            raise ValueError(f"{src!r} is not an index-store snapshot "
                             f"(missing {_GEN_FILE})")
        if self.exists():
            if not overwrite:
                raise ValueError(f"store {self.path!r} already exists; "
                                 "pass overwrite=True to replace it")
            shutil.rmtree(self.path, ignore_errors=True)
        self._schema = None
        shutil.copytree(src, self.path)

    # -- internals ----------------------------------------------------------

    def _rewrite_segments(self, data: DataFrame, segments: list[str]) -> None:
        """Overwrite only the given segment partitions (the compaction write
        path: untouched segments are never read or written)."""
        staged = data.where(F.col(SEGMENT).isin(segments)).cache()
        try:
            staged.count()  # materialize before deleting source files
            tmp = self.path + ".tmp_rewrite"
            staged.write.mode("overwrite").partitionBy(SEGMENT).parquet(tmp)
            for seg in segments:
                dst = os.path.join(self.path, f"{SEGMENT}={seg}")
                src = os.path.join(tmp, f"{SEGMENT}={seg}")
                shutil.rmtree(dst, ignore_errors=True)
                if os.path.isdir(src):
                    shutil.move(src, dst)
            shutil.rmtree(tmp, ignore_errors=True)
        finally:
            staged.unpersist()
