"""Streaming-semantics tests (SURVEY.md §2.8): last-writer-wins, tombstone
policy, analytic mode, foreachBatch wiring, watermarked windows."""

import datetime

import pytest
from pyspark.sql import functions as F

from cassandra_es_index_spark.catalog import TableSpec
from cassandra_es_index_spark.docmodel import DOC_ID
from cassandra_es_index_spark.engine import CassandraEsIndexEngine
from cassandra_es_index_spark.indexstore import ParquetIndexStore
from cassandra_es_index_spark.streaming import (
    apply_mutation_batch, release_batch,
)
from cassandra_es_index_spark.streaming.indexer import MutationIndexer
from cassandra_es_index_spark.streaming import windows as W

MUT_SCHEMA = "ts timestamp, op string, id string, body string, userid int"


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 0, minute)


def _store(spark, tmp_path, options=None):
    spec = TableSpec("emails", ["id"], options=options or {})
    return ParquetIndexStore(spark, str(tmp_path / "idx"), spec)


def test_last_writer_wins_within_batch(spark, tmp_path):
    store = _store(spark, tmp_path)
    batch = spark.createDataFrame([
        (_ts(1), "insert", "a", "v1", 1),
        (_ts(2), "update", "a", "v2", 2),
        (_ts(3), "update", "a", "v3", 3),
        (_ts(1), "insert", "b", "b1", 1),
    ], MUT_SCHEMA)
    apply_mutation_batch(store, batch)
    got = {r[DOC_ID]: r["body"] for r in store.read().collect()}
    assert got == {"a": "v3", "b": "b1"}  # W3: one deterministic writer per key


def test_partition_delete_propagates(spark, tmp_path):
    store = _store(spark, tmp_path)
    apply_mutation_batch(store, spark.createDataFrame(
        [(_ts(1), "insert", "a", "v1", 1), (_ts(1), "insert", "b", "b1", 1)],
        MUT_SCHEMA))
    apply_mutation_batch(store, spark.createDataFrame(
        [(_ts(2), "partition_delete", "a", None, None)], MUT_SCHEMA))
    assert {r[DOC_ID] for r in store.read().collect()} == {"b"}


def test_delete_then_update_in_same_batch_keeps_latest(spark, tmp_path):
    store = _store(spark, tmp_path)
    batch = spark.createDataFrame([
        (_ts(1), "insert", "a", "v1", 1),
        (_ts(2), "partition_delete", "a", None, None),
        (_ts(3), "update", "a", "v3", 3),
    ], MUT_SCHEMA)
    apply_mutation_batch(store, batch)
    got = {r[DOC_ID]: r["body"] for r in store.read().collect()}
    assert got == {"a": "v3"}  # latest mutation wins, delete superseded


def test_empty_update_is_not_a_delete(spark, tmp_path):
    # UCS-4927 (ref EsSecondaryIndexTest.java:151-160)
    store = _store(spark, tmp_path)
    apply_mutation_batch(store, spark.createDataFrame(
        [(_ts(1), "insert", "a", "v1", 1)], MUT_SCHEMA))
    apply_mutation_batch(store, spark.createDataFrame(
        [(_ts(2), "empty_update", "a", None, None)], MUT_SCHEMA))
    got = {r[DOC_ID]: r["body"] for r in store.read().collect()}
    assert got == {"a": "v1"}  # unchanged


def test_analytic_mode_skips_deletes(spark, tmp_path):
    # W8 (ref EsSecondaryIndex.java:413, README.md:465-469)
    store = _store(spark, tmp_path, {"es-analytic-mode": True})
    apply_mutation_batch(store, spark.createDataFrame(
        [(_ts(1), "insert", "a", "v1", 1)], MUT_SCHEMA))
    apply_mutation_batch(store, spark.createDataFrame(
        [(_ts(2), "partition_delete", "a", None, None)], MUT_SCHEMA))
    assert {r[DOC_ID] for r in store.read().collect()} == {"a"}


# Two mutations of key "a" at one ts, after an insert of "a" at minute 1:
# the W3 winner must not depend on the order the batch lists them in.
EQUAL_TS_PAIRS = {
    # among upserts the greater JSON row wins ("Y" > "X")
    "update_update": ([("update", "X", 2), ("update", "Y", 2)], {"a": "Y"}),
    # a partition delete wins its tie (tombstone wins)
    "update_delete": ([("update", "X", 2), ("partition_delete", None, None)],
                      {}),
    # an empty update never hides an update
    "update_empty": ([("update", "X", 2), ("empty_update", None, None)],
                     {"a": "X"}),
}


@pytest.mark.parametrize("pair", sorted(EQUAL_TS_PAIRS))
def test_equal_ts_winner_ignores_input_order(spark, tmp_path, pair):
    mutations, want = EQUAL_TS_PAIRS[pair]
    for i, order in enumerate((mutations, mutations[::-1])):
        store = ParquetIndexStore(spark, str(tmp_path / f"idx{i}"),
                                  TableSpec("emails", ["id"]))
        for batch in ([(_ts(1), "insert", "a", "v1", 1)],
                      [(_ts(2), op, "a", body, uid)
                       for op, body, uid in order]):
            release_batch(apply_mutation_batch(
                store, spark.createDataFrame(batch, MUT_SCHEMA)))
        got = {r[DOC_ID]: r["body"] for r in store.read().collect()}
        assert got == want, [m[0] for m in order]


SEED_ROWS = [(_ts(1), "insert", k, f"{k} seed", 1) for k in "abc"]
MIXED_ROWS = [
    (_ts(2), "update", "a", "a fresh", 2),
    (_ts(2), "insert", "d", "d new", 3),
    (_ts(2), "partition_delete", "b", None, None),
    (_ts(2), "empty_update", "c", None, None),
]


def _rows(store):
    return sorted((r[DOC_ID], r["body"], r["userid"])
                  for r in store.read().collect())


def test_mixed_batch_spends_one_generation(spark, tmp_path):
    """Upserts and tombstones of one batch share one store generation and
    read back the same rows as the two-batch route."""
    one = _store(spark, tmp_path / "one")
    release_batch(apply_mutation_batch(
        one, spark.createDataFrame(SEED_ROWS, MUT_SCHEMA)))
    gen = one.delta_stats()["gen"]
    release_batch(apply_mutation_batch(
        one, spark.createDataFrame(MIXED_ROWS, MUT_SCHEMA)))
    assert one.delta_stats()["gen"] == gen + 1

    two = _store(spark, tmp_path / "two")
    for rows in (SEED_ROWS,
                 [m for m in MIXED_ROWS if m[1] != "partition_delete"],
                 [m for m in MIXED_ROWS if m[1] == "partition_delete"]):
        release_batch(apply_mutation_batch(
            two, spark.createDataFrame(rows, MUT_SCHEMA)))
    assert two.delta_stats()["gen"] == gen + 2
    assert _rows(one) == _rows(two) == [
        ("a", "a fresh", 2), ("c", "c seed", 1), ("d", "d new", 3)]


def test_same_generation_tombstone_wins(spark, tmp_path):
    """An upsert and a tombstone of one _id in one generation resolve to
    deleted, before and after compaction."""
    store = _store(spark, tmp_path)
    release_batch(apply_mutation_batch(
        store, spark.createDataFrame(SEED_ROWS, MUT_SCHEMA)))
    store.write_batch(
        spark.createDataFrame([("a", "a again", 7), ("d", "d new", 3)],
                              "id string, body string, userid int"),
        spark.createDataFrame([("a",)], f"{DOC_ID} string"))
    delta = (spark.read.parquet(store.path).where(F.col("_gen") > 0)
             .select(DOC_ID, "_gen", "_deleted").collect())
    assert sorted(tuple(r) for r in delta) == [
        ("a", 1, False), ("a", 1, True), ("d", 1, False)]
    assert [r[0] for r in _rows(store)] == ["b", "c", "d"]
    store.compact_deltas()
    assert [r[0] for r in _rows(store)] == ["b", "c", "d"]


def _facade_with_postings(spark, tmp_path, table):
    engine = CassandraEsIndexEngine(spark, str(tmp_path / "indexes"))
    engine.register(
        spark.createDataFrame([(k, f"{k} seed", 1) for k in "abc"],
                              "id string, body string, userid int"),
        TableSpec(table, ["id"]), build=True)
    engine.search_engine.build_postings_index(table, "body",
                                              materialize=True)
    return engine


def test_batch_source_evaluated_once(spark, tmp_path):
    """The store write and the postings delta both read the pinned,
    resolved batch: the batch's source runs once per apply_mutations."""
    engine = _facade_with_postings(spark, tmp_path, "em_once")
    evals = spark.sparkContext.accumulator(0)

    def counted(key):
        evals.add(1)
        return key

    # every evaluation of the batch needs its key column
    batch = (spark.createDataFrame(MIXED_ROWS, MUT_SCHEMA)
             .withColumn("id", F.udf(counted, "string")("id")))
    engine.apply_mutations("em_once", batch)
    assert evals.value == len(MIXED_ROWS)
    assert _rows(engine.store("em_once")) == [
        ("a", "a fresh", 2), ("c", "c seed", 1), ("d", "d new", 3)]
    hits = engine.search("em_once", "#options:load-rows=false#body:fresh")
    assert [r["id"] for r in hits.collect()] == ["a"]


def test_batch_pin_released(spark, tmp_path):
    """Five facade batches leave as many persistent RDDs as one."""
    engine = _facade_with_postings(spark, tmp_path, "em_pins")
    sizes = []
    for i in range(5):
        engine.apply_mutations("em_pins", spark.createDataFrame([
            (_ts(i + 2), "update", "a", f"a take {i}", i),
            (_ts(i + 2), "insert", f"n{i}", "new row", i),
            (_ts(i + 2), "partition_delete", "b", None, None),
        ], MUT_SCHEMA))
        sizes.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    assert sizes[-1] == sizes[0], sizes


def _jobs(spark, group, fn):
    """The number of Spark jobs ``fn`` launches, through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_schema_is_read_once(spark, tmp_path):
    """After one warm facade batch the store keeps its schema: a read of
    the store and the schema read of a write batch launch no job."""
    engine = _facade_with_postings(spark, tmp_path, "em_schema")
    store = engine.store("em_schema")

    def batch(i):
        return spark.createDataFrame([
            (_ts(i), "update", "a", f"a take {i}", i),
            (_ts(i), "partition_delete", "b", None, None)], MUT_SCHEMA)

    engine.apply_mutations("em_schema", batch(2))
    assert _jobs(spark, "store-read", store.read) == 0
    assert _jobs(spark, "store-schema", lambda: store._raw().schema) == 0
    engine.apply_mutations("em_schema", batch(3))
    assert _rows(store) == [("a", "a take 3", 3), ("c", "c seed", 1)]
    # a rebuild forgets the kept schema
    store.build(spark.createDataFrame([("z", "z", 9)],
                                      "id string, body string, userid int"))
    assert store._schema is None and _rows(store) == [("z", "z", 9)]


def test_foreachbatch_stream(spark, tmp_path):
    """Drive the MutationIndexer through a real Structured Streaming query
    (parquet file source, availableNow trigger)."""
    src_dir = str(tmp_path / "mutations")
    mutations = spark.createDataFrame([
        (_ts(1), "insert", "a", "v1", 1),
        (_ts(2), "update", "a", "v2", 2),
        (_ts(1), "insert", "b", "b1", 1),
        (_ts(3), "partition_delete", "b", None, None),
    ], MUT_SCHEMA)
    mutations.coalesce(1).write.mode("overwrite").parquet(src_dir)

    store = _store(spark, tmp_path)
    stream = (spark.readStream.schema(mutations.schema).parquet(src_dir))
    q = MutationIndexer(store).start(stream, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)  # availableNow: must self-terminate
    got = {r[DOC_ID]: r["body"] for r in store.read().collect()}
    assert got == {"a": "v2"}  # b inserted then deleted in the same batch


def test_tumbling_window_batch(spark):
    df = spark.createDataFrame(
        [(_ts(1), "click", 1.0), (_ts(2), "click", 2.0), (_ts(40), "click", 4.0)],
        "ts timestamp, event_type string, value double")
    out = W.tumbling(df, "ts", "30 minutes", ["event_type"],
                     [F.count("*").alias("n"), F.sum("value").alias("v")])
    rows = {(r["win_start"].minute, r["n"], r["v"]) for r in out.collect()}
    assert rows == {(0, 2, 3.0), (30, 1, 4.0)}


def test_session_window_batch(spark):
    df = spark.createDataFrame(
        [(_ts(1), 1), (_ts(5), 1), (_ts(50), 1)], "ts timestamp, user int")
    out = W.session(df, "ts", "10 minutes", ["user"],
                    [F.count("*").alias("n")])
    ns = sorted(r["n"] for r in out.collect())
    assert ns == [1, 2]  # two sessions: {1,5} and {50}


def test_streaming_windowed_agg_end_to_end(spark, tmp_path):
    """Watermarked tumbling aggregation over a real stream into memory."""
    src_dir = str(tmp_path / "events_src")
    df = spark.createDataFrame(
        [(_ts(1), "click", 1.0), (_ts(2), "view", 2.0), (_ts(31), "click", 3.0)],
        "ts timestamp, event_type string, value double")
    df.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    agg = (stream.withWatermark("ts", "10 minutes")
                 .groupBy(F.window("ts", "30 minutes"), "event_type")
                 .agg(F.count("*").alias("n")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("winagg")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300)  # availableNow: must self-terminate
    rows = spark.sql("SELECT event_type, n FROM winagg").collect()
    got = {(r["event_type"], r["n"]) for r in rows}
    assert ("view", 1) in got and ("click", 1) in got


def test_streaming_warc_ingest_end_to_end(spark, tmp_path):
    """Crawl ingestion under Structured Streaming (r14.75): WARC
    archives arrive as binary rows, warc_responses (mapInPandas) and
    html_to_text run unchanged on the streaming frame, and the cleaned
    pages land in a memory sink — the fineweb head as a stream."""
    import pandas as pd

    from cassandra_es_index_spark.functions.text import html_to_text
    from cassandra_es_index_spark.functions.warc import build_warc
    from cassandra_es_index_spark.operators import web_ingest

    src_dir = str(tmp_path / "warc_src")
    pages = [{"url": "http://s.test/1", "date": "2024-01-01T00:00:00Z",
              "body": "<html><body><p>streamed &amp; clean</p>"
                      "</body></html>"},
             {"url": "http://s.test/2", "date": "2024-01-01T00:00:01Z",
              "body": "gone", "status": 404,
              "content_type": "text/plain"}]
    pdf = pd.DataFrame({"archive_id": ["w1"],
                        "content": [build_warc(pages, compress=True)]})
    df = spark.createDataFrame(pdf, "archive_id string, content binary")
    df.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    cleaned = (web_ingest.warc_responses(stream)
               .where("http_status = 200 AND mime = 'text/html'")
               .select("url", html_to_text(F.col("body_text"))
                       .alias("text")))
    q = (cleaned.writeStream.outputMode("append")
         .format("memory").queryName("warc_pages")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300)  # availableNow: must self-terminate
    rows = spark.sql("SELECT url, text FROM warc_pages").collect()
    assert [(r["url"], r["text"]) for r in rows] == \
        [("http://s.test/1", "streamed & clean")]
