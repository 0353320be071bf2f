"""End-to-end facade test: register → build → search → mutate → maintain."""

import datetime

import pytest
from pyspark.sql import functions as F

from cassandra_es_index_spark.catalog import TableSpec
from cassandra_es_index_spark.docmodel import DOC_ID
from cassandra_es_index_spark.engine import CassandraEsIndexEngine
from cassandra_es_index_spark.search import SearchEngine
from tests.test_streaming import _jobs


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 0, minute)


@pytest.fixture()
def engine(spark, tmp_path):
    return CassandraEsIndexEngine(spark, str(tmp_path / "indexes"))


def test_full_lifecycle(engine, spark):
    emails = spark.createDataFrame(
        [("a", "hello cassandra", 1), ("b", "hello spark", 2)],
        "id string, body string, userid int")
    store = engine.register(emails, TableSpec("emails", ["id"]), build=True)
    assert store.count() == 2

    hits = engine.search("emails", "body:cassan*")
    assert [r["id"] for r in hits.collect()] == ["a"]
    assert engine.validate("emails", "body:ok") is None
    assert engine.validate("emails", "nope:x") is not None

    engine.apply_mutations("emails", spark.createDataFrame(
        [(_ts(1), "update", "b", "updated body", 9),
         (_ts(2), "partition_delete", "a", None, None)],
        "ts timestamp, op string, id string, body string, userid int"))
    got = {r[DOC_ID]: r["body"] for r in store.read().collect()}
    assert got == {"b": "updated body"}

    report = engine.maintain("emails", now_epoch_s=1)
    assert report["ttl_swept"] is True
    assert store.count() == 1  # nothing expired (no ttl column)


def test_compaction(engine, spark):
    df = spark.createDataFrame([("k%d" % i, "text %d" % i) for i in range(20)],
                               "id string, body string")
    store = engine.register(df, TableSpec("docs", ["id"]), build=True)
    # create small-file pressure: 6 single-row upserts
    for i in range(6):
        store.upsert(spark.createDataFrame(
            [(f"k{i}", f"patched {i}")], "id string, body string"))
    files_before = store.segment_file_counts()["all"]
    assert files_before > 4
    report = engine.maintain("docs", compact_max_files=4)
    assert report["segments_compacted"] == ["all"]
    assert store.segment_file_counts()["all"] <= 2
    assert store.count() == 20  # no rows lost
    got = {r[DOC_ID]: r["body"] for r in store.read().collect()}
    assert got["k3"] == "patched 3"


def test_sql_passthrough(spark, tmp_path):
    """S15 generic passthrough: registered tables are queryable with raw
    SQL through the facade (the reference's GenericRequest escape hatch)."""
    eng = CassandraEsIndexEngine(spark, str(tmp_path / "root"))
    df = spark.createDataFrame([("x", 1), ("y", 2)], "id string, n int")
    eng.register(df, TableSpec("passthrough_t", ["id"]))
    out = eng.sql("SELECT count(*) AS n, sum(n) AS total FROM passthrough_t")
    row = out.first()
    assert (row["n"], row["total"]) == (2, 3)


def test_search_sees_writes(engine, spark):
    """After a mutation batch, search must reflect the mutated index — in
    the reference, search hits ES, which is exactly what the writes
    updated."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra", 1), ("b", "hello spark", 2)],
        "id string, body string, userid int")
    engine.register(emails, TableSpec("emails_sw", ["id"]), build=True)
    assert engine.search(
        "emails_sw", "#options:load-rows=false#body:freshly").count() == 0

    engine.apply_mutations("emails_sw", spark.createDataFrame(
        [(_ts(1), "update", "b", "freshly indexed text", 9),
         (_ts(2), "partition_delete", "a", None, None)],
        "ts timestamp, op string, id string, body string, userid int"))
    # new content searchable, deleted doc gone
    hits = engine.search("emails_sw", "#options:load-rows=false#body:freshly")
    assert [r["id"] for r in hits.collect()] == ["b"]
    assert engine.search(
        "emails_sw", "#options:load-rows=false#body:cassandra").count() == 0
    # load-source returns the updated document content
    src = engine.search(
        "emails_sw", "#options:load-rows=false,load-source=true#body:freshly")
    assert [r["body"] for r in src.collect()] == ["freshly indexed text"]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_maintained_incrementally_under_mutations(engine, spark):
    """VERDICT r2 item 1: a mutation batch must NOT invalidate the
    postings index wholesale — only the touched doc-ids' rows change, the
    bulk-built base postings survive, and term search stays index-served
    (no corpus scan) with rows matching the post-mutation state. The
    reference behavior matched: ES updates its inverted index per-doc on
    upsert (ElasticIndex.java:603-614)."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra", 1), ("b", "hello spark", 2),
         ("c", "plain filler", 3)],
        "id string, body string, userid int")
    engine.register(emails, TableSpec("em_inc", ["id"]), build=True)
    se = engine.search_engine
    se.build_postings_index("em_inc", "body", materialize=True)
    state = se.index_entry("postings", "em_inc", "body").state
    base_before = state.base

    # served from postings before the mutation
    pre = engine.search("em_inc", "#options:load-rows=false#body:cassandra")
    assert "regexp_extract_all" not in _plan(pre)
    assert {r["id"] for r in pre.collect()} == {"a"}

    engine.apply_mutations("em_inc", spark.createDataFrame(
        [(_ts(1), "update", "b", "freshly cassandra text", 9),   # update
         (_ts(2), "insert", "d", "cassandra arrives anew", 4),   # insert
         (_ts(3), "partition_delete", "a", None, None)],         # delete
        "ts timestamp, op string, id string, body string, userid int"))

    out = engine.search("em_inc", "#options:load-rows=false#body:cassandra")
    plan = _plan(out)
    # still index-served: no scan-path regex, and NOT rebuilt from scratch
    assert "regexp_extract_all" not in plan
    assert state.base is base_before
    assert state.delta is not None  # the overlay carries the batch
    got = {r["id"] for r in out.collect()}
    assert got == {"b", "d"}  # a deleted, b updated in, d inserted

    # retired tokens are gone; new tokens searchable
    assert engine.search(
        "em_inc", "#options:load-rows=false#body:spark").count() == 0
    assert {r["id"] for r in engine.search(
        "em_inc", "#options:load-rows=false#body:freshly").collect()} == {"b"}

    # postings view matches a from-scratch scan over the resolved docs
    scan_eng = SearchEngine(spark)
    scan_eng.register(engine.store("em_inc").read().drop("segment")
                      .select("id", "body", "userid"),
                      TableSpec("em_inc_scan", ["id"]))
    want = sorted((r["id"], r["_score"]) for r in scan_eng.search(
        "em_inc_scan", "#options:load-rows=false#body:cassandra").collect())
    assert sorted((r["id"], r["_score"]) for r in out.collect()) == want


def test_postings_overlay_folds_after_cadence(engine, spark):
    """The overlay compacts into a new base after fold_every batches,
    bounding lookup-time overlay cost under a steady stream."""
    emails = spark.createDataFrame(
        [("a", "alpha beta", 1)], "id string, body string, userid int")
    engine.register(emails, TableSpec("em_fold", ["id"]), build=True)
    se = engine.search_engine
    se.build_postings_index("em_fold", "body", materialize=True)
    state = se.index_entry("postings", "em_fold", "body").state
    state.fold_every = 2
    base_before = state.base
    for i in range(2):
        engine.apply_mutations("em_fold", spark.createDataFrame(
            [(_ts(i + 1), "update", "a", f"alpha gamma{i}", 1)],
            "ts timestamp, op string, id string, body string, userid int"))
    assert state.delta is None and state.dead is None  # folded
    assert state.base is not base_before
    out = engine.search("em_fold", "#options:load-rows=false#body:gamma1")
    assert "regexp_extract_all" not in _plan(out)
    assert [r["id"] for r in out.collect()] == ["a"]


def test_insert_mutation_loads_base_row(engine, spark):
    """ADVICE r2: a document INSERTED by a mutation batch must return a
    full row in default load-rows mode — the reference loads it from
    Cassandra, which holds the write; the pre-mutation base snapshot does
    not have it."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra", 1)], "id string, body string, userid int")
    engine.register(emails, TableSpec("em_ins", ["id"]), build=True)
    engine.apply_mutations("em_ins", spark.createDataFrame(
        [(_ts(1), "insert", "z", "brand new cassandra doc", 77),
         (_ts(2), "update", "a", "hello updated cassandra", 42)],
        "ts timestamp, op string, id string, body string, userid int"))
    out = engine.search("em_ins", "body:cassandra")
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {"a", "z"}
    # inserted row carries its mutation values…
    assert rows["z"]["userid"] == 77
    assert rows["z"]["body"] == "brand new cassandra doc"
    # …and updated rows show post-mutation values, not the base snapshot
    assert rows["a"]["userid"] == 42
    assert rows["a"]["body"] == "hello updated cassandra"


def test_stream_mutations_keep_postings_served(engine, spark, tmp_path):
    """Continuous indexing through the facade: every micro-batch flows
    into the search view AND the postings overlay, so term search stays
    index-served under the stream (the reference's per-write ES path)."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra", 1)], "id string, body string, userid int")
    engine.register(emails, TableSpec("em_stream", ["id"]), build=True)
    se = engine.search_engine
    se.build_postings_index("em_stream", "body", materialize=True)
    state = se.index_entry("postings", "em_stream", "body").state
    base_before = state.base

    src_dir = str(tmp_path / "mut_src")
    spark.createDataFrame(
        [(_ts(1), "insert", "s1", "streamed cassandra text", 5),
         (_ts(2), "update", "a", "hello streamed", 6)],
        "ts timestamp, op string, id string, body string, userid int"
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(
        "ts timestamp, op string, id string, body string, userid int"
    ).parquet(src_dir)
    q = engine.stream_mutations("em_stream", stream,
                                str(tmp_path / "ckpt_sm"))
    assert q.awaitTermination(300)  # availableNow: must self-terminate

    out = engine.search("em_stream",
                        "#options:load-rows=false#body:streamed")
    assert "regexp_extract_all" not in _plan(out)
    assert state.base is base_before  # incremental, not rebuilt
    assert {r["id"] for r in out.collect()} == {"s1", "a"}
    assert engine.search(
        "em_stream", "#options:load-rows=false#body:cassandra"
    ).count() == 1  # only s1 carries it now


def test_postings_delta_composite_key(engine, spark):
    """Incremental postings for a composite-PK table route the delta
    through the synthesized _id (the postings doc column)."""
    df = spark.createDataFrame(
        [(1, 1, "alpha beta"), (2, 1, "gamma")],
        "pk int, ck int, body string")
    engine.register(df, TableSpec("comp_mut", ["pk"], ["ck"]), build=True)
    se = engine.search_engine
    se.build_postings_index("comp_mut", "body", materialize=True)
    state = se.index_entry("postings", "comp_mut", "body").state
    base_before = state.base
    engine.apply_mutations("comp_mut", spark.createDataFrame(
        [(_ts(1), "update", 1, 1, "delta beta beta"),
         (_ts(2), "insert", 3, 9, "alpha fresh")],
        "ts timestamp, op string, pk int, ck int, body string"))
    out = engine.search("comp_mut", "#options:load-rows=false#body:beta")
    assert "regexp_extract_all" not in _plan(out)
    assert state.base is base_before
    rows = {(r["pk"], r["ck"]): r["_score"] for r in out.collect()}
    assert rows == {(1, 1): 2}
    out2 = engine.search("comp_mut", "#options:load-rows=false#body:alpha")
    assert {(r["pk"], r["ck"]) for r in out2.collect()} == {(3, 9)}


def test_maintain_refreshes_search_view(engine, spark):
    """Maintenance changes store content (TTL) and its file set
    (compaction) — search must observe both afterwards. A TTL-only sweep
    keeps postings index-served via the incremental delete path."""
    emails = spark.createDataFrame(
        [("a", "expiring cassandra doc", 100),
         ("b", "surviving spark doc", 10_000)],
        "id string, body string, expire_at long")
    spec = TableSpec("em_maint", ["id"], ttl_column="expire_at")
    engine.register(emails, spec, build=True)
    se = engine.search_engine
    se.build_postings_index("em_maint", "body", materialize=True)
    state = se.index_entry("postings", "em_maint", "body").state
    base_before = state.base
    assert engine.search(
        "em_maint", "#options:load-rows=false#body:cassandra").count() == 1

    engine.maintain("em_maint", now_epoch_s=200)  # 'a' expired
    out = engine.search("em_maint", "#options:load-rows=false#body:cassandra")
    assert "regexp_extract_all" not in _plan(out)   # still index-served
    assert state.base is base_before                # incremental, no rebuild
    assert out.count() == 0
    assert engine.search(
        "em_maint", "#options:load-rows=false#body:surviving").count() == 1

    # compaction rewrites files → full refresh keeps search working
    engine.maintain("em_maint", compact_max_files=0)
    assert engine.search(
        "em_maint", "#options:load-rows=false#body:surviving").count() == 1
    assert engine.search(
        "em_maint", "#options:load-rows=false#body:cassandra").count() == 0


def test_phrase_index_maintained_incrementally_under_mutations(engine, spark):
    """The positional (phrase) index rides the same log-structured overlay
    as the term postings: a mutation batch retires only the touched docs'
    chunk rows, the bulk-built base survives, and phrase search stays
    index-served with rows matching a from-scratch scan of the resolved
    state."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra world", 1), ("b", "hello spark", 2),
         ("c", "cassandra world order", 3)],
        "id string, body string, userid int")
    engine.register(emails, TableSpec("em_ph", ["id"]), build=True)
    se = engine.search_engine
    se.build_phrase_index("em_ph", "body", materialize=True)
    state = se.index_entry("positional", "em_ph", "body").state
    base_before = state.base

    q = '#options:load-rows=false#body:"cassandra world"'
    pre = engine.search("em_ph", q)
    assert "regexp_extract_all" not in _plan(pre)
    assert {r["id"] for r in pre.collect()} == {"a", "c"}

    engine.apply_mutations("em_ph", spark.createDataFrame(
        [(_ts(1), "update", "a", "no phrase here", 9),        # retires a
         (_ts(2), "insert", "d", "cassandra world twice cassandra world", 4),
         (_ts(3), "partition_delete", "c", None, None)],      # deletes c
        "ts timestamp, op string, id string, body string, userid int"))

    out = engine.search("em_ph", q)
    assert "regexp_extract_all" not in _plan(out)
    assert state.base is base_before           # incremental, not rebuilt
    assert {(r["id"], r["_score"]) for r in out.collect()} == {("d", 2)}

    # parity with a from-scratch scan over the resolved store state
    scan_eng = SearchEngine(spark)
    scan_eng.register(engine.store("em_ph").read().drop("segment")
                      .select("id", "body", "userid"),
                      TableSpec("em_ph_scan", ["id"]))
    want = sorted((r["id"], r["_score"]) for r in scan_eng.search(
        "em_ph_scan", q).collect())
    assert sorted((r["id"], r["_score"]) for r in out.collect()) == want


def test_flush_and_attach_postings_disk_lifecycle(engine, spark, tmp_path):
    """The durable-index lifecycle: flush checkpoints base+overlay to a
    bucketed on-disk table and re-points serving at it (empty overlay);
    term lookups against the flushed state bucket-prune; mutations after
    a flush accumulate in a fresh overlay; a second flush folds them into
    the next generation; and a NEW engine attaches the flushed table and
    serves without rebuilding from the corpus."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra", 1), ("b", "hello spark", 2),
         ("c", "plain filler", 3)],
        "id string, body string, userid int")
    engine.register(emails, TableSpec("em_fl", ["id"]), build=True)
    se = engine.search_engine
    se.build_postings_index("em_fl", "body", materialize=True)

    q = "#options:load-rows=false#body:cassandra"
    want_pre = sorted((r["id"], r["_score"])
                      for r in engine.search("em_fl", q).collect())
    try:
        name1, = se.flush_indexes("em_fl", str(tmp_path / "pf"))["postings"]
        st = se.index_entry("postings", "em_fl", "body").state
        assert st.delta is None and st.dead is None   # overlay empty
        out = engine.search("em_fl", q)
        assert "regexp_extract_all" not in _plan(out)
        assert sorted((r["id"], r["_score"])
                      for r in out.collect()) == want_pre
        # the flushed base is the bucketed table → term filters prune
        plan = (st.base.where(F.col("token") == "cassandra")
                ._jdf.queryExecution().executedPlan().toString())
        assert "SelectedBucketsCount: 1 out of 64" in plan

        # mutations land in the overlay on top of the disk base
        engine.apply_mutations("em_fl", spark.createDataFrame(
            [(_ts(1), "insert", "d", "cassandra anew", 4)],
            "ts timestamp, op string, id string, body string, userid int"))
        assert st.delta is not None
        got = {r["id"] for r in engine.search("em_fl", q).collect()}
        assert got == {"a", "d"}

        # second flush: new generation, overlay folded to disk
        name2, = se.flush_indexes("em_fl", str(tmp_path / "pf"))["postings"]
        assert name2 != name1
        st2 = se.index_entry("postings", "em_fl", "body").state
        assert st2.delta is None
        assert {r["id"] for r in engine.search("em_fl", q).collect()} == \
            {"a", "d"}

        # restart path: a fresh engine attaches the durable table
        se2 = SearchEngine(spark)
        se2.register(emails, TableSpec("em_fl2", ["id"]))
        se2.attach_indexes("em_fl2", str(tmp_path / "pf"))
        out2 = se2.search("em_fl2", q, default_field="body")
        assert "regexp_extract_all" not in _plan(out2)
        # doc 'd' has no base row in the fresh snapshot, but fake-row mode
        # returns index hits directly — both index docs surface
        assert {r["id"] for r in out2.collect()} == {"a", "d"}
    finally:
        for t in ("em_fl", "em_fl2"):
            for g in range(3):
                spark.sql(f"DROP TABLE IF EXISTS postings_{t}_body_g{g}")


def test_maintain_flushes_postings(engine, spark, tmp_path):
    """maintain(flush_postings_path=...) checkpoints every postings index
    of the table to its bucketed on-disk generation AFTER the sweep, so
    the durable index reflects post-maintenance state (expired docs out)."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra", 1), ("b", "hello spark", 2)],
        "id string, body string, userid int")
    engine.register(emails, TableSpec("em_mf", ["id"]), build=True)
    se = engine.search_engine
    se.build_postings_index("em_mf", "body", materialize=True)
    try:
        report = engine.maintain(
            "em_mf", flush_postings_path=str(tmp_path / "flush"))
        assert report["postings_flushed"] == ["postings_em_mf_body_g0"]
        st = se.index_entry("postings", "em_mf", "body").state
        assert st.delta is None and st.dead is None
        out = engine.search("em_mf", "#options:load-rows=false#body:cassandra")
        assert {r["id"] for r in out.collect()} == {"a"}
    finally:
        spark.sql("DROP TABLE IF EXISTS postings_em_mf_body_g0")


def test_flush_indexes_covers_all_kinds_and_reattaches(engine, spark, tmp_path):
    """flush_indexes checkpoints term postings, the positional index, and
    the presence index in one pass; serving re-points at the durable
    copies (empty overlays) with identical results, and a fresh engine
    re-attaches the positional/presence directories without rebuilding."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra world", "s1"), ("b", "hello spark", None),
         ("c", "cassandra world", "s3")],
        "id string, body string, src string")
    engine.register(emails, TableSpec("em_fi", ["id"]), build=True)
    se = engine.search_engine
    se.build_postings_index("em_fi", "body", materialize=True)
    se.build_phrase_index("em_fi", "body", materialize=True)
    se.build_presence_index("em_fi", "src", materialize=True)

    qp = '#options:load-rows=false#body:"cassandra world"'
    qe = "#options:load-rows=false#_exists_:src"
    want_p = sorted((r["id"], r["_score"])
                    for r in engine.search("em_fi", qp).collect())
    want_e = sorted((r["id"], r["_score"])
                    for r in engine.search("em_fi", qe).collect())
    try:
        report = se.flush_indexes("em_fi", str(tmp_path / "fi"))
        assert report["postings"] and report["positional"] and \
            report["presence"]
        for kind, f in (("postings", "body"), ("positional", "body"),
                        ("presence", "src")):
            st = se.index_entry(kind, "em_fi", f).state
            assert st.delta is None and st.dead is None
        out_p = engine.search("em_fi", qp)
        assert "regexp_extract_all" not in _plan(out_p)
        assert sorted((r["id"], r["_score"])
                      for r in out_p.collect()) == want_p
        assert sorted((r["id"], r["_score"]) for r in
                      engine.search("em_fi", qe).collect()) == want_e

        # restart: fresh engine attaches the flushed directories
        se2 = SearchEngine(spark)
        se2.register(emails, TableSpec("em_fi2", ["id"]))
        se2.attach_indexes("em_fi2", str(tmp_path / "fi"))
        out2 = se2.search("em_fi2", qp, default_field="body")
        assert "regexp_extract_all" not in _plan(out2)
        assert sorted((r["id"], r["_score"])
                      for r in out2.collect()) == want_p
        assert sorted((r["id"], r["_score"]) for r in
                      se2.search("em_fi2", qe, default_field="body")
                      .collect()) == want_e
    finally:
        for t in ("em_fi", "em_fi2"):
            spark.sql(f"DROP TABLE IF EXISTS postings_{t}_body_g0")


def test_all_index_kinds_follow_streaming_mutations(engine, spark, tmp_path):
    """stream_mutations(refresh_each_batch=True): after the streaming
    query drains, phrase/presence/range/term indexes all serve the
    post-stream state — incrementally (no base rebuild), index-served."""
    emails = spark.createDataFrame(
        [("a", "hello cassandra world", "s1", 10),
         ("b", "plain filler", None, 25)],
        "id string, body string, src string, n int")
    engine.register(emails, TableSpec("em_stream", ["id"]), build=True)
    se = engine.search_engine
    se.build_postings_index("em_stream", "body", materialize=True)
    se.build_phrase_index("em_stream", "body", materialize=True)
    se.build_presence_index("em_stream", "src", materialize=True)
    se.build_range_index("em_stream", "n", materialize=True)
    kinds = {"post": ("postings", "body"), "pos": ("positional", "body"),
             "pres": ("presence", "src"), "rng": ("range", "n")}
    bases = {k: se.index_entry(kind, "em_stream", f).state.base
             for k, (kind, f) in kinds.items()}

    src_dir = str(tmp_path / "mut")
    spark.createDataFrame(
        [(_ts(1), "update", "a", "updated text", None, 99),
         (_ts(2), "insert", "c", "cassandra world anew", "s9", 15)],
        "ts timestamp, op string, id string, body string, src string, n int"
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(
        "ts timestamp, op string, id string, body string, src string, n int"
    ).parquet(src_dir)
    q = engine.stream_mutations("em_stream", stream,
                                str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)  # availableNow: must self-terminate

    checks = {
        '#options:load-rows=false#body:"cassandra world"': {"c"},
        "#options:load-rows=false#_exists_:src": {"c"},  # a→null, b null
        "#options:load-rows=false#n:[10 TO 30]": {"b", "c"},
        "#options:load-rows=false#body:cassandra": {"c"},
    }
    for query, want in checks.items():
        out = engine.search("em_stream", query, default_field="body")
        assert "regexp_extract_all" not in _plan(out), query
        assert {r["id"] for r in out.collect()} == want, query
    # incremental: every base survived the stream
    for k, (kind, f) in kinds.items():
        assert se.index_entry(kind, "em_stream", f).state.base is bases[k]


MUT = "ts timestamp, op string, id string, body string, expire_at long"


def _store_backed(engine, spark, table, rows, **spec_kw):
    """A facade table whose search documents are the store's resolved
    state (as after any refresh) with a body postings index."""
    engine.register(spark.createDataFrame(
        rows, "id string, body string, expire_at long"),
        TableSpec(table, ["id"], **spec_kw), build=True)
    engine.refresh_search_view(table)
    engine.search_engine.build_postings_index(table, "body",
                                              materialize=True)
    return engine.search_engine


def test_postings_view_lineage_stays_flat(engine, spark):
    """On a store-backed table the postings view reads only its pins: no
    scan of the store, a plan that does not grow with the number of
    batches, and no recompute after a batch (a store write used to
    uncache the base, and the dead-id side replayed every batch)."""
    table = "em_lin"
    se = _store_backed(engine, spark, table, [
        (f"k{i}", f"seed word{i % 4}", 10_000) for i in range(40)])
    state = se.index_entry("postings", table, "body").state

    def batch(i):
        return spark.createDataFrame([
            (_ts(i + 1), "update", f"k{i}", f"take{i} word", 10_000),
            (_ts(i + 1), "insert", f"n{i}", f"new{i} word", 10_000),
            (_ts(i + 1), "partition_delete", f"k{20 + i}", None, None),
        ], MUT)

    def count():
        state.view().count()

    nodes = {}
    for i in range(5):
        if i == 4:
            before = _jobs(spark, "lineage-before", count)
        engine.apply_mutations(table, batch(i))
        if i == 4:
            after = _jobs(spark, "lineage-after", count)
        if i + 1 in (2, 5):
            plan = _plan(state.view())
            assert "FileScan" not in plan, plan
            nodes[i + 1] = len(plan.splitlines())
    assert nodes[5] <= nodes[2], nodes
    assert after == before
    hits = engine.search(table, "#options:load-rows=false#body:word")
    assert "regexp_extract_all" not in _plan(hits)
    assert {r["id"] for r in hits.collect()} == (
        {f"k{i}" for i in range(5)} | {f"n{i}" for i in range(5)})


def test_lazy_search_outlives_its_pins(engine, spark):
    """A lazy search result reads the index as it was when it was built:
    run after later batches (which free the pins it reads) or after the
    cache is cleared, it recomputes them instead of failing. A stream of
    updates to one key keeps one id in ``dead``."""
    table = "em_lazy"
    se = _store_backed(engine, spark, table, [
        (f"k{i}", f"seed word{i % 3}", 10_000) for i in range(20)])
    state = se.index_entry("postings", table, "body").state
    q = "#options:load-rows=false#body:seed"

    def batch(i):
        return spark.createDataFrame([
            (_ts(i + 1), "update", "k0", f"take{i}", 10_000),
            (_ts(i + 1), "partition_delete", f"k{1 + i}", None, None),
        ], MUT)

    engine.apply_mutations(table, batch(0))
    lazy = engine.search(table, q)
    want = {f"k{i}" for i in range(2, 20)}
    assert {r["id"] for r in engine.search(table, q).collect()} == want
    engine.apply_mutations(table, batch(1))
    engine.apply_mutations(table, batch(2))
    assert state.dead.count() == 4        # k0 once, k1, k2, k3
    assert {r["id"] for r in lazy.collect()} == want
    spark.catalog.clearCache()
    assert {r["id"] for r in lazy.collect()} == want
    now = engine.search(table, q)
    assert "regexp_extract_all" not in _plan(now)
    assert {r["id"] for r in now.collect()} == {
        f"k{i}" for i in range(4, 20)}


def test_maintain_keeps_indexes_across_compaction(engine, spark):
    """Compaction and purge leave the resolved documents as they were, so
    maintain keeps every index of the table — postings and phrase — and
    sends only the TTL-expired ids through the incremental delete path:
    the same states still serve, with the scan route's answers."""
    table = "em_keep"
    se = _store_backed(engine, spark, table, [
        (f"k{i}", f"common word{i % 3} quick brown", 10_000)
        for i in range(12)] + [
        ("x1", "quick brown expiring", 100),
        ("x2", "doomed common", 150)], ttl_column="expire_at")
    se.build_phrase_index(table, "body", materialize=True)
    states = {kind: se.index_entry(kind, table, "body").state
              for kind in ("postings", "positional")}
    engine.apply_mutations(table, spark.createDataFrame([
        (_ts(1), "update", "k1", "quick brown fresh", 10_000),
        (_ts(2), "insert", "n1", "common quick brown", 120),
        (_ts(3), "partition_delete", "k2", None, None)], MUT))

    report = engine.maintain(table, now_epoch_s=200, compact_max_files=0)
    assert report["segments_compacted"]
    for kind, state in states.items():
        assert se.index_entry(kind, table, "body").state is state, kind

    scan = SearchEngine(spark)
    scan.register(engine.store(table).read().drop("segment")
                  .select("id", "body", "expire_at"),
                  TableSpec("em_keep_scan", ["id"]))
    for q in ("body:common", "body:quick", 'body:"quick brown"',
              "body:expiring", "body:fresh"):
        q = "#options:load-rows=false#" + q
        out = engine.search(table, q)
        assert "regexp_extract_all" not in _plan(out), q
        want = sorted((r["id"], r["_score"])
                      for r in scan.search("em_keep_scan", q).collect())
        assert sorted((r["id"], r["_score"])
                      for r in out.collect()) == want, q
    live = {r["id"] for r in engine.search(
        table, "#options:load-rows=false#body:quick").collect()}
    assert live == {f"k{i}" for i in range(12) if i != 2}   # expired gone
    # rows load from the compacted store
    rows = engine.search(table, "body:fresh").collect()
    assert [(r["id"], r["body"]) for r in rows] == [("k1", "quick brown fresh")]


def _own_persisted(spark, first: int) -> int:
    """The persistent RDDs made since RDD id ``first``. Ids grow
    monotonically, and an earlier test's RDDs may be collected at any
    time, so a test counts only its own."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return sum(1 for i in ids if i > first)


def test_ttl_sweep_checkpoint_released(engine, spark):
    """maintain frees the TTL sweep's expired-id checkpoint once the
    index deltas hold the ids: four batch + TTL passes leave as many
    persistent RDDs as one."""
    first = spark.sparkContext.emptyRDD().id()
    table = "em_ttl"
    engine.register(spark.createDataFrame(
        [(f"k{i}", f"seed {i}", 10_000) for i in range(6)],
        "id string, body string, expire_at long"),
        TableSpec(table, ["id"], ttl_column="expire_at"), build=True)
    engine.search_engine.build_postings_index(table, "body",
                                              materialize=True)
    sizes = []
    for i in range(4):
        engine.apply_mutations(table, spark.createDataFrame(
            [(_ts(i + 1), "insert", f"t{i}", f"short lived {i}", 100 + i)],
            MUT))
        engine.maintain(table, now_epoch_s=200 + i)
        sizes.append(_own_persisted(spark, first))
    assert sizes[-1] == sizes[0], sizes
    assert engine.search(
        table, "#options:load-rows=false#body:lived").count() == 0
