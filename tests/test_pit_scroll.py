"""Point-in-time handles + classic scroll paging (round 7, VERDICT
"What's missing" #3).

ES contract: a PIT pins the reader generation — searches through the
handle see the data as of open time even while writes continue;
``scroll`` walks a query's full deterministic hit order in batches
against such a pinned generation, advancing by keyset (search_after
under the hood — every batch is one top-size query, never a deepening
OFFSET rescan).
"""

import pytest
from pyspark.sql import functions as F

from cassandra_es_index_spark.docmodel import build_documents
from cassandra_es_index_spark.search.engine import SearchEngine, TableSpec
from cassandra_es_index_spark.search.es_dsl import DslError


def _engine(spark, name, n=12):
    eng = SearchEngine(spark)
    rows = [(i, f"spark doc {i}", i * 10) for i in range(n)]
    eng.register(spark.createDataFrame(rows, "id int, text string, n int"),
                 TableSpec(name, ["id"]))
    return eng


def test_pit_pins_generation_across_writes(spark):
    eng = _engine(spark, "pit_docs")
    pid = eng.open_pit("pit_docs")
    # fake-row mode throughout: the delta below does not update the
    # row-load base (the index store wires set_row_source on mutations)
    q = '#options:load-rows=false#{"query":{"match":{"text":"spark"}},"size":100}'
    before = {r["id"] for r in eng.search_pit(pid, q).collect()}
    assert before == set(range(12))

    # mutate the live table: doc 99 arrives, live search sees it
    spec = TableSpec("pit_docs", ["id"])
    rows2 = [(i, f"spark doc {i}", i * 10) for i in range(12)] \
        + [(99, "spark newcomer", 990)]
    resolved = build_documents(
        spark.createDataFrame(rows2, "id int, text string, n int"), spec)
    new = build_documents(
        spark.createDataFrame([(99, "spark newcomer", 990)],
                              "id int, text string, n int"), spec)
    eng.apply_delta("pit_docs", resolved, new, None)
    live = {r["id"] for r in eng.search("pit_docs", q).collect()}
    assert 99 in live

    # ... but the PIT still serves the pinned generation
    pinned = {r["id"] for r in eng.search_pit(pid, q).collect()}
    assert pinned == before and 99 not in pinned

    # live search is untouched after the pinned call (state restored)
    live2 = {r["id"] for r in eng.search("pit_docs", q).collect()}
    assert live2 == live
    assert eng.close_pit(pid) and not eng.close_pit(pid)
    with pytest.raises(DslError, match="unknown pit"):
        eng.search_pit(pid, '{"query":{"match_all":{}}}')


def test_pit_pins_index_views_too(spark):
    eng = _engine(spark, "pit_idx")
    eng.build_postings_index("pit_idx", "text", materialize=True)
    pid = eng.open_pit("pit_idx")
    spec = TableSpec("pit_idx", ["id"])
    rows2 = [(i, f"spark doc {i}", i * 10) for i in range(12)] \
        + [(50, "spark late", 500)]
    resolved = build_documents(
        spark.createDataFrame(rows2, "id int, text string, n int"), spec)
    new = build_documents(
        spark.createDataFrame([(50, "spark late", 500)],
                              "id int, text string, n int"), spec)
    eng.apply_delta("pit_idx", resolved, new, None)

    out = eng.search_pit(
        pid, '#options:load-rows=false#'
        '{"query":{"term":{"text":"spark"}},"size":100}',
        default_field="text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "regexp_extract_all" not in plan   # still index-served
    assert {r["id"] for r in out.collect()} == set(range(12))  # pinned
    live = {r["id"] for r in eng.search(
        "pit_idx", '#options:load-rows=false#'
        '{"query":{"term":{"text":"spark"}},"size":100}',
        default_field="text").collect()}
    assert 50 in live


def test_scroll_walks_full_order_in_batches(spark):
    eng = _engine(spark, "scroll_docs", n=25)
    q = ('#options:load-rows=false,load-source=true#'
         '{"query":{"match":{"text":"spark"}},'
         '"sort":[{"n":"desc"}]}')
    sid = eng.open_scroll("scroll_docs", q, size=10)
    seen = []
    batches = 0
    while True:
        rows = eng.scroll_next(sid).collect()
        if not rows:
            break
        seen.extend(r["id"] for r in rows)
        batches += 1
        assert len(rows) <= 10
    assert batches == 3                      # 10 + 10 + 5
    assert seen == sorted(range(25), reverse=True)   # n desc order
    assert len(seen) == len(set(seen))       # no dup across batches
    # exhausted cursor keeps returning empty until cleared
    assert eng.scroll_next(sid).count() == 0
    assert eng.clear_scroll(sid) and not eng.clear_scroll(sid)
    with pytest.raises(DslError, match="unknown scroll"):
        eng.scroll_next(sid)


def test_scroll_is_stable_under_concurrent_writes(spark):
    eng = _engine(spark, "scroll_pin", n=8)
    sid = eng.open_scroll(
        "scroll_pin", '#options:load-rows=false#'
        '{"query":{"match":{"text":"spark"}}}', size=5)
    first = [r["id"] for r in eng.scroll_next(sid).collect()]
    spec = TableSpec("scroll_pin", ["id"])
    rows2 = [(i, f"spark doc {i}", i * 10) for i in range(8)] \
        + [(77, "spark interloper", 770)]
    resolved = build_documents(
        spark.createDataFrame(rows2, "id int, text string, n int"), spec)
    new = build_documents(
        spark.createDataFrame([(77, "spark interloper", 770)],
                              "id int, text string, n int"), spec)
    eng.apply_delta("scroll_pin", resolved, new, None)
    rest = [r["id"] for r in eng.scroll_next(sid).collect()]
    assert 77 not in first + rest            # snapshot isolation
    assert sorted(first + rest) == list(range(8))
    eng.clear_scroll(sid)


def test_scroll_validation(spark):
    eng = _engine(spark, "scroll_val", n=3)
    with pytest.raises(DslError, match="size"):
        eng.open_scroll("scroll_val", '{"query":{"match_all":{}}}',
                        size=0)


def test_scroll_rejects_from(spark):
    # ES rejects `from` with scroll; pre-r8 the offset silently
    # re-applied to EVERY keyset batch, dropping rows from the drain
    eng = _engine(spark, "scroll_from")
    with pytest.raises(DslError, match="from"):
        eng.open_scroll(
            "scroll_from",
            '{"query":{"match":{"text":"spark"}},"from":5,'
            '"sort":[{"id":"asc"}]}', size=4)


def test_pit_pins_ivf_view(spark):
    # ADVICE r7: knn under a PIT must not see post-open vectors — the
    # IVF registry is pinned alongside the doc/index registries
    import json

    eng = SearchEngine(spark)
    rows = [(i, [1.0, float(i) / 100.0]) for i in range(1, 11)]
    eng.register(spark.createDataFrame(rows, "id int, vec array<double>"),
                 TableSpec("knn_pit", ["id"]))
    eng.build_ivf_index("knn_pit", "vec", n_cells=2, n_iters=1)
    pid = eng.open_pit("knn_pit")

    spec = TableSpec("knn_pit", ["id"])
    rows2 = rows + [(99, [0.0, 1.0])]
    resolved = build_documents(
        spark.createDataFrame(rows2, "id int, vec array<double>"), spec)
    new = build_documents(
        spark.createDataFrame([(99, [0.0, 1.0])],
                              "id int, vec array<double>"), spec)
    eng.apply_delta("knn_pit", resolved, new, None)
    eng.build_ivf_index("knn_pit", "vec", n_cells=2, n_iters=1)

    q = "#options:load-rows=false#" + json.dumps(
        {"knn": {"field": "vec", "query_vector": [0.0, 1.0],
                 "k": 3, "nprobe": 2}})
    live = [r["id"] for r in eng.search("knn_pit", q).collect()]
    assert 99 in live
    pinned = [r["id"] for r in eng.search_pit(pid, q).collect()]
    assert 99 not in pinned and pinned
    # live route untouched after the pinned call (state restored)
    live2 = [r["id"] for r in eng.search("knn_pit", q).collect()]
    assert live2 == live
    eng.close_pit(pid)


# ------------------------------------------ sliced scroll (r12)

def test_sliced_scroll_disjoint_and_complete(spark):
    eng = _engine(spark, "scroll_sliced", n=23)
    q = ('#options:load-rows=false#'
         '{"query":{"match":{"text":"spark"}},"sort":[{"id":"asc"}]}')

    def drain(sid):
        out = []
        while True:
            rows = eng.scroll_next(sid).collect()
            if not rows:
                break
            out.extend(r["id"] for r in rows)
        eng.clear_scroll(sid)
        return out

    full = drain(eng.open_scroll("scroll_sliced", q, size=6))
    slices = [drain(eng.open_scroll("scroll_sliced", q, size=6,
                                    slice_id=i, slice_max=3))
              for i in range(3)]
    # each slice is key % 3 == i, batches stay in-order within a slice
    for i, got in enumerate(slices):
        assert got == [d for d in full if d % 3 == i]
    # disjoint and complete union
    merged = sorted(x for s in slices for x in s)
    assert merged == sorted(full) == list(range(23))


def test_sliced_scroll_query_string_and_options(spark):
    # lucene-syntax queries slice too (wrapped as a query_string
    # clause) and the options prefix survives the rewrite
    eng = _engine(spark, "scroll_sliced_qs", n=10)
    sid = eng.open_scroll("scroll_sliced_qs",
                          "#options:load-rows=false#text:spark",
                          size=50, default_field="text",
                          slice_id=1, slice_max=2)
    rows = eng.scroll_next(sid).collect()
    assert sorted(r["id"] for r in rows) == [1, 3, 5, 7, 9]
    assert "text" not in rows[0].asDict()    # load-rows=false honored
    eng.clear_scroll(sid)


def test_sliced_scroll_typed_errors(spark):
    eng = _engine(spark, "scroll_sliced_err", n=3)
    q = '{"query":{"match_all":{}}}'
    with pytest.raises(DslError, match="BOTH"):
        eng.open_scroll("scroll_sliced_err", q, slice_id=0)
    with pytest.raises(DslError, match=">= 2"):
        eng.open_scroll("scroll_sliced_err", q, slice_id=0, slice_max=1)
    with pytest.raises(DslError, match="\\[0, slice_max\\)"):
        eng.open_scroll("scroll_sliced_err", q, slice_id=2, slice_max=2)
    # composite / non-integer keys typed-reject
    eng.register(spark.createDataFrame(
        [("a", "x")], "k string, text string"),
        TableSpec("scroll_strkey", ["k"]))
    with pytest.raises(DslError, match="integer key"):
        eng.open_scroll("scroll_strkey", q, slice_id=0, slice_max=2)


def test_pit_isolated_from_store_backed_batch(spark, tmp_path):
    """A PIT on a store-backed facade table co-owns the index pins its
    views read: a batch after open stays invisible through the handle
    (with and without row loading), the superseded overlay stays cached
    while the handle is open, and close_pit frees it."""
    import datetime

    from cassandra_es_index_spark.engine import CassandraEsIndexEngine
    from tests.test_engine_facade import _own_persisted

    first = spark.sparkContext.emptyRDD().id()
    table = "pit_store"
    eng = CassandraEsIndexEngine(spark, str(tmp_path / "idx"))
    eng.register(spark.createDataFrame(
        [(f"k{i}", f"spark doc {i}", i) for i in range(30)],
        "id string, body string, n int"), TableSpec(table, ["id"]),
        build=True)
    eng.refresh_search_view(table)
    se = eng.search_engine
    se.build_postings_index(table, "body", materialize=True)

    def batch(minute, tag):
        ts = datetime.datetime(2024, 1, 1, 0, minute)
        return spark.createDataFrame([
            (ts, "update", f"k{minute}", f"{tag} doc", 1),
            (ts, "insert", f"{tag}_new", f"{tag} fresh", 2),
            (ts, "partition_delete", f"k{10 + minute}", None, None)],
            "ts timestamp, op string, id string, body string, n int")

    def persisted():
        return _own_persisted(spark, first)

    eng.apply_mutations(table, batch(1, "alpha"))
    state = se.index_entry("postings", table, "body").state
    held = (state.dead, state.delta)
    before = persisted()
    pid = se.open_pit(table)
    eng.apply_mutations(table, batch(2, "zulu"))
    for mode in ("#options:load-rows=false#", ""):
        assert se.search_pit(pid, mode + "body:zulu").count() == 0, mode
        assert {r["id"] for r in se.search_pit(
            pid, mode + "body:alpha").collect()} == {"k1", "alpha_new"}
        assert {r["id"] for r in eng.search(
            table, mode + "body:zulu").collect()} == {"k2", "zulu_new"}
    assert all(df.storageLevel.useMemory for df in held)
    assert se.close_pit(pid)
    assert not any(df.storageLevel.useMemory for df in held)
    assert persisted() == before
