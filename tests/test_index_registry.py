"""The index registry: every kind in ``INDEX_KINDS`` builds, follows
mutation deltas, flushes under a committed manifest, re-attaches in a
fresh engine, and serves the scan route's (key, score) answers."""

import datetime
import json
import os
import random

import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cassandra_es_index_spark.catalog import TableSpec
from cassandra_es_index_spark.docmodel import DOC_ID, build_documents
from cassandra_es_index_spark.engine import CassandraEsIndexEngine
from cassandra_es_index_spark.search import SearchEngine
from cassandra_es_index_spark.search.engine import INDEX_KINDS

SCHEMA = ("id string, body string, src string, n int, lat double, "
          "lon double, vec array<double>")
VOCAB = ["alpha", "beta", "gamma", "delta", "cassandra", "world"]
N_CELLS = 3


def _rows(n: int, rng: random.Random, prefix: str = "d") -> list:
    out = []
    for i in range(n):
        body = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(0, 6)))
        out.append((
            f"{prefix}{i:02d}", body or None,
            rng.choice([None, "s1", "s2"]),
            rng.choice([None, rng.randint(0, 40)]),
            57.6 + rng.random() * 0.2, 10.3 + rng.random() * 0.2,
            [rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1)]))
    return out


ROWS = _rows(16, random.Random(7))
NEW_ROWS = _rows(3, random.Random(8), prefix="n")


def _frame(spark, rows):
    return (spark.createDataFrame(rows, SCHEMA)
            .select("id", "body", "src", "n",
                    F.struct("lat", "lon").alias("loc"), "vec"))


def _span(a, b, slop, in_order):
    return json.dumps({"query": {"span_near": {"clauses": [
        {"span_term": {"body": a}}, {"span_term": {"body": b}}],
        "slop": slop, "in_order": in_order}}})


def _geo(lat, lon, km):
    return json.dumps({"query": {"geo_distance": {
        "distance": f"{km}km", "loc": {"lat": lat, "lon": lon}}}})


def _knn(vec, k):
    # nprobe = every cell: the IVF route is then exact, so its answer
    # must equal the scan route's cosine top-k
    return json.dumps({"knn": {"field": "vec", "query_vector": vec,
                               "k": k, "nprobe": N_CELLS}})


# each kind's indexed field, and one servable request per kind on it
FIELDS = {"postings": "body", "positional": "body", "presence": "src",
          "range": "n", "span": "body", "geo": "loc", "ivf": "vec"}
QUERIES = {
    "postings": "body:cassandra",
    "positional": 'body:"cassandra world"',
    "presence": "_exists_:src",
    "range": "n:[10 TO 30]",
    "span": _span("cassandra", "delta", 1, True),
    "geo": _geo(57.7, 10.4, 5),
    "ivf": _knn([0.5, -0.2, 0.3], 4),
}


def _build_all(se, table):
    se.build_postings_index(table, "body", materialize=True)
    se.build_phrase_index(table, "body", materialize=True)
    se.build_presence_index(table, "src", materialize=True)
    se.build_range_index(table, "n", materialize=True)
    se.build_span_index(table, "body", materialize=True)
    se.build_geo_index(table, "loc", precision=4, materialize=True)
    se.build_ivf_index(table, "vec", n_cells=N_CELLS, n_iters=1)


def _answer(se, table, query):
    out = se.search(table, "#options:load-rows=false#" + query,
                    default_field="body")
    return sorted((r["id"], round(float(r["_score"]), 6))
                  for r in out.collect())


def _answers(se, table):
    return {kind: _answer(se, table, q) for kind, q in QUERIES.items()}


def _scan_engine(spark, frame, table):
    se = SearchEngine(spark)
    se.register(frame, TableSpec(table, ["id"]))
    return se


def _fresh(spark, frame, table, root):
    se = _scan_engine(spark, frame, table)
    se.attach_indexes(table, root)
    return se


def _files(root, gen):
    """{relative dir: sorted file names} of every kind's generation."""
    out = {}
    for kind in INDEX_KINDS:
        kdir = os.path.join(root, kind)
        for fld in os.listdir(kdir):
            gdir = os.path.join(kdir, fld, f"g{gen}")
            out[os.path.relpath(gdir, root)] = sorted(
                os.path.relpath(os.path.join(d, f), gdir)
                for d, _, fs in os.walk(gdir) for f in fs)
    return out


def _drop_tables(spark, table, gens):
    for g in gens:
        spark.sql(f"DROP TABLE IF EXISTS postings_{table}_body_g{g}")


def test_every_kind_restart_attach_flush_round_trip(spark, tmp_path):
    """build → flush → attach in a fresh engine → mutate → flush on the
    SAME root → attach again. The second flush used to restart its
    generation counter at 0 and overwrite the g0 it was reading from;
    now it derives g1 from the committed manifest and every earlier
    generation directory is left intact."""
    table, root = "reg_rt", str(tmp_path / "idx")
    frame = _frame(spark, ROWS)
    se = _scan_engine(spark, frame, table)
    want = _answers(se, table)
    assert all(want.values())     # every query matches something
    _build_all(se, table)
    assert _answers(se, table) == want
    try:
        report = se.flush_indexes(table, root)
        assert {k for k, v in report.items() if v} == set(INDEX_KINDS)
        assert report["postings"] == [f"postings_{table}_body_g0"]
        assert _answers(se, table) == want
        g0 = _files(root, 0)
        assert all(g0.values())

        se2 = _fresh(spark, frame, table, root)
        assert all(se2.index_entry(k, table, f) for k, f in FIELDS.items())
        assert _answers(se2, table) == want

        # a mutation batch after the restart: every kind takes the delta
        spec = TableSpec(table, ["id"])
        new = _frame(spark, NEW_ROWS)
        mutated = frame.where(F.col("id") != "d00").unionByName(new)
        se2.apply_delta(
            table, build_documents(mutated, spec), build_documents(new, spec),
            spark.createDataFrame([("d00",)], f"{DOC_ID} string"))
        want2 = _answers(_scan_engine(spark, mutated, table), table)
        assert _answers(se2, table) == want2

        report2 = se2.flush_indexes(table, root)
        assert report2["postings"] == [f"postings_{table}_body_g1"]
        with open(os.path.join(root, "_manifest.json")) as f:
            manifest = json.load(f)
        assert manifest["generation"] == 1
        assert {e["kind"] for e in manifest["indexes"]} == set(INDEX_KINDS)
        assert _files(root, 0) == g0        # no committed generation lost
        assert _answers(se2, table) == want2

        se3 = _fresh(spark, mutated, table, root)
        assert _answers(se3, table) == want2
        for kind, fld in FIELDS.items():
            files = se3.index_entry(kind, table, fld).state.base.inputFiles()
            assert files and all("/g1/" in p for p in files), kind
    finally:
        _drop_tables(spark, table, (0, 1))


def test_manifest_commit_crash_keeps_previous_commit(spark, tmp_path,
                                                     monkeypatch):
    """A crash between writing the generations and committing the
    manifest leaves the previous commit attachable (and the flushing
    engine still serving)."""
    table, root = "reg_crash", str(tmp_path / "idx")
    frame = _frame(spark, ROWS)
    se = _scan_engine(spark, frame, table)
    want = _answers(se, table)
    _build_all(se, table)
    try:
        se.flush_indexes(table, root)

        def crash(src, dst):
            raise OSError("crash before the manifest commit")

        monkeypatch.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="crash"):
            se.flush_indexes(table, root)
        monkeypatch.undo()
        assert all(_files(root, 1).values())    # g1 written, uncommitted
        with open(os.path.join(root, "_manifest.json")) as f:
            assert json.load(f)["generation"] == 0
        assert _answers(se, table) == want

        cold = _fresh(spark, frame, table, root)
        for kind, fld in FIELDS.items():
            files = cold.index_entry(kind, table, fld).state.base.inputFiles()
            assert files and all("/g0/" in p for p in files), kind
        assert _answers(cold, table) == want
    finally:
        _drop_tables(spark, table, (0, 1))


def test_attach_indexes_before_first_commit_attaches_nothing(spark, tmp_path):
    se = _scan_engine(spark, _frame(spark, ROWS[:2]), "reg_none")
    report = se.attach_indexes("reg_none", str(tmp_path / "missing"))
    assert report == {kind: [] for kind in INDEX_KINDS}
    assert not se.has_postings("reg_none")
    with pytest.raises(ValueError, match="unknown index kind"):
        se.attach_index("reg_none", "btree", "n", str(tmp_path))


def test_ivf_only_table_keeps_its_index_under_mutations(spark, tmp_path):
    """A table whose ONLY index is IVF used to lose it on the first
    mutation batch (has_postings ignored IVF, so the facade took the
    full-invalidation path). The batch now rides the delta: knn stays
    on the IVF route and finds the inserted vector."""
    engine = CassandraEsIndexEngine(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [0.7, 0.7]),
         ("d", [-1.0, 0.0])], "id string, vec array<double>")
    engine.register(df, TableSpec("ivf_only", ["id"]), build=True)
    se = engine.search_engine
    se.build_ivf_index("ivf_only", "vec", n_cells=2, n_iters=1)
    engine.apply_mutations("ivf_only", spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 0, 1), "insert", "z", [0.1, -0.99])],
        "ts timestamp, op string, id string, vec array<double>"))
    assert se.index_entry("ivf", "ivf_only", "vec") is not None
    out = engine.search("ivf_only", "#options:load-rows=false#" + json.dumps(
        {"knn": {"field": "vec", "query_vector": [0.0, -1.0], "k": 1,
                 "nprobe": 2}}))
    assert "cell#" in out._jdf.queryExecution().executedPlan().toString()
    assert [r["id"] for r in out.collect()] == ["z"]


# -- generated differential test: index-served vs scanned, per kind -------

_words = st.sampled_from(VOCAB + ["zzz"])
LEAVES = {
    "postings": st.one_of(
        st.builds("body:{}".format, _words),
        st.builds(lambda w, k: f"body:{w[:k]}*", _words, st.integers(1, 4)),
        st.builds(lambda w, i: "body:" + w[:i] + "?" + w[i + 1:],
                  _words, st.integers(0, 2)),
        st.builds(lambda a, b: f"body:{a} OR body:{b}", _words, _words)),
    "positional": st.builds(
        lambda ws: 'body:"{}"'.format(" ".join(ws)),
        st.lists(_words, min_size=2, max_size=3)),
    "presence": st.just("_exists_:src"),
    "range": st.one_of(
        st.builds(lambda lo, hi, li, hi_in: "n:{}{} TO {}{}".format(
            "[" if li else "{", lo, hi, "]" if hi_in else "}"),
            st.integers(-5, 45), st.integers(-5, 45), st.booleans(),
            st.booleans()),
        st.builds("n:{}".format, st.integers(0, 40))),
    "span": st.builds(_span, _words, _words, st.integers(0, 3),
                      st.booleans()),
    "geo": st.builds(_geo, st.floats(57.55, 57.85), st.floats(10.25, 10.55),
                     st.sampled_from([1, 3, 8, 20])),
    "ivf": st.builds(_knn, st.lists(st.floats(-1, 1), min_size=3,
                                    max_size=3).filter(
                         lambda v: any(abs(x) > 1e-3 for x in v)),
                     st.integers(1, 6)),
}


@pytest.fixture(scope="module")
def diff_engines(spark):
    frame = _frame(spark, ROWS)
    indexed = _scan_engine(spark, frame, "reg_diff")
    _build_all(indexed, "reg_diff")
    return indexed, _scan_engine(spark, frame, "reg_diff")


@pytest.mark.parametrize("kind", sorted(INDEX_KINDS))
def test_generated_leaves_index_served_equal_scanned(diff_engines, kind):
    indexed, scanned = diff_engines

    @seed(20261017)
    @settings(max_examples=8, deadline=None, database=None,
              suppress_health_check=list(HealthCheck))
    @given(LEAVES[kind])
    def check(query):
        if kind != "ivf":   # the leaf really takes the index route
            node, _ = SearchEngine._parse_node(query)
            assert indexed._postings_hits("reg_diff", node, "body") \
                is not None, query
        assert _answer(indexed, "reg_diff", query) == \
            _answer(scanned, "reg_diff", query), query

    check()
