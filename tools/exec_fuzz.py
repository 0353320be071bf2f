"""Execution-level fuzz harness for the search engine (r14.75).

The parse-level fuzz in ``tests/test_property.py`` guards the DSL
parser; this tool goes further: it generates VALID-SHAPED request
bodies with adversarial leaf values, runs them against a live
engine (search + search_aggs), and reports any exception that is not
part of the typed-error contract (DslError / QueryParseError /
CompileError / ValueError). Every escape it has found so far became a
typed error pinned in ``test_fuzz_regressions_typed_errors`` /
``test_phrase_prefix_non_text_field_typed`` /
``test_dictionary_apis_unknown_field_typed``.

Usage:
    python tools/exec_fuzz.py [--examples N]   # default 300

Exit code 0 when no escapes; 1 otherwise (escapes printed with their
minimal bodies). Wall-clock is dominated by per-query Spark execution
(~100 ms each on the 4-row fixture) — 300 examples ≈ 2-4 minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--examples", type=int, default=300)
    ap.add_argument("--seed", type=int, default=None,
                    help="fix the hypothesis PRNG — reproducible runs "
                         "for the per-round FUZZCHECK artifact")
    ap.add_argument("--json", default=None,
                    help="write a JSON record (examples, executed, "
                         "escapes, seed) to this path")
    args = ap.parse_args()

    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, seed, settings
    from pyspark.sql import functions as F

    from cassandra_es_index_spark import get_spark
    from cassandra_es_index_spark.catalog import TableSpec
    from cassandra_es_index_spark.search import SearchEngine
    from cassandra_es_index_spark.search.compile import CompileError
    from cassandra_es_index_spark.search.es_dsl import (
        DslError, parse_request,
    )
    from cassandra_es_index_spark.search.query_string import (
        QueryParseError,
    )

    spark = get_spark("exec-fuzz")
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, "spark fast data", 10, "2024-01-01 00:00:00", [1.0, 2.0],
          [{"k": "a", "v": 1}]),
         (2, "slow scan spark", 20, "2024-02-01 12:00:00", [0.5, 0.1],
          [{"k": "b", "v": 2}]),
         (3, None, None, None, None, None)],
        "id int, body string, n int, ts string, emb array<double>, "
        "tags array<struct<k:string,v:int>>")
    eng.register(
        df.withColumn("ts", F.col("ts").cast("timestamp")).cache(),
        TableSpec("fz", ["id"]))
    # a second index so "fz*" exercises the multi-index merge +
    # pagination decomposition (r15) — union-by-name schema, shared key.
    # fz2 carries the postings/phrase/presence/range/span indexes while
    # fz stays unindexed, so the same bodies fuzz both the index-served
    # and the scan routes
    eng.register(
        spark.createDataFrame(
            [(9, "spark only here", 5), (10, None, None)],
            "id int, body string, n int").cache(),
        TableSpec("fz2", ["id"]))
    eng.build_postings_index("fz2", "body")
    eng.build_phrase_index("fz2", "body")
    eng.build_presence_index("fz2", "body")
    eng.build_range_index("fz2", "n")
    eng.build_span_index("fz2", "body")

    fields = st.sampled_from(["body", "n", "ts", "id", "emb", "tags",
                              "tags.k", "tags.v", "nope"])
    vals = st.one_of(
        st.integers(-5, 30), st.text("abz*?~ ", max_size=6),
        st.sampled_from(["spark", "2024-01-15", "now-1d/d",
                         "25/01/2024", "1704844800000", "a b", ""]),
        st.floats(allow_nan=False, allow_infinity=False, width=16),
        st.none(), st.booleans(),
        st.lists(st.integers(0, 3), max_size=2))

    def opt(**kw):
        return st.fixed_dictionaries({}, optional=kw)

    wrong = st.one_of(vals, st.sampled_from([True, "x", [1], {"a": 1}]))

    leaf = st.one_of(
        st.builds(lambda f, v: {"term": {f: v}}, fields, vals),
        st.builds(lambda f, v: {"terms": {f: v}}, fields,
                  st.one_of(vals, st.lists(vals, max_size=3))),
        st.builds(lambda f, v, b: {"match": {f: {"query": v, **b}}},
                  fields, vals,
                  opt(operator=st.sampled_from(["and", "or", "xx"]),
                      fuzziness=st.sampled_from(["AUTO", 1, "zz"]))),
        st.builds(
            lambda f, lo, hi, extra: {"range": {f: {"gte": lo,
                                                    "lt": hi,
                                                    **extra}}},
            fields, vals, vals,
            opt(time_zone=st.sampled_from(
                    ["+02:00", "Z", "Mars/X", "Europe/Paris"]),
                format=st.sampled_from(
                    ["epoch_millis", "yyyy", "dd/MM/yyyy||yyyy-MM-dd",
                     "QQ"]),
                boost=vals)),
        st.builds(lambda f, v, fz, pl: {"fuzzy": {f: {
            "value": v, "fuzziness": fz, "prefix_length": pl}}},
            fields, vals, st.sampled_from(["AUTO", 0, 1, 2, 3, "x"]),
            st.integers(-1, 4)),
        st.builds(lambda f, v: {"regexp": {f: v}}, fields,
                  st.sampled_from(["a+", "[", "(a|b)*z", "a{2,1}", 5])),
        st.builds(lambda f, v, s: {"match_phrase": {f: {"query": v,
                                                        "slop": s}}},
                  fields, vals, st.integers(-1, 3)),
        st.builds(lambda f, v: {"match_phrase_prefix": {f: v}},
                  fields, vals),
        st.builds(lambda f, v: {"wildcard": {f: v}}, fields, vals),
        st.builds(lambda f: {"exists": {"field": f}}, fields),
        st.builds(lambda v: {"query_string": {"query": v}}, vals),
        st.builds(lambda p, q: {"nested": {"path": p, "query": q}},
                  st.sampled_from(["tags", "emb", "nope", "body"]),
                  st.sampled_from([{"term": {"tags.k": "a"}},
                                   {"range": {"tags.v": {"gte": 1}}},
                                   {"match_all": {}}])),
        st.just({"match_all": {}}),
    )
    node = st.recursive(
        leaf,
        lambda ch: st.one_of(
            st.builds(lambda m, s, mn, msm: {"bool": {
                "must": m, "should": s, "must_not": mn, **msm}},
                st.lists(ch, max_size=2), st.lists(ch, max_size=2),
                st.lists(ch, max_size=1),
                opt(minimum_should_match=st.sampled_from(
                    [1, -1, "2", "50%", "bad", 99]))),
            st.builds(lambda qs, tb: {"dis_max": {"queries": qs,
                                                  "tie_breaker": tb}},
                      st.lists(ch, max_size=2),
                      st.sampled_from([0.0, 0.5, 1.0, 2.0, -1, "x"])),
            st.builds(lambda q: {"constant_score": {"filter": q}}, ch)),
        max_leaves=6)

    aggs = st.one_of(
        st.builds(lambda f, s: {"t": {"terms": {"field": f,
                                                "size": s}}},
                  fields, st.integers(-1, 5)),
        st.builds(lambda f, i: {"h": {"histogram": {
            "field": f, "interval": i}}},
            fields, st.one_of(st.integers(-1, 10), st.none())),
        st.builds(lambda f, tz: {"d": {"date_histogram": {
            "field": f, "calendar_interval": "day", "time_zone": tz}}},
            fields, st.sampled_from(["+05:30", "America/New_York",
                                     "bogus/Zone", "+99:00"])),
        st.builds(lambda f: {"s": {"stats": {"field": f}}}, fields),
        # spec-checked params given wrong types
        st.builds(lambda f, pt, extra: {"c": {"cardinality": {
            "field": f, "precision_threshold": pt, **extra}}},
            fields, wrong, opt(missing=wrong)),
        st.builds(lambda f, pc, extra: {"p": {"percentiles": {
            "field": f, "percents": pc, **extra}}},
            fields, st.one_of(st.lists(vals, max_size=3), wrong),
            opt(compression=wrong, tdigest=wrong)),
        # one histogram level carrying a per-level pipeline
        st.builds(lambda f, i, pipe: {"h": {
            "histogram": {"field": f, "interval": i},
            "aggs": {"m": {"avg": {"field": f}}, "p": pipe}}},
            fields, st.sampled_from([1, 5, 10]), st.one_of(
                st.builds(lambda lag: {"serial_diff": {
                    "buckets_path": "m", "lag": lag}}, wrong),
                st.builds(lambda w, sh, fn: {"moving_fn": {
                    "buckets_path": "m", "window": w, "shift": sh,
                    "script": f"MovingFunctions.{fn}(values)"}},
                    wrong, wrong,
                    st.sampled_from(["sum", "max", "unweightedAvg",
                                     "stdDev"])))),
        # one nested sub-agg level
        st.builds(lambda f, g, sub: {"t": {
            "terms": {"field": f},
            "aggs": {"s": {"terms": {"field": g}, "aggs": sub}}}},
            fields, fields, st.sampled_from([
                {"m": {"avg": {"field": "n"}}},
                {"m": {"max": {"field": "n"}},
                 "th": {"top_hits": {"size": 1}}},
                {"m": {"sum": {"field": "n"}}, "x": 5}])),
    )
    req = st.builds(
        lambda q, extra: {"query": q, **extra},
        node,
        opt(size=st.integers(-2, 20),
            search_after=st.sampled_from(
                [[1], [1, "fz", 2], [0.5, "fz2", None], ["a"], [],
                 [None, "fz", 1], [1, 2, 3, 4], 5, "x",
                 [True, "fz", 1]]),
            **{"from": st.sampled_from([0, 1, 3, -1, 2.5, "x", 10])},
            sort=st.sampled_from([[{"n": "asc"}], [{"nope": "desc"}],
                                  ["_score"], [{"emb": "asc"}], 5]),
            collapse=st.sampled_from([{"field": "n"},
                                      {"field": "nope"}, {"bad": 1}]),
            highlight=st.sampled_from([
                {"fields": {"body": {}}}, {"fields": {"n": {}}},
                {"fields": {"body": {"number_of_fragments": -1}}}]),
            aggs=aggs, min_score=vals, track_total_hits=vals,
            knn=st.sampled_from([
                {"field": "emb", "query_vector": [1.0, 0.0], "k": 2,
                 "num_candidates": 5},
                {"field": "emb", "query_vector": [1.0], "k": 2,
                 "num_candidates": 5},
                {"field": "body", "query_vector": [1.0, 0.0], "k": 2,
                 "num_candidates": 5}])))

    typed = (DslError, QueryParseError, CompileError, ValueError)
    bad: list = []
    nexec = [0]

    @given(req)
    @settings(max_examples=args.examples, deadline=None,
              suppress_health_check=list(HealthCheck))
    def burn(body):
        q = json.dumps(body)
        try:
            parse_request(body)
        except typed:
            return
        except Exception as e:  # noqa: BLE001 — the point of the tool
            bad.append(("parse", q, type(e).__name__, str(e)[:150]))
            return
        nexec[0] += 1
        try:
            eng.search("fz", q, default_field="body").collect()
        except typed:
            pass
        except Exception as e:  # noqa: BLE001
            bad.append(("search", q, type(e).__name__, str(e)[:150]))
        # the multi-index path (r15): same body over "fz*" walks the
        # merge + the pagination decomposition (body from/search_after
        # strip, PrefixAnchor split, fused-frame offset)
        try:
            eng.search("fz*", q, default_field="body").collect()
        except typed:
            pass
        except Exception as e:  # noqa: BLE001
            bad.append(("multi", q, type(e).__name__, str(e)[:150]))
        if "aggs" in body:
            try:
                eng.search_aggs("fz", q).collect()
            except typed:
                pass
            except Exception as e:  # noqa: BLE001
                bad.append(("aggs", q, type(e).__name__, str(e)[:150]))

    if args.seed is not None:
        burn = seed(args.seed)(burn)
    burn()

    # ingest-processor spec grid (r15): every spec either builds+applies
    # cleanly or raises a typed error — never a KeyError or a JVM
    # pattern/zone crash out of the write path
    from cassandra_es_index_spark import pipelines as P
    pdf = spark.createDataFrame(
        [("1", " a b ", "5", "2024-01-01 00:00:00")],
        "id string, s string, num string, when string")
    specs = [
        {"set": {}}, {"set": {"value": 1}}, {"rename": {"field": "s"}},
        {"gsub": {"field": "s", "pattern": "[", "replacement": ""}},
        {"gsub": {"field": "s", "pattern": 7, "replacement": ""}},
        {"split": {"field": "s", "separator": "("}},
        {"split": {"field": "s", "separator": None}},
        {"split": {"field": 9, "separator": " "}},
        {"convert": {"field": "num", "type": "auto"}},
        {"convert": {"field": "num"}},
        {"date": {"field": "when", "formats": "yyyy"}},
        {"date": {"field": "when", "formats": ["bbbb-qq"]}},
        {"date": {"field": "when",
                  "formats": ["yyyy-MM-dd HH:mm:ss"],
                  "timezone": "Mars/Olympus"}},
        {"append": {"field": "tags"}},
        {"uppercase": {"field": "missing_col"}},
        {"trim": {"field": "num", "extra": True}},  # extras tolerated
        {"x": {"field": "s"}}, "not a dict", {"a": {}, "b": {}},
        {"lowercase": "not a body"},
        {"split": {"field": "s", "separator": "\\s+"}},  # valid
        {"date": {"field": "when", "formats": ["ISO8601"],
                  "timezone": "America/New_York"}},       # valid
    ]
    for sp in specs:
        label = json.dumps(sp, default=str)
        try:
            procs = P.from_processor_specs(
                sp if isinstance(sp, list) else [sp])
            reg = P.PipelineRegistry()
            reg.put("_fz", procs)
            reg.apply("_fz", pdf).collect()
        except typed:
            pass
        except Exception as e:  # noqa: BLE001
            bad.append(("pipeline", label, type(e).__name__,
                        str(e)[:150]))
    print(f"executed {nexec[0]} parse-valid bodies; "
          f"escapes: {len(bad)}")
    seen = set()
    for call, q, t, m in bad:
        key = (call, t, m[:60])
        if key in seen:
            continue
        seen.add(key)
        print(f"ESCAPE [{call}] {t}: {m}\n  BODY {q[:300]}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"examples": args.examples,
                       "executed": nexec[0],
                       "escapes": len(bad),
                       "seed": args.seed,
                       "escape_samples": [
                           {"call": c, "type": t, "msg": m,
                            "body": q[:300]}
                           for c, q, t, m in bad[:20]]}, fh, indent=1)
            fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
