"""Golden corpus of query-clause bodies for the ES DSL parser.

Generates a fixed-seed set of bodies for every query-clause kind the
parser knows, parses each one with ``es_dsl._node`` and records the
outcome: the ``repr`` of the parsed node, ``DslError``, or the type of
any other exception that escaped. Each entry also keeps the body's
parameter object (``null`` for the whole-body wrong types).
``tests/test_dsl_golden.py`` re-parses the committed corpus and checks
that the parser's behaviour only moved in the listed directions.

The keys of each kind are the parameters the parser reads for it; the
values come from a per-key pool of valid values and a shared pool of
wrong-typed JSON (nested clauses included). Half the bodies draw from
the valid pools only and carry the kind's required keys; the other half
mix in the wrong-typed pool and may carry one unknown key, ``zzz``.

The agg section (``--aggs``) does the same for aggregations: each
body is a whole ``{"aggs": ...}`` request parsed by ``parse_request``,
and its outcome is the ``repr`` of the parsed aggs. Every agg kind has
a pool of valid values per key and a placement: metric kinds sit at
the top level or under a bucket, pipeline kinds under a histogram,
date_histogram or terms level beside the metrics they read, sibling
kinds beside a bucket agg, and ``top_hits`` under a terms level. Some
bodies carry sub-agg levels (metrics, pipelines, a nested bucket).
``tests/test_dsl_golden.py`` checks this corpus by the same rules.

Usage:
    python tools/dsl_golden.py --out tests/data/dsl_golden.jsonl
    python tools/dsl_golden.py --check tests/data/dsl_golden.jsonl
    python tools/dsl_golden.py --aggs --out tests/data/dsl_golden_aggs.jsonl
    python tools/dsl_golden.py --check tests/data/dsl_golden_aggs.jsonl

``--out`` writes the corpus from the checkout the tool is run in;
``--check`` re-parses a corpus (either section, read from each entry)
and prints every entry whose outcome differs (exit code 1 when any
does).
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

FIELD = "body"
UNKNOWN = "zzz"
SEED = 20261017
PER_KIND = 40

C1 = {"term": {"body": "a"}}
C2 = {"match": {"title": "b c"}}
ST_A = {"span_term": {"body": "a"}}
ST_B = {"span_term": {"body": "b"}}
ST_T = {"span_term": {"title": "c"}}
SO = {"span_or": {"clauses": [ST_A, ST_B]}}
SM = {"span_multi": {"match": {"prefix": {"body": "ab"}}}}
NEAR = {"span_near": {"clauses": [ST_A, ST_B], "slop": 1}}

# shared pool of (mostly wrong-typed) JSON values
GENERIC = ["x", "a b", "", 0, 1, -1, 2.5, True, False, None, [], ["a"],
           {}, {"a": 1}, C1, [C1]]


def _b64(obj) -> str:
    return base64.b64encode(json.dumps(obj).encode()).decode()


BOOST = [2, 0.5, 1, "3"]
QUERY = ["a b", "ab", "", "a b c", 5]
FUZZ = [1, "AUTO", "AUTO:2,5", "2", 0]
OPER = ["and", "or", "AND"]
MSM = [1, "50%", "-1", "2<50%", 2]
ZTQ = ["none", "all", "ALL"]
FIELDS = [["title", "body^2"], ["body"], ["a^1.5", "b"], ["a^x"]]
CLAUSES = [[C1, C2], [C1], C1, []]
INNER = [{}, {"size": 2}, {"_source": ["a"]}, {"size": 0}]
POINT = [{"lat": 1, "lon": 2}, [2, 1], "1,2", "x", [200, 1]]

# kind -> (shape, {key: valid values}); shapes:
#   object  {kind: {key: v}}
#   leaf    {kind: {FIELD: v}} or {kind: {FIELD: {key: v}}}; the first
#           key is the value key the short form stands for
#   field   {kind: {FIELD: {key: v}}}
#   beside  {kind: {FIELD: value, "boost": b}}
#   intervals / geo_distance: their own layouts
KINDS: dict[str, tuple[str, dict[str, list]]] = {
    "match_all": ("object", {"boost": BOOST}),
    "match_none": ("object", {"boost": BOOST}),
    "term": ("leaf", {"value": ["ab", "A b", 5, True, 2.5],
                      "boost": BOOST,
                      "case_insensitive": [True, False]}),
    "terms": ("beside", {
        "value": [["a", "b"], [], ["a", 5, True],
                  {"index": "i", "id": "1", "path": "p"},
                  {"index": "i", "id": 2, "path": "p"},
                  {"index": "i", "id": "1", "path": "p", "routing": "r"},
                  {"index": 5, "id": "1", "path": "p"}],
        "boost": BOOST}),
    "match": ("leaf", {"query": QUERY, "fuzziness": FUZZ, "boost": BOOST,
                       "operator": OPER, "minimum_should_match": MSM,
                       "fuzzy_transpositions": [True, False],
                       "prefix_length": [0, 1],
                       "zero_terms_query": ZTQ}),
    "fuzzy": ("leaf", {"value": ["ab", "abc", 7], "fuzziness": FUZZ,
                       "boost": BOOST, "rewrite": ["constant_score"],
                       "transpositions": [True, False],
                       "prefix_length": [0, 1],
                       "max_expansions": [10]}),
    "match_phrase": ("leaf", {"query": QUERY, "slop": [0, 1, 2],
                              "boost": BOOST, "zero_terms_query": ZTQ}),
    "terms_set": ("field", {
        "terms": [["a", "b"], [], ["A", "a", "b"], ["a", 5]],
        "minimum_should_match_field": ["n"],
        "minimum_should_match_script": [
            {"source": "params.num_terms - 1"},
            "Math.min(params.num_terms, doc['n'].value)", ""],
        "boost": BOOST}),
    "intervals": ("intervals", {
        "query": ["a b", "ab", "", 5],
        "max_gaps": [-1, 0, 2, -2],
        "ordered": [True, False],
        "boost": BOOST,
        "intervals": [[{"match": {"query": "a b"}},
                       {"prefix": {"prefix": "ab"}}],
                      [{"match": {"query": "c"}}], []],
        "prefix": ["ab", 5],
        "pattern": ["a*b"],
        "term": ["abc"],
        "fuzziness": FUZZ}),
    "constant_score": ("object", {"filter": [C1, C2], "boost": BOOST}),
    "match_phrase_prefix": ("leaf", {"query": QUERY, "slop": [0, 1, 2],
                                     "boost": BOOST,
                                     "max_expansions": [1, 10]}),
    "dis_max": ("object", {"queries": CLAUSES,
                           "tie_breaker": [0.3, 0, 1, "0.5"],
                           "boost": BOOST}),
    "script_score": ("object", {
        "query": [C1, C2],
        "script": [{"source": "doc['n'].value * 2"},
                   {"source": "_score + 1"},
                   "doc['n'].value"],
        "boost": BOOST}),
    "function_score": ("object", {
        "query": [C1, C2],
        "boost_mode": ["multiply", "replace", "sum"],
        "field_value_factor": [{"field": "n"},
                               {"field": "n", "factor": 1.2,
                                "modifier": "log1p"}],
        "script_score": [{"script": {"source": "doc['n'].value * 2"}}],
        "random_score": [{"seed": 1, "field": "_seq_no"}, {}],
        "gauss": [{"n": {"origin": 0, "scale": 10}}],
        "linear": [{"n": {"origin": 0, "scale": 5, "decay": 0.3}}],
        "exp": [{"n": {"scale": 2}}],
        "functions": [[{"filter": C1, "weight": 2},
                       {"field_value_factor": {"field": "n"}}],
                      [{"weight": 3}], [{"weight": "2"}], []],
        "score_mode": ["sum", "max", "first", "multiply"],
        "max_boost": [10, "5"],
        "boost": BOOST}),
    "range": ("field", {"gte": [1, "2024-01-01", "now-1d"],
                        "gt": [0, 2.5], "lte": [10, "2024-12-31"],
                        "lt": [5], "boost": BOOST,
                        "relation": ["intersects", "within"],
                        "time_zone": ["+01:00"],
                        "format": ["yyyy-MM-dd", "epoch_millis"]}),
    "prefix": ("leaf", {"value": ["ab", 5], "boost": BOOST,
                        "case_insensitive": [True, False],
                        "rewrite": ["constant_score"]}),
    "wildcard": ("leaf", {"value": ["a*b", "a?"], "wildcard": ["a*"],
                          "boost": BOOST,
                          "case_insensitive": [True, False],
                          "rewrite": ["constant_score"]}),
    "regexp": ("leaf", {"value": ["a.*", "ab|cd"], "boost": BOOST,
                        "case_insensitive": [True, False],
                        "flags": ["ALL", "NONE"],
                        "max_determinized_states": [10000],
                        "rewrite": ["constant_score"]}),
    "multi_match": ("object", {
        "query": QUERY, "fields": FIELDS, "fuzziness": FUZZ,
        "boost": BOOST,
        "type": ["best_fields", "most_fields", "cross_fields", "phrase",
                 "phrase_prefix", "bool_prefix"],
        "tie_breaker": [0.3, 0, 1], "operator": OPER,
        "minimum_should_match": MSM, "slop": [0, 1],
        "max_expansions": [1, 10], "zero_terms_query": ZTQ}),
    "ids": ("object", {"values": [["1", "2"], [1, 2], []],
                       "boost": BOOST}),
    "exists": ("object", {"field": ["body", 5], "boost": BOOST}),
    "bool": ("object", {"must": CLAUSES, "filter": CLAUSES,
                        "should": CLAUSES, "must_not": CLAUSES,
                        "minimum_should_match": MSM + [-1],
                        "boost": BOOST}),
    "knn": ("object", {"field": ["emb"],
                       "query_vector": [[0.1, 0.2], [1, 2, 3], []],
                       "num_candidates": [10, 100, 0], "k": [5, 1, 200],
                       "filter": CLAUSES, "similarity": [0.5, 1],
                       "boost": BOOST}),
    "wrapper": ("object", {"query": [_b64(C1), _b64(C2), _b64(ST_A),
                                     _b64({"match_all": {}}), "!!",
                                     _b64([1])]}),
    "pinned": ("object", {"ids": [["1", "2"], [], [3], ["a"],
                                  ["1", "2", "3"]],
                          "organic": [C1, C2]}),
    "span_near": ("object", {
        "clauses": [[ST_A, ST_B], [ST_A, SO, SM], [ST_A], [ST_A, ST_T],
                    [{"span_field_masking": {"query": ST_T,
                                             "field": "body"}}, ST_A]],
        "slop": [0, 1], "in_order": [True, False], "boost": BOOST}),
    "span_term": ("leaf", {"value": ["a", 5], "boost": BOOST}),
    "span_or": ("object", {"clauses": [[ST_A, ST_B], [ST_A, ST_T], [],
                                       [ST_A, SM]],
                           "boost": BOOST}),
    "span_multi": ("object", {
        "match": [{"prefix": {"body": "ab"}},
                  {"fuzzy": {"body": {"value": "ab", "fuzziness": 1}}},
                  {"wildcard": {"body": "a*"}},
                  {"regexp": {"body": "a.*"}}, {"term": {"body": "a"}}]}),
    "span_first": ("object", {"match": [ST_A, SO, C1], "end": [0, 3, -1],
                              "boost": BOOST}),
    "span_not": ("object", {"include": [ST_A, SO],
                            "exclude": [ST_B, ST_T], "pre": [0, 1],
                            "post": [0, 2], "dist": [1], "boost": BOOST}),
    "span_containing": ("object", {
        "big": [NEAR, SO, ST_A,
                {"span_near": {"clauses": [ST_A, ST_B], "boost": 2}}],
        "little": [ST_A, ST_T], "boost": BOOST}),
    "span_within": ("object", {
        "big": [NEAR, SO, ST_A,
                {"span_near": {"clauses": [ST_A, ST_B], "boost": 2}}],
        "little": [ST_A, ST_T], "boost": BOOST}),
    "geo_distance": ("geo_distance", {"distance": ["10km", "bad", 5],
                                      "value": POINT, "boost": BOOST}),
    "geo_bounding_box": ("beside", {
        "value": [{"top_left": {"lat": 10, "lon": 0},
                   "bottom_right": {"lat": 0, "lon": 10}},
                  {"top_left": [0, 0], "bottom_right": [10, 10]},
                  {"top_left": [0, 10], "bottom_right": [10, 0]}],
        "boost": BOOST}),
    "boosting": ("object", {"positive": [C1], "negative": [C2],
                            "negative_boost": [0.5, 0, 1, "0.2"],
                            "boost": BOOST}),
    "nested": ("object", {"path": ["comments"], "query": [C1],
                          "score_mode": ["avg", "sum", "none", "max"],
                          "boost": BOOST, "inner_hits": INNER}),
    "has_child": ("object", {"type": ["child"], "query": [C1],
                             "score_mode": ["none", "max", "avg"],
                             "min_children": [1, 2, 0],
                             "max_children": [3, 1], "boost": BOOST,
                             "ignore_unmapped": [False, True],
                             "inner_hits": INNER}),
    "has_parent": ("object", {"parent_type": ["p"], "query": [C1],
                              "score": [True, False], "boost": BOOST,
                              "ignore_unmapped": [False, True],
                              "inner_hits": INNER}),
    "parent_id": ("object", {"type": ["child"], "id": ["1", 7],
                             "boost": BOOST,
                             "ignore_unmapped": [False, True]}),
    "query_string": ("object", {
        "query": ["a AND b", "title:x", "a b", "((", "a OR b c"],
        "default_field": ["body"], "fields": FIELDS,
        "default_operator": OPER, "tie_breaker": [0.3, 0, 1],
        "boost": BOOST}),
    "simple_query_string": ("object", {
        "query": ["a +b", "-c", "", "x | y"], "default_operator": OPER,
        "fields": FIELDS, "boost": BOOST}),
    "match_bool_prefix": ("leaf", {"query": QUERY, "operator": OPER,
                                   "boost": BOOST}),
    "combined_fields": ("object", {"query": QUERY,
                                   "fields": FIELDS + [["a", 5]],
                                   "operator": OPER, "boost": BOOST}),
    "more_like_this": ("object", {
        "fields": [["body"], ["a", "b"], []],
        "like": ["text here", ["x", {"_id": "1"}], {"_id": 2}],
        "unlike": ["y", [{"_id": "3"}]],
        "max_query_terms": [25, 1, 0], "min_term_freq": [1, 2],
        "min_doc_freq": [1, 5], "max_doc_freq": [10],
        "minimum_should_match": ["30%", 2, "-1"],
        "include": [True, False], "boost": BOOST}),
    "geo_shape": ("field", {
        "shape": [{"type": "envelope", "coordinates": [[0, 10], [10, 0]]},
                  {"type": "point", "coordinates": [1, 2]},
                  {"type": "polygon",
                   "coordinates": [[[0, 0], [0, 10], [10, 10], [0, 0]]]},
                  {"type": "circle", "coordinates": [1, 2],
                   "radius": "10km"}],
        "indexed_shape": [{"index": "shapes", "id": "1", "path": "loc"},
                          {"index": "s", "id": "1"}],
        "relation": ["intersects", "within", "disjoint", "contains"],
        "boost": BOOST}),
    "geo_polygon": ("beside", {
        "value": [{"points": [[0, 0], [0, 10], [10, 10]]},
                  {"points": [[0, 0], [1, 1]]},
                  {"points": [[0, 0], [0, 10], [10, 10]], "zzz": 1}],
        "boost": BOOST}),
    "geo_grid": ("beside", {"value": [{"geohash": "u0"},
                                      {"geotile": "3/1/2"},
                                      {"geohex": "x"},
                                      {"geotile": "40/1/1"}],
                            "boost": BOOST}),
    "percolate": ("object", {"field": ["query"],
                             "document": [{"body": "a"}],
                             "documents": [[{"body": "a"}, {"body": "b"}],
                                           [], [{"n": 1}, {"n": "x"}]]}),
    "script": ("object", {"script": [{"source": "doc['n'].value > 5"},
                                     "doc['n'].value > 1",
                                     {"source": "doc['n'].value + 1"}],
                          "boost": BOOST}),
    "sparse_vector": ("object", {"field": ["body"],
                                 "query_vector": [{"a": 1.0, "b": 0.5},
                                                  {"a": 2}, {"x": 1, "y": 3},
                                                  {}, {"a": -1}],
                                 "boost": [2, 0.5, -1]}),
    "rank_feature": ("object", {"field": ["pagerank"],
                                "saturation": [{"pivot": 8}, {}],
                                "log": [{"scaling_factor": 4}],
                                "sigmoid": [{"pivot": 7, "exponent": 0.6}],
                                "linear": [{}], "boost": BOOST}),
    "distance_feature": ("object", {"field": ["date", "loc"],
                                    "origin": ["now", "2024-01-01",
                                               [1, 2], "1,2", 5],
                                    "pivot": ["7d", "1km", 5],
                                    "boost": BOOST}),
}

# keys a valid-mode body always carries
REQUIRED = {
    "terms_set": ["terms"], "constant_score": ["filter"],
    "dis_max": ["queries"], "script_score": ["query", "script"],
    "multi_match": ["query", "fields"], "ids": ["values"],
    "exists": ["field"], "knn": ["field", "query_vector"],
    "wrapper": ["query"], "pinned": ["ids", "organic"],
    "span_near": ["clauses"], "span_or": ["clauses"],
    "span_multi": ["match"], "span_first": ["match", "end"],
    "span_not": ["include", "exclude"],
    "span_containing": ["big", "little"], "span_within": ["big", "little"],
    "geo_distance": ["distance"], "boosting": ["positive", "negative"],
    "nested": ["path", "query"], "has_child": ["type", "query"],
    "has_parent": ["parent_type", "query"], "parent_id": ["type", "id"],
    "query_string": ["query"], "simple_query_string": ["query"],
    "combined_fields": ["query", "fields"], "more_like_this": ["like"],
    "percolate": ["field", "document"], "script": ["script"],
    "sparse_vector": ["field", "query_vector"], "rank_feature": ["field"],
    "distance_feature": ["field", "origin", "pivot"],
}

# keys each intervals rule reads
_RULE_KEYS = {"match": ("query", "max_gaps", "ordered", "boost"),
              "any_of": ("intervals",),
              "all_of": ("intervals", "ordered", "max_gaps"),
              "prefix": ("prefix",), "wildcard": ("pattern",),
              "fuzzy": ("term", "fuzziness")}
_WHOLE_BODY = [None, "x", 5, [], True]


def _value(rng: random.Random, pool: list, valid: bool):
    if valid or rng.random() < 0.7:
        return rng.choice(pool)
    return rng.choice(GENERIC)


def _params(rng: random.Random, kind: str, valid: bool,
            names=None) -> dict:
    keys = KINDS[kind][1]
    names = list(keys if names is None else names)
    must = REQUIRED.get(kind, []) if valid else []
    out = {k: _value(rng, keys[k], valid) for k in names
           if k in must or rng.random() < (0.3 if valid else 0.5)}
    if not valid and rng.random() < 0.15:
        out[UNKNOWN] = rng.choice(GENERIC)
    return out


def _body(rng: random.Random, kind: str, valid: bool) -> tuple[object, dict]:
    """One random body for ``kind`` and its parameter object (the short
    form's value and a beside-the-field value appear under their key);
    a ``valid`` body takes its values from the per-key pools only and
    carries the kind's required keys."""
    shape, keys = KINDS[kind]
    if shape == "leaf" and rng.random() < 0.25:
        vkey = next(iter(keys))
        value = _value(rng, keys[vkey], valid)
        return {FIELD: value}, {vkey: value}
    if shape in ("object", "field", "leaf"):
        p = _params(rng, kind, valid)
        return (p if shape == "object" else {FIELD: p}), p
    if shape == "intervals":
        rule = rng.choice(sorted(_RULE_KEYS))
        p = _params(rng, kind, valid, _RULE_KEYS[rule])
        return {FIELD: {rule: p}}, p
    # beside / geo_distance: the field value sits next to the params
    p = _params(rng, kind, valid, [k for k in keys if k != "value"])
    value = _value(rng, keys["value"], valid)
    return {**p, FIELD: value}, {**p, "value": value}


def corpus() -> list[dict]:
    """The fixed-seed bodies, in a stable order, without outcomes."""
    rng = random.Random(SEED)
    out: list[dict] = []
    for kind in KINDS:
        seen: set[str] = set()
        for body in _WHOLE_BODY:
            out.append({"kind": kind, "body": body, "params": None})
        # small key spaces run out of new bodies: stop after 4x tries
        for i in range(8 * PER_KIND):
            body, params = _body(rng, kind, valid=i % 2 == 0)
            sig = json.dumps(body, sort_keys=True)
            if sig not in seen and len(seen) < 2 * PER_KIND:
                seen.add(sig)
                out.append({"kind": kind, "body": body, "params": params})
    return out


# ------------------------------------------------------------ agg section

AGG_PER_KIND = 30

F_NUM, F_TEXT, F_TS = ["n", "m"], ["body", "title"], ["ts"]
MISSING = [0, 1.5, "x"]
PERCENTS = [[50], [1, 99.9], [], [101], [0, 100]]
BPATH = ["m", "_count", "st_avg", "nope", "st.avg"]
RANGES = [[{"to": 5}, {"from": 5, "to": 10}, {"from": 10}],
          [{"from": 1, "to": 2, "key": "a"}], [], [{"key": "x"}],
          [{"from": "a"}], [{"to": 5}, {"to": 5}], [{"from": 1.5}]]
METRIC = {"m": {"avg": {"field": "n"}}}
SUBS = [METRIC,
        {"m": {"avg": {"field": "n"}}, "st": {"stats": {"field": "n"}}},
        {"s": {"terms": {"field": "title"}}},
        {"s": {"terms": {"field": "title"},
               "aggs": {"m": {"max": {"field": "n"}}}}},
        {"th": {"top_hits": {"size": 1}}},
        {"s": {"histogram": {"field": "n", "interval": 2},
               "aggs": {"m": {"sum": {"field": "n"}},
                        "c": {"cumulative_sum": {"buckets_path": "m"}}}}},
        {"s": {"sampler": {}}}, {"g": {"global": {}}}]
SOURCES = [
    [{"a": {"terms": {"field": "body"}}}],
    [{"h": {"histogram": {"field": "n", "interval": 5}}},
     {"t": {"terms": {"field": "body", "order": "desc",
                      "missing_bucket": True}}}],
    [{"d": {"date_histogram": {"field": "ts", "calendar_interval": "day",
                               "offset": "+1h", "time_zone": "+01:00"}}}],
    [{"d": {"date_histogram": {"field": "ts", "fixed_interval": "1h",
                               "offset": "x"}}}],
    [{"d": {"date_histogram": {"field": "ts", "calendar_interval": "day",
                               "time_zone": "Europe/Paris"}}}],
    [{"g": {"geotile_grid": {"field": "loc", "precision": 8}}}],
    [{"g": {"geotile_grid": {"field": "loc", "precision": True}}}],
    [{"a": {"terms": {"field": "x"}}}, {"a": {"terms": {"field": "y"}}}],
    [{"h": {"histogram": {"field": "n"}}}],
    [{"h": {"histogram": {"field": "n", "interval": True}}}],
    [{"a": {"terms": {"field": 5}}}],
    [{"a": {"terms": {"field": "n", "missing_bucket": 1}}}],
    [{"a": {"terms": {"field": "n", "zzz": 1}}}],
    [{"a": {"median": {"field": "n"}}}], [{"a": {}}], [5], []]
SIG = {"field": F_TEXT, "size": [5, 10, 0, 2.5],
       "background_filter": [C1, C2, {}], "min_doc_count": [1, 3, 0],
       "jlh": [{}], "percentage": [{}, {"x": 1}],
       "chi_square": [{"include_negatives": True},
                      {"background_is_superset": False}, {"x": 1},
                      {"include_negatives": 1}],
       "mutual_information": [{}], "gnd": [{}]}
GRID = {"field": ["loc"], "size": [10, 3, 0, 2.5]}
SIMPLE = {"field": F_NUM + F_TEXT, "missing": MISSING}
PIPE_HOST = ["histogram", "histogram", "date_histogram", "terms"]
SIBLING_BP = ["h>m", "h>_count", "h>s>m", "h>nope", "m", "x>m", "h>st.avg"]

# kind -> (placement, {key: valid values}); placements:
#   metric    {name: {kind: params}} at the top level or under a bucket
#   bucket    {name: {kind: params, "aggs"?: sub-aggs}} at the top level
#   pipeline  under a histogram / date_histogram / terms level
#   sibling   beside a histogram or terms level
#   top_hits  under a terms level (innermost, or not)
#   value     the kind's body is drawn whole from the "value" pool
# A pool under "aggs" gives the entry's sub-aggs.
AGG_KINDS: dict[str, tuple[str, dict[str, list]]] = {
    **{k: ("metric", SIMPLE) for k in (
        "avg", "sum", "min", "max", "value_count", "stats",
        "extended_stats", "geo_centroid", "geo_bounds", "string_stats")},
    "cardinality": ("metric", {**SIMPLE,
                               "precision_threshold": [100, 1, 0,
                                                       True]}),
    "percentiles": ("metric", {**SIMPLE, "percents": PERCENTS,
                               "compression": [100, 50, 0, True],
                               "tdigest": [{"compression": 200}, {},
                                           {"compression": 0}]}),
    "percentile_ranks": ("metric", {"field": F_NUM,
                                    "values": [[1, 5], [2.5], []]}),
    "boxplot": ("metric", {"field": F_NUM, "compression": [100, 5, 0, True]}),
    "median_absolute_deviation": ("metric", {"field": F_NUM,
                                             "compression": [100, 20, 0]}),
    "weighted_avg": ("metric", {
        "value": [{"field": "n"}, {"field": "m"}, {}],
        "weight": [{"field": "w"}, {"field": "n"}, {}]}),
    "matrix_stats": ("metric", {"fields": [["a", "b"], ["a", "b", "c"],
                                           ["a"], ["a", "a"]]}),
    "top_metrics": ("metric", {
        "metrics": [{"field": "n"}, [{"field": "n"}, {"field": "m"}], [],
                    [{"field": "n"}, {"field": "n"}]],
        "sort": [{"ts": "desc"}, {"n": "asc"}, "_score",
                 [{"a": "asc"}, {"b": "asc"}]],
        "size": [1, 3, 11, 0]}),
    "reverse_nested": ("metric", {
        "value": [{}, None],
        "aggs": [{"c": {"avg": {"field": "n"}}},
                 {"c": {"cardinality": {"field": "n"}}}, {},
                 {"c": {"cardinality": {"field": "n",
                                        "precision_threshold": 10}}},
                 {"c": {"stats": {"field": "n"}}},
                 {"c": {"terms": {"field": "n"}}}]}),
    "rate": ("metric", {"unit": ["day", "hour", "month"],
                        "field": F_NUM, "mode": ["sum", "value_count",
                                                 "x"]}),
    "t_test": ("metric", {
        "a": [{"field": "n"}, {"field": "n", "filter": C1},
              {"filter": C1}],
        "b": [{"field": "m"}, {"field": "n"},
              {"field": "m", "filter": C2}],
        "type": ["heteroscedastic", "homoscedastic", "paired", "x"]}),
    "geo_line": ("metric", {"point": [{"field": "loc"}, {"field": "pt"}, {}],
                            "sort": [{"field": "ts"}, {"field": "n"}, {}],
                            "size": [10, 5, 0, 10001],
                            "sort_order": ["asc", "desc", "up"],
                            "include_sort": [False, True]}),
    "scripted_metric": ("metric", {
        "init_script": ["state.s = 0", "state.s = 0; state.c = 0",
                        "state.s = 1"],
        "map_script": ["state.s += doc['n'].value",
                       "state.s += doc['n'].value * 2",
                       "state.s += doc['n'].value; state.c += 1",
                       "state.x += 1", "state.s += doc['n'].value > 1"],
        "combine_script": ["return state.s", "return state.s * 2",
                           "return state.s / state.c",
                           "return state.q"],
        "reduce_script": ["return states[0]",
                          "double t = 0; for (s in states) { t += s } "
                          "return t", "return 1"]}),
    "terms": ("bucket", {
        "field": F_TEXT + F_NUM, "size": [1, 10, 0, -1],
        "order": [{"_count": "asc"}, {"_key": "desc"},
                  [{"m": "desc"}, {"_key": "asc"}], {"bad": "asc"},
                  {"_count": "up"}, [], {"st.avg": "asc"},
                  [{"_key": "asc"}, {"_key": "desc"}]],
        "missing": ["N/A", 0], "min_doc_count": [0, 2, -1, True],
        "include": ["a.*", ["a", "b"], {"partition": 0,
                                        "num_partitions": 4},
                    {"partition": 5, "num_partitions": 4}, []],
        "exclude": ["z.*", ["x"], {"partition": 0, "num_partitions": 2}],
        "aggs": SUBS}),
    "histogram": ("bucket", {
        "field": F_NUM, "interval": [5, 2.5, 0, -1, "5"],
        "offset": [1, 2.5, -3, "1"], "missing": [0],
        "min_doc_count": [0, 1, 3],
        "extended_bounds": [{"min": 0, "max": 100},
                            {"min": -10, "max": 10}, {"min": 0}],
        "hard_bounds": [{"min": 0, "max": 50}, {"min": -5, "max": 5},
                        {"min": "a", "max": 5}, {"max": 5}],
        "aggs": SUBS}),
    "date_histogram": ("bucket", {
        "field": F_TS, "calendar_interval": ["day", "1M", "week"],
        "fixed_interval": ["1h", "30s"],
        "offset": ["+6h", "-1d", "6h", "x"], "missing": ["2024-01-01"],
        "min_doc_count": [0, 1],
        "extended_bounds": [{"min": "2024-01-01", "max": "2024-02-01"}],
        "hard_bounds": [{"min": "2024-01-01", "max": "2024-03-01"},
                        {"min": 0, "max": 5}],
        "time_zone": ["+01:00", "Europe/Paris", "Mars/X", "Z", ""],
        "aggs": SUBS}),
    "range": ("bucket", {"field": F_NUM, "ranges": RANGES,
                         "keyed": [True, False], "aggs": SUBS}),
    "date_range": ("bucket", {
        "field": F_TS,
        "ranges": [[{"to": "now-1d/d"}, {"from": "2024-01-01"}],
                   [{"from": "2024-01-01", "to": "2024-02-01",
                     "key": "jan"}], [{"from": 5}], [],
                   [{"to": "2024"}, {"to": "2024"}]],
        "keyed": [True, False],
        "format": ["yyyy-MM-dd", "yyyy", "", "QQQ"],
        "aggs": SUBS}),
    "ip_range": ("bucket", {
        "field": ["ip"],
        "ranges": [[{"to": "10.0.0.5"}, {"from": "10.0.0.5"}],
                   [{"mask": "10.0.0.0/25"}], [{"mask": "::1/128"}],
                   [{"from": "x"}], [{"from": "::1"}],
                   [{"mask": "10.0.0.0/8", "from": "1.1.1.1"}]],
        "keyed": [True, False], "aggs": SUBS}),
    "filters": ("bucket", {
        "filters": [{"a": C1, "b": C2}, {"a": C1}, {}],
        "keyed": [True, False], "other_bucket": [True, False],
        "other_bucket_key": ["_other_", "rest", "a", ""], "aggs": SUBS}),
    "adjacency_matrix": ("bucket", {
        "filters": [{"a": C1, "b": C2}, {"x": C1}, {"a&b": C1}, {}],
        "aggs": SUBS}),
    "ip_prefix": ("bucket", {"field": ["ip"],
                             "prefix_length": [24, 8, 0, 33],
                             "is_ipv6": [False, True],
                             "append_prefix_length": [True, False],
                             "min_doc_count": [1, 0], "aggs": SUBS}),
    "geo_distance": ("bucket", {
        "field": ["loc"],
        "origin": [{"lat": 1, "lon": 2}, "1,2", [2, 1], "x"],
        "ranges": RANGES, "unit": ["km", "m", "parsec"],
        "distance_type": ["arc", "plane"], "aggs": SUBS}),
    "significant_terms": ("bucket", SIG),
    "significant_text": ("bucket", SIG),
    "rare_terms": ("bucket", {"field": F_TEXT,
                              "max_doc_count": [1, 2, 0, True],
                              "aggs": SUBS}),
    "multi_terms": ("bucket", {
        "terms": [[{"field": "a"}, {"field": "b"}],
                  [{"field": "a"}, {"field": "c"}], [{"field": "a"}],
                  [{"field": "a"}, {"field": "a"}], [{"field": "a"}, {}]],
        "size": [5, 1, 0, True], "aggs": SUBS}),
    "geotile_grid": ("bucket", {**GRID, "precision": [7, 0, 29, 30],
                                "aggs": SUBS}),
    "geohash_grid": ("bucket", {**GRID, "precision": [5, 1, 12, 13, 0],
                                "aggs": SUBS}),
    "auto_date_histogram": ("bucket", {"field": F_TS,
                                       "buckets": [10, 1, 0],
                                       "aggs": SUBS}),
    "categorize_text": ("bucket", {"field": F_TEXT, "size": [10, 3, 0],
                                   "aggs": SUBS}),
    "variable_width_histogram": ("bucket", {"field": F_NUM,
                                            "buckets": [10, 1, 257, 0],
                                            "aggs": SUBS}),
    "frequent_item_sets": ("bucket", {
        "fields": [[{"field": "tags"}], [{"field": "body"}],
                   [{"field": "a"}, {"field": "b"}], [], [{}]],
        "minimum_support": [0.1, 1, 0, 1.5],
        "minimum_set_size": [2, 3, 4], "size": [10, 5, 0, 10001],
        "aggs": SUBS}),
    "composite": ("bucket", {"sources": SOURCES, "size": [10, 1, 0, True],
                             "after": [{"a": "x"}, {"zz": 1}],
                             "aggs": SUBS}),
    "nested": ("bucket", {
        "path": ["items", "tags", "items.sub"],
        "aggs": [{"t": {"terms": {"field": "items.k"}}},
                 {"m": {"avg": {"field": "items.v"}}},
                 {"n2": {"nested": {"path": "x"}}},
                 {"s": {"sampler": {}}}]}),
    "children": ("bucket", {"type": ["child", "kid", ""], "aggs": SUBS}),
    "parent": ("bucket", {"type": ["parent", "doc", ""], "aggs": SUBS}),
    "sampler": ("bucket", {"shard_size": [100, 1, 0], "aggs": SUBS}),
    "diversified_sampler": ("bucket", {
        "shard_size": [100, 5, 0], "field": F_TEXT + [""],
        "max_docs_per_value": [1, 3, 0], "aggs": SUBS}),
    "random_sampler": ("bucket", {"probability": [0.5, 1, 0, 1.5],
                                  "seed": [0, 7, -1], "aggs": SUBS}),
    "filter": ("value", {"value": [C1, C2, {}], "aggs": SUBS}),
    "missing": ("bucket", {"field": F_TEXT, "aggs": SUBS}),
    "global": ("value", {"value": [{}, None, {"a": 1}], "aggs": SUBS}),
    "cumulative_sum": ("pipeline", {"buckets_path": BPATH}),
    "derivative": ("pipeline", {"buckets_path": BPATH,
                                "unit": ["1d", "30s", "1M"]}),
    "serial_diff": ("pipeline", {"buckets_path": BPATH,
                                 "lag": [1, 7, 0, True]}),
    "moving_fn": ("pipeline", {
        "buckets_path": BPATH,
        "script": ["MovingFunctions.unweightedAvg(values)",
                   "MovingFunctions.max(values)",
                   "MovingFunctions.stdDev(values)"],
        "window": [5, 1, 0, True], "shift": [0, 1, -1, True]}),
    "moving_avg": ("pipeline", {
        "buckets_path": BPATH, "window": [5, 1, 101],
        "model": ["simple", "linear", "ewma", "holt"],
        "settings": [{"alpha": 0.5}, {}, {"alpha": 2}, {"beta": 1}]}),
    "moving_percentiles": ("pipeline", {"buckets_path": ["pc", "m"],
                                        "window": [3, 5, 0, 1001],
                                        "shift": [0, 2]}),
    "cumulative_cardinality": ("pipeline", {"buckets_path": ["cd", "m"]}),
    "normalize": ("pipeline", {"buckets_path": BPATH,
                               "method": ["rescale_0_1", "softmax",
                                          "z-score", "bad"]}),
    "bucket_script": ("pipeline", {
        "buckets_path": [{"a": "m"}, {"a": "m", "b": "_count"}, {},
                         {"a": "nope"}, "m"],
        "script": ["params.a * 2", "params.a / params.b",
                   "Math.log(params.a)"]}),
    "bucket_selector": ("pipeline", {
        "buckets_path": [{"a": "m"}, {"a": "m", "b": "_count"}, {},
                         {"a": "nope"}],
        "script": ["params.a > 1", "params.a + params.b > 2", "x("]}),
    "bucket_sort": ("pipeline", {
        "sort": [[{"m": "desc"}], [{"_key": "asc"}], [{"nope": "asc"}],
                 "m"],
        "size": [3, 1, 0, True]}),
    **{k: ("sibling", {"buckets_path": SIBLING_BP}) for k in (
        "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
        "stats_bucket", "extended_stats_bucket", "change_point")},
    "percentiles_bucket": ("sibling", {"buckets_path": SIBLING_BP,
                                       "percents": PERCENTS}),
    "bucket_count_ks_test": ("sibling", {
        "buckets_path": ["h>_count", "h>m"],
        "alternative": [["less"], ["two_sided", "greater"], [], ["x"]],
        "fractions": [[0.5, 0.5], [1, 3], [1], [0, 0], [1, 2, 3]]}),
    "bucket_correlation": ("sibling", {
        "buckets_path": ["h>_count", "h>m"],
        "function": [
            {"count_correlation": {"indicator": {"expectations": [1, 2,
                                                                  3]}}},
            {"count_correlation": {"indicator": {"expectations": [2, 4]}}},
            {"count_correlation": {"indicator": {"expectations": [1],
                                                 "doc_count": 5}}},
            {"x": {}}, {"count_correlation": {"indicator": {}}}]}),
    "top_hits": ("top_hits", {
        "size": [1, 3, 0, -1, True], "_source": ["body", ["a", "b"], [5]],
        "sort": [[{"n": "desc"}], "n",
                 [{"_geo_distance": {"loc": [0, 0]}}]]}),
}

# keys a valid-mode params object always carries; a tuple is a choice
AGG_REQUIRED: dict[str, list] = {
    **{k: ["field"] for k, (place, keys) in AGG_KINDS.items()
       if "field" in keys and place in ("metric", "bucket")},
    "percentile_ranks": ["field", "values"],
    "weighted_avg": ["value", "weight"], "matrix_stats": ["fields"],
    "top_metrics": ["metrics", "sort"], "rate": ["unit"],
    "t_test": ["a", "b"], "geo_line": ["point", "sort"],
    "scripted_metric": ["init_script", "map_script", "combine_script",
                        "reduce_script"],
    "histogram": ["field", "interval"],
    "date_histogram": ["field", ("calendar_interval", "fixed_interval")],
    "range": ["field", "ranges"], "date_range": ["field", "ranges"],
    "ip_range": ["field", "ranges"], "filters": ["filters"],
    "adjacency_matrix": ["filters"], "ip_prefix": ["field",
                                                   "prefix_length"],
    "geo_distance": ["field", "origin", "ranges"],
    "multi_terms": ["terms"], "frequent_item_sets": ["fields"],
    "composite": ["sources"], "nested": ["path"], "children": ["type"],
    "parent": ["type"], "random_sampler": ["probability"],
    "diversified_sampler": ["field"],
    "moving_fn": ["buckets_path", "script", "window"],
    "moving_percentiles": ["buckets_path", "window"],
    "bucket_script": ["buckets_path", "script"],
    "bucket_selector": ["buckets_path", "script"],
    **{k: ["buckets_path"] for k, (place, keys) in AGG_KINDS.items()
       if "buckets_path" in keys and k not in (
           "moving_fn", "moving_percentiles", "bucket_script",
           "bucket_selector")},
}
_AGG_WHOLE = [None, "x", 5, [], True, {}]
# whole-request bodies: the aggs object itself and a level's sub-aggs
_AGG_LEVELS = [{"aggs": v} for v in _AGG_WHOLE + [[1], {"t": 5},
                                                  {"t": {}}]] + [
    {"aggs": {"t": {"terms": {"field": "body"}, "aggs": v}}}
    for v in _AGG_WHOLE + [[1], {"m": 5}, {"m": {}}]] + [
    {"aggregations": {"t": {"terms": {"field": "body"}}}},
    {"aggs": {"t": {"terms": {"field": "body"}},
              "u": {"terms": {"field": "title"}}}},
    {"aggs": {"t": {"terms": {"field": "body"}, "zzz": 1}}},
    {"aggs": {"m": {"avg": {"field": "n"}}, "t": {"terms": {
        "field": "body"}}}},
    {"aggs": {"t": {"terms": {"field": "body"}, "aggs": {
        "a": {"terms": {"field": "x"}}, "b": {"terms": {"field": "y"}}}}}},
    {"aggs": {"t": {"terms": {"field": "body"}, "aggs": {
        "a": {"top_hits": {}}, "b": {"top_hits": {}}}}}},
    {"aggs": {"m": {"median": {"field": "n"}}}},
    {"aggs": {"m": {"avg": {"field": "n"}, "sum": {"field": "n"}}}},
    {"aggs": {"s": {"avg_bucket": {"buckets_path": "h>m"}}}},
]


def _agg_value(rng: random.Random, pool: list, mode: str):
    """A value for one key: ``good`` draws from the pool's first two
    values (valid ones), ``valid`` from the whole pool, ``mixed`` also
    from the shared wrong-typed pool."""
    if mode == "good":
        return rng.choice(pool[:2])
    return _value(rng, pool, mode == "valid")


def _agg_params(rng: random.Random, kind: str, mode: str) -> dict:
    keys = {k: v for k, v in AGG_KINDS[kind][1].items() if k != "aggs"}
    out = {}
    for k in AGG_REQUIRED.get(kind, []) if mode != "mixed" else []:
        k = rng.choice(k) if isinstance(k, tuple) else k
        out[k] = _agg_value(rng, keys[k], mode)
    for k in keys:
        if k not in out and rng.random() < (0.5 if mode == "mixed"
                                            else 0.3):
            out[k] = _agg_value(rng, keys[k], mode)
    if mode == "mixed" and rng.random() < 0.15:
        out[UNKNOWN] = rng.choice(GENERIC)
    return out


def _pipe_host(rng: random.Random, entry: dict) -> dict:
    host = rng.choice(PIPE_HOST)
    params = {"histogram": {"field": "n", "interval": 5},
              "date_histogram": {"field": "ts",
                                 "calendar_interval": "day"},
              "terms": {"field": "body"}}[host]
    subs = {"m": {"avg": {"field": "n"}},
            "pc": {"percentiles": {"field": "n", "percents": [50]}},
            "cd": {"cardinality": {"field": "n"}},
            "st": {"stats": {"field": "n"}}, "p": entry}
    if rng.random() < 0.1:
        subs["s"] = {"terms": {"field": "title"}}
    return {"h": {host: params, "aggs": subs}}


def _agg_body(rng: random.Random, kind: str, mode: str,
              value=None, whole=False) -> tuple[dict, object]:
    """One random request for ``kind`` and the kind's parameter object
    (``whole``: ``value`` is the kind's body)."""
    place, keys = AGG_KINDS[kind]
    if whole:
        params = value
    elif place == "value" or kind == "reverse_nested":
        params = _agg_value(rng, keys["value"], mode)
    else:
        params = _agg_params(rng, kind, mode)
    entry = {kind: params}
    if "aggs" in keys and rng.random() < 0.5:
        entry["aggs"] = _agg_value(rng, keys["aggs"], mode)
    if place in ("bucket", "value"):
        return {"aggs": {"a": entry}}, params
    if place == "metric":
        if rng.random() < 0.5:
            return {"aggs": {"x": entry}}, params
        host = rng.choice([{"terms": {"field": "body"}},
                           {"histogram": {"field": "n", "interval": 5}}])
        return {"aggs": {"h": {**host, "aggs": {"x": entry}}}}, params
    if place == "pipeline":
        return {"aggs": _pipe_host(rng, entry)}, params
    if place == "top_hits":
        subs = {"th": entry}
        if rng.random() < 0.25:
            subs["s"] = {"terms": {"field": "title"}}
        return {"aggs": {"t": {"terms": {"field": "body"},
                               "aggs": subs}}}, params
    # sibling: beside a histogram "h", maybe holding a terms level "s",
    # or beside a kind that keeps no siblings
    host = rng.choice([
        {"histogram": {"field": "n", "interval": 5},
         "aggs": {"m": {"avg": {"field": "n"}},
                  "st": {"stats": {"field": "n"}}}},
        {"terms": {"field": "body"},
         "aggs": {"s": {"terms": {"field": "title"},
                        "aggs": {"m": {"avg": {"field": "n"}}}}}},
        {"categorize_text": {"field": "body"}},
        {"geo_distance": {"field": "loc", "origin": "1,2",
                          "ranges": [{"to": 5}]}},
        {"rare_terms": {"field": "body"}}])
    return {"aggs": {"h": host, "z": entry}}, params


def agg_corpus() -> list[dict]:
    """The fixed-seed agg requests, in a stable order, without
    outcomes."""
    rng = random.Random(SEED + 1)
    out: list[dict] = [{"section": "aggs", "kind": "aggs", "body": b,
                        "params": None} for b in _AGG_LEVELS]
    for kind in AGG_KINDS:
        for v in _AGG_WHOLE:
            body, _ = _agg_body(rng, kind, "good", v, whole=True)
            out.append({"section": "aggs", "kind": kind, "body": body,
                        "params": None})
        seen: set[str] = set()
        for i in range(8 * AGG_PER_KIND):
            mode = ("good", "valid", "mixed")[i % 3]
            body, params = _agg_body(rng, kind, mode)
            sig = json.dumps(body, sort_keys=True)
            if sig not in seen and len(seen) < 2 * AGG_PER_KIND:
                seen.add(sig)
                out.append({"section": "aggs", "kind": kind, "body": body,
                            "params": params})
    return out


def agg_outcome(body: object) -> str:
    """``aggs:<repr>``, ``DslError`` or ``escape:<exception type>``."""
    from cassandra_es_index_spark.search.es_dsl import (
        DslError, parse_request,
    )

    try:
        return "aggs:" + repr(parse_request(body).aggs)
    except DslError:
        return "DslError"
    except Exception as e:  # noqa: BLE001 — recording escapes is the point
        return "escape:" + type(e).__name__


def outcome(kind: str, body: object) -> str:
    """``node:<repr>``, ``DslError`` or ``escape:<exception type>``."""
    from cassandra_es_index_spark.search.es_dsl import DslError, _node

    try:
        return "node:" + repr(_node({kind: body}))
    except DslError:
        return "DslError"
    except Exception as e:  # noqa: BLE001 — recording escapes is the point
        return "escape:" + type(e).__name__


def _outcome_of(entry: dict) -> str:
    if entry.get("section") == "aggs":
        return agg_outcome(entry["body"])
    return outcome(entry["kind"], entry["body"])


def main() -> int:
    ap = argparse.ArgumentParser()
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--out", help="write the corpus (JSON lines) here")
    g.add_argument("--check", help="re-parse this corpus and diff it")
    ap.add_argument("--aggs", action="store_true",
                    help="with --out: write the agg section")
    args = ap.parse_args()
    if args.out:
        with open(args.out, "w") as fh:
            for e in agg_corpus() if args.aggs else corpus():
                # parse the body as it is written: sorted keys
                e = json.loads(json.dumps(e, sort_keys=True))
                e["outcome"] = _outcome_of(e)
                fh.write(json.dumps(e, sort_keys=True) + "\n")
        return 0
    diffs = 0
    with open(args.check) as fh:
        for line in fh:
            e = json.loads(line)
            now = _outcome_of(e)
            if now != e["outcome"]:
                diffs += 1
                print(json.dumps({"kind": e["kind"], "body": e["body"],
                                  "was": e["outcome"], "now": now}))
    print(f"{diffs} changed outcomes", file=sys.stderr)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
