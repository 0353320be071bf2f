"""Declared parameter specs of the query clauses (parse-only, no Spark).

Every query-clause kind is one builder in ``es_dsl._BUILDERS`` and
declares its parameters in ``es_dsl._SPECS``; every aggregation kind is
one row of ``es_dsl._AGGS`` with its spec. ``es_dsl._params`` checks
them. These tests drive each kind from its spec: an unknown parameter
and every wrong-typed value of a declared one must raise ``DslError``
and nothing else. Agg kinds run as ``agg:<kind>`` inputs over whole
``{"aggs": ...}`` requests.
"""

from __future__ import annotations

import base64
import json

import pytest

from cassandra_es_index_spark.search import es_dsl
from cassandra_es_index_spark.search.ast import MatchAll, MatchNone
from cassandra_es_index_spark.search.es_dsl import (
    DslError, _node, parse_request,
)

MA = {"match_all": {}}
ST_A = {"span_term": {"f": "a"}}
ST_B = {"span_term": {"f": "b"}}

# one body per kind that parses, and the path to its parameter object
BASE = {
    "match_all": ({}, ()),
    "match_none": ({}, ()),
    "term": ({"f": {"value": "a"}}, ("f",)),
    "terms": ({"f": ["a"]}, ()),
    "match": ({"f": {"query": "a b"}}, ("f",)),
    "fuzzy": ({"f": {"value": "ab"}}, ("f",)),
    "match_phrase": ({"f": {"query": "a b"}}, ("f",)),
    "terms_set": ({"f": {"terms": ["a"],
                         "minimum_should_match_field": "n"}}, ("f",)),
    "intervals": ({"f": {"match": {"query": "a b"}}}, ("f", "match")),
    "constant_score": ({"filter": MA}, ()),
    "match_phrase_prefix": ({"f": {"query": "a b"}}, ("f",)),
    "dis_max": ({"queries": [MA]}, ()),
    "script_score": ({"query": MA,
                      "script": {"source": "doc['n'].value * 2"}}, ()),
    "function_score": ({"random_score": {"seed": 1, "field": "_seq_no"}},
                       ()),
    "range": ({"f": {"gte": 1}}, ("f",)),
    "prefix": ({"f": {"value": "a"}}, ("f",)),
    "wildcard": ({"f": {"value": "a*"}}, ("f",)),
    "regexp": ({"f": {"value": "a.*"}}, ("f",)),
    "multi_match": ({"query": "a", "fields": ["f"]}, ()),
    "ids": ({"values": ["1"]}, ()),
    "exists": ({"field": "f"}, ()),
    "bool": ({"must": [MA]}, ()),
    "knn": ({"field": "v", "query_vector": [1.0]}, ()),
    "wrapper": ({"query": base64.b64encode(json.dumps(MA).encode())
                 .decode()}, ()),
    "pinned": ({"ids": ["1"], "organic": MA}, ()),
    "span_near": ({"clauses": [ST_A, ST_B]}, ()),
    "span_term": ({"f": {"value": "a"}}, ("f",)),
    "span_or": ({"clauses": [ST_A]}, ()),
    "span_multi": ({"match": {"prefix": {"f": "a"}}}, ()),
    "span_first": ({"match": ST_A, "end": 3}, ()),
    "span_not": ({"include": ST_A, "exclude": ST_B}, ()),
    "span_containing": ({"big": {"span_near": {"clauses": [ST_A, ST_B]}},
                         "little": ST_A}, ()),
    "span_within": ({"big": {"span_near": {"clauses": [ST_A, ST_B]}},
                     "little": ST_A}, ()),
    "geo_distance": ({"distance": "1km", "f": [0, 0]}, ()),
    "geo_bounding_box": ({"f": {"top_left": [0, 10],
                                "bottom_right": [10, 0]}}, ()),
    "boosting": ({"positive": MA, "negative": MA}, ()),
    "nested": ({"path": "p", "query": MA}, ()),
    "has_child": ({"type": "c", "query": MA}, ()),
    "has_parent": ({"parent_type": "p", "query": MA}, ()),
    "parent_id": ({"type": "c", "id": "1"}, ()),
    "query_string": ({"query": "a"}, ()),
    "simple_query_string": ({"query": "a"}, ()),
    "match_bool_prefix": ({"f": {"query": "a"}}, ("f",)),
    "combined_fields": ({"query": "a", "fields": ["f"]}, ()),
    "more_like_this": ({"like": "a"}, ()),
    "geo_shape": ({"f": {"shape": {"type": "point",
                                   "coordinates": [0, 0]}}}, ("f",)),
    "geo_polygon": ({"f": {"points": [[0, 0], [0, 1], [1, 1]]}}, ()),
    "geo_grid": ({"f": {"geohash": "u0"}}, ()),
    "percolate": ({"field": "q", "document": {"a": 1}}, ()),
    "script": ({"script": "doc['n'].value > 1"}, ()),
    "sparse_vector": ({"field": "f", "query_vector": {"a": 1}}, ()),
    "rank_feature": ({"field": "r", "saturation": {"pivot": 1}}, ()),
    "distance_feature": ({"field": "d", "origin": "now", "pivot": "1d"},
                         ()),
}
# one request per agg kind that parses, and the path to the kind's
# parameter object
_HOST = {"histogram": {"field": "n", "interval": 5}}
_LEVEL = {"m": {"avg": {"field": "n"}}, "pc": {"percentiles": {"field": "n"}},
          "cd": {"cardinality": {"field": "n"}}}
_AGG_PARAMS = {
    **{k: {"field": "f"} for k in (
        "avg", "sum", "min", "max", "value_count", "cardinality", "stats",
        "extended_stats", "percentiles", "geo_centroid", "geo_bounds",
        "boxplot", "median_absolute_deviation", "string_stats")},
    "percentile_ranks": {"field": "f", "values": [1]},
    "weighted_avg": {"value": {"field": "v"}, "weight": {"field": "w"}},
    "matrix_stats": {"fields": ["a", "b"]},
    "top_metrics": {"metrics": {"field": "v"}, "sort": {"s": "asc"}},
    "reverse_nested": {}, "rate": {"unit": "day"},
    "t_test": {"a": {"field": "x"}, "b": {"field": "y"}},
    "geo_line": {"point": {"field": "p"}, "sort": {"field": "t"}},
    "scripted_metric": {"init_script": "state.s = 0",
                        "map_script": "state.s += doc['n'].value",
                        "combine_script": "return state.s",
                        "reduce_script": "return states[0]"},
}
_BUCKET_PARAMS = {
    **{k: {"field": "f"} for k in (
        "terms", "significant_terms", "significant_text", "rare_terms",
        "geotile_grid", "geohash_grid", "auto_date_histogram",
        "categorize_text", "variable_width_histogram", "missing",
        "diversified_sampler")},
    "histogram": {"field": "n", "interval": 5},
    "date_histogram": {"field": "ts", "calendar_interval": "day"},
    "range": {"field": "n", "ranges": [{"to": 5}]},
    "date_range": {"field": "ts", "ranges": [{"to": "now"}]},
    "ip_range": {"field": "ip", "ranges": [{"to": "10.0.0.1"}]},
    "filters": {"filters": {"a": MA}}, "adjacency_matrix": {"filters": {
        "a": MA}},
    "ip_prefix": {"field": "ip", "prefix_length": 24},
    "geo_distance": {"field": "loc", "origin": "1,2",
                     "ranges": [{"to": 5}]},
    "multi_terms": {"terms": [{"field": "a"}, {"field": "b"}]},
    "frequent_item_sets": {"fields": [{"field": "t"}]},
    "composite": {"sources": [{"a": {"terms": {"field": "f"}}}]},
    "nested": {"path": "items"}, "children": {"type": "c"},
    "parent": {"type": "p"}, "sampler": {},
    "random_sampler": {"probability": 0.5}, "filter": MA, "global": {},
}
_PIPE_PARAMS = {
    **{k: {"buckets_path": "m"} for k in (
        "cumulative_sum", "derivative", "serial_diff", "moving_avg")},
    "moving_fn": {"buckets_path": "m", "window": 2,
                  "script": "MovingFunctions.sum(values)"},
    "moving_percentiles": {"buckets_path": "pc", "window": 2},
    "cumulative_cardinality": {"buckets_path": "cd"},
    "normalize": {"buckets_path": "m", "method": "mean"},
    "bucket_script": {"buckets_path": {"a": "m"}, "script": "params.a * 2"},
    "bucket_selector": {"buckets_path": {"a": "m"},
                        "script": "params.a > 1"},
    "bucket_sort": {"size": 2},
}
_SIBLING_PARAMS = {
    **{k: {"buckets_path": "h>m"} for k in (
        "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
        "stats_bucket", "extended_stats_bucket", "percentiles_bucket",
        "change_point", "bucket_count_ks_test")},
    "bucket_correlation": {"buckets_path": "h>_count", "function": {
        "count_correlation": {"indicator": {"expectations": [1, 2]}}}},
}
AGG_BASE = {
    **{k: ({"aggs": {"x": {k: p}}}, ("aggs", "x", k))
       for k, p in {**_AGG_PARAMS, **_BUCKET_PARAMS}.items()},
    **{k: ({"aggs": {"h": {**_HOST, "aggs": {**_LEVEL, "p": {k: p}}}}},
           ("aggs", "h", "aggs", "p", k)) for k, p in _PIPE_PARAMS.items()},
    **{k: ({"aggs": {"h": {**_HOST, "aggs": _LEVEL}, "s": {k: p}}},
           ("aggs", "s", k)) for k, p in _SIBLING_PARAMS.items()},
    "top_hits": ({"aggs": {"t": {"terms": {"field": "f"}, "aggs": {
        "th": {"top_hits": {}}}}}}, ("aggs", "t", "aggs", "th", "top_hits")),
}
AGG_KINDS = sorted(f"agg:{k}" for k in AGG_BASE)
# one value of each JSON type
WRONG = ["x", 7, -3, 2.5, True, False, None, [], ["a"], {}, {"a": 1}]


def _with(kind, key, value):
    """BASE[kind] (AGG_BASE for ``agg:<kind>``) with ``key`` set to
    ``value`` in its parameter object."""
    agg = kind.startswith("agg:")
    body, path = AGG_BASE[kind[4:]] if agg else BASE[kind]
    body = json.loads(json.dumps(body))
    obj = body
    for k in path:
        obj = obj[k]
    obj[key] = value
    return body if agg else {kind: body}


def _spec(kind):
    if kind.startswith("agg:"):
        return es_dsl._AGGS[kind[4:]].spec or {}
    return es_dsl._RULES["match"] if kind == "intervals" \
        else es_dsl._SPECS[kind]


def _parse(q):
    """A query clause, or a whole request when ``q`` holds ``aggs``."""
    return parse_request(q) if "aggs" in q else _node(q)


def test_every_builder_has_a_base_body():
    assert set(BASE) == set(es_dsl._BUILDERS)
    for kind, (body, _) in BASE.items():
        _node({kind: body})


def test_every_agg_kind_has_a_base_body():
    assert set(AGG_BASE) == set(es_dsl._AGGS)
    for body, _ in AGG_BASE.values():
        parse_request(body)


@pytest.mark.parametrize("kind", sorted(BASE) + AGG_KINDS)
def test_unknown_parameter_is_named(kind):
    with pytest.raises(DslError, match="zzz_unknown"):
        _parse(_with(kind, "zzz_unknown", 1))


@pytest.mark.parametrize("kind", sorted(BASE) + AGG_KINDS)
def test_wrong_typed_parameters_raise_dsl_error(kind):
    spec = _spec(kind)
    for key, tag in spec.items():
        for value in WRONG:
            try:
                es_dsl._params(kind, {key: value}, {key: tag})
                rejected = False
            except DslError:
                rejected = True
            try:
                _parse(_with(kind, key, value))
            except DslError:
                continue
            # any other exception escapes the test as a failure
            assert not rejected, (kind, key, value)


@pytest.mark.parametrize("q", [
    # escapes: ValueError from int()/float(), TypeError from "^" in 5
    {"match_phrase": {"f": {"query": "a b", "slop": "x"}}},
    {"match_phrase_prefix": {"f": {"query": "a b", "slop": "x"}}},
    {"constant_score": {"filter": MA, "boost": "x"}},
    {"multi_match": {"query": "a", "fields": [5]}},
    {"query_string": {"query": "a", "fields": [5]}},
    {"simple_query_string": {"query": "a", "fields": [5]}},
    # silent accepts: a parameter dropped, or a list/dict/missing value
    # turned into the search term
    {"match_phrase": {"f": {"query": "a b", "slop": -1}}},
    {"match_phrase_prefix": {"f": {"query": "a b", "slop": -1}}},
    {"match_phrase_prefix": {"f": {"query": "a b", "operator": "and"}}},
    {"intervals": {"f": {"match": {"query": "a b",
                                   "filter": {"script": {"source": "x"}}}}}},
    {"match_all": {"zzz": 1}},
    {"match_none": {"zzz": 1}},
    {"term": {"f": ["a"]}},
    {"match": {"f": ["a", "b"]}},
    {"prefix": {"f": ["a"]}},
    {"wildcard": {"f": {"boost": 2}}},
    {"regexp": {"f": {"boost": 2}}},
    {"match_phrase": {"f": {"query": {"a": 1}}}},
    {"combined_fields": {"query": "a", "fields": [5]}},
    # aggs: a sub-aggs value that is not an object (TypeError, or
    # ignored), booleans read as integers, fields that are not names,
    # and a sibling pipeline dropped beside categorize_text
    {"aggs": {"t": {"terms": {"field": "f"}, "aggs": [1]}}},
    {"aggs": {"t": {"terms": {"field": "f"}, "aggs": []}}},
    {"aggs": {"c": {"cardinality": {"field": "f",
                                    "precision_threshold": True}}}},
    {"aggs": {"p": {"percentiles": {"field": "f", "compression": True}}}},
    {"aggs": {"h": {**_HOST, "aggs": {"m": {"avg": {"field": "n"}}, "d": {
        "serial_diff": {"buckets_path": "m", "lag": True}}}}}},
    {"aggs": {"h": {**_HOST, "aggs": {"m": {"avg": {"field": "n"}}, "f": {
        "moving_fn": {"buckets_path": "m", "window": True,
                      "script": "MovingFunctions.sum(values)"}}}}}},
    {"aggs": {"t": {"terms": {"field": "f", "min_doc_count": True}}}},
    {"aggs": {"t": {"terms": {"field": "f"}, "aggs": {
        "th": {"top_hits": {"size": True}}}}}},
    {"aggs": {"h": {**_HOST, "aggs": {"m": {"avg": {"field": "n"}}, "s": {
        "bucket_sort": {"size": True}}}}}},
    {"aggs": {"t": {"terms": {"field": 5}}}},
    {"aggs": {"h": {"histogram": {"field": None, "interval": 5}}}},
    {"aggs": {"a": {"avg": {"field": ["x"]}}}},
    {"aggs": {"c": {"categorize_text": {"field": "f"}},
              "s": {"avg_bucket": {"buckets_path": "c>_count"}}}},
])
def test_former_escapes_and_silent_accepts_are_typed(q):
    with pytest.raises(DslError):
        _parse(q)


@pytest.mark.parametrize("q, node", [
    ({"match_all": {"boost": 2}}, MatchAll()),
    ({"match": {"f": ""}}, MatchNone()),
    ({"match": {"f": {"query": " ", "zero_terms_query": "all"}}},
     MatchAll()),
    ({"match_phrase": {"f": ""}}, MatchNone()),
    ({"multi_match": {"query": "", "fields": ["f"]}}, MatchNone()),
    ({"terms": {"f": []}}, MatchNone()),
    ({"terms_set": {"f": {"terms": []}}}, MatchNone()),
    ({"intervals": {"f": {"match": {"query": ""}}}}, MatchNone()),
    ({"combined_fields": {"query": "", "fields": ["f"]}}, MatchNone()),
    ({"match_bool_prefix": {"f": ""}}, MatchNone()),
])
def test_empty_and_no_op_bodies_still_parse(q, node):
    assert _node(q) == node


def test_null_means_absent_only_where_the_default_is_none():
    # boost defaults to None: an explicit null is no boost
    assert _node({"term": {"f": {"value": "a", "boost": None}}}) \
        == _node({"term": {"f": "a"}})
    # slop defaults to 0: an explicit null is a type error
    with pytest.raises(DslError, match="slop must be"):
        _node({"match_phrase": {"f": {"query": "a", "slop": None}}})
    # default_field has no default but rejects null (it used to bind
    # the field "None")
    with pytest.raises(DslError, match="default_field must be"):
        _node({"query_string": {"query": "a", "default_field": None}})


# bodies that reach the nested parameter objects (lookups, function
# entries, rule and shape objects, inner_hits, masking, span_multi)
RICH = [
    {"terms": {"f": {"index": "i", "id": "1", "path": "p"}, "boost": 2}},
    {"function_score": {"query": MA, "functions": [
        {"filter": MA, "weight": 2},
        {"field_value_factor": {"field": "n", "factor": 1.5}}],
        "score_mode": "sum", "max_boost": 3}},
    {"rank_feature": {"field": "r", "sigmoid": {"pivot": 2,
                                                "exponent": 0.5}}},
    {"has_child": {"type": "c", "query": MA, "min_children": 1,
                   "max_children": 3,
                   "inner_hits": {"size": 2, "_source": ["a"]}}},
    {"span_near": {"clauses": [
        {"span_field_masking": {"query": {"span_term": {"g": "a"}},
                                "field": "f"}},
        {"span_multi": {"match": {"fuzzy": {"f": {
            "value": "ab", "fuzziness": 1, "prefix_length": 1}}}}}],
        "slop": 1, "in_order": False}},
    {"intervals": {"f": {"all_of": {"intervals": [
        {"match": {"query": "a b", "max_gaps": 2}},
        {"fuzzy": {"term": "ab", "fuzziness": 1}}]}}}},
    {"geo_shape": {"f": {"indexed_shape": {"index": "s", "id": "1",
                                           "path": "p"},
                         "relation": "within"}}},
    {"more_like_this": {"fields": ["f"], "like": ["a", {"_id": "1"}],
                        "unlike": [{"_id": "2"}], "min_term_freq": 1}},
    {"percolate": {"field": "q", "documents": [{"a": 1}, {"a": 2}]}},
    {"knn": {"field": "v", "query_vector": [1.0], "k": 1,
             "filter": [MA, MA], "similarity": 0.5}},
    {"multi_match": {"query": "a b", "fields": ["f^2", "g"],
                     "type": "cross_fields",
                     "minimum_should_match": 1}},
    {"query_string": {"query": "a b", "fields": ["f", "g^2"],
                      "tie_breaker": 0.5}},
    {"geo_distance": {"distance": "1km", "f": {"lat": 1, "lon": 2}}},
    {"geo_grid": {"f": {"geotile": "3/1/2"}, "boost": 2}},
    {"bool": {"should": [MA, {"term": {"f": "a"}}],
              "minimum_should_match": 1, "filter": MA}},
]

# rich requests that reach the nested agg parameter objects: sub-agg
# levels, pipelines, siblings, sources, ranges and heuristics
AGG_RICH = [
    {"aggs": {"t": {"terms": {
        "field": "f", "size": 5, "min_doc_count": 2,
        "order": [{"st.avg": "desc"}, {"_key": "asc"}],
        "include": {"partition": 0, "num_partitions": 4}},
        "aggs": {"st": {"stats": {"field": "n", "missing": 0}},
                 "h": {"histogram": {"field": "n", "interval": 5,
                                     "offset": 1},
                       "aggs": {"m": {"avg": {"field": "n"}},
                                "ma": {"moving_avg": {
                                    "buckets_path": "m", "model": "ewma",
                                    "settings": {"alpha": 0.5}}},
                                "th": {"top_hits": {
                                    "size": 2, "_source": ["a"],
                                    "sort": [{"n": "desc"}]}}}}}}}},
    {"aggs": {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day", "offset": "+6h",
        "time_zone": "+01:00", "min_doc_count": 0,
        "extended_bounds": {"min": "2024-01-01", "max": "2024-02-01"}},
        "aggs": {"m": {"sum": {"field": "n"}},
                 "pc": {"percentiles": {"field": "n", "percents": [50],
                                        "tdigest": {"compression": 50}}},
                 "dv": {"derivative": {"buckets_path": "m", "unit": "1h"}},
                 "bs": {"bucket_script": {"buckets_path": {"a": "m"},
                                          "script": "params.a * 2"}},
                 "so": {"bucket_sort": {"sort": [{"m": "desc"}],
                                        "size": 3}}}},
        "pb": {"percentiles_bucket": {"buckets_path": "d>m",
                                      "percents": [25, 75]}},
        "ks": {"bucket_count_ks_test": {"buckets_path": "d>_count",
                                        "alternative": ["less"],
                                        "fractions": [1, 1]}}}},
    {"aggs": {"c": {"composite": {
        "size": 5, "after": {"a": "x", "d": 0},
        "sources": [{"a": {"terms": {"field": "f", "order": "desc",
                                     "missing_bucket": True}}},
                    {"d": {"date_histogram": {
                        "field": "ts", "fixed_interval": "1h",
                        "offset": "-1h", "time_zone": "+02:00"}}}]},
        "aggs": {"w": {"weighted_avg": {"value": {"field": "v"},
                                        "weight": {"field": "w"}}},
                 "tm": {"top_metrics": {"metrics": [{"field": "v"}],
                                        "sort": {"s": "asc"},
                                        "size": 2}}}}}},
    {"aggs": {"s": {"significant_terms": {
        "field": "f", "size": 5, "min_doc_count": 2,
        "background_filter": {"term": {"f": "a"}},
        "chi_square": {"include_negatives": True,
                       "background_is_superset": False}}}}},
    {"aggs": {"n": {"nested": {"path": "items"}, "aggs": {
        "t": {"terms": {"field": "items.k"}, "aggs": {
            "r": {"reverse_nested": {}, "aggs": {
                "c": {"cardinality": {"field": "n"}}}}}}}}}},
    {"aggs": {"g": {"geo_distance": {
        "field": "loc", "origin": {"lat": 1, "lon": 2}, "unit": "km",
        "ranges": [{"to": 5, "key": "near"}, {"from": 5}]},
        "aggs": {"tt": {"t_test": {"a": {"field": "x", "filter": MA},
                                   "b": {"field": "y"}}},
                 "gl": {"geo_line": {"point": {"field": "p"},
                                     "sort": {"field": "t"},
                                     "sort_order": "desc"}}}}}},
    {"aggs": {"h": {**_HOST, "aggs": _LEVEL},
              "bc": {"bucket_correlation": {
                  "buckets_path": "h>_count", "function": {
                      "count_correlation": {"indicator": {
                          "expectations": [1, 2, 3]}}}}}}},
    {"aggs": {"r": {"random_sampler": {"probability": 0.5, "seed": 3},
                    "aggs": {"d": {"date_range": {
                        "field": "ts", "format": "yyyy",
                        "ranges": [{"from": "2024-01-01", "key": "y"}]}}}}}},
    {"aggs": {"i": {"ip_range": {"field": "ip", "ranges": [
        {"mask": "10.0.0.0/25"}, {"from": "10.0.0.5", "key": "hi"}]}}}},
    {"aggs": {"f": {"filters": {"filters": {"a": MA}, "other_bucket": True,
                                "other_bucket_key": "rest"},
                    "aggs": {"h": {**_HOST, "aggs": {
                        "mf": {"moving_fn": {
                            "buckets_path": "_count", "window": 2,
                            "script": "MovingFunctions.max(values)"}}}}}}}},
]


def _paths(obj, path=()):
    """Every (path, value) inside a JSON object, the root excluded."""
    items = obj.items() if isinstance(obj, dict) else \
        enumerate(obj) if isinstance(obj, list) else ()
    for k, v in items:
        yield path + (k,), v
        yield from _paths(v, path + (k,))


def _replaced(q, path, value):
    q = json.loads(json.dumps(q))
    obj = q
    for k in path[:-1]:
        obj = obj[k]
    obj[path[-1]] = value
    return q


@pytest.mark.parametrize("q", RICH + [{k: b} for k, (b, _) in
                                      sorted(BASE.items())] + AGG_RICH,
                         ids=lambda q: next(iter(q)))
def test_every_value_replaced_by_any_json_type_stays_typed(q):
    """Swap each value anywhere in a valid body for one of each JSON
    type: the parse either succeeds or raises DslError."""
    _parse(q)
    for path, _ in list(_paths(q))[1:]:
        for value in WRONG:
            try:
                _parse(_replaced(q, path, value))
            except DslError:
                pass
