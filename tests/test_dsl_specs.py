"""Declared parameter specs of the query clauses (parse-only, no Spark).

Every query-clause kind is one builder in ``es_dsl._BUILDERS`` and
declares its parameters in ``es_dsl._SPECS``; ``es_dsl._params`` checks
them. These tests drive each kind from its spec: an unknown parameter
and every wrong-typed value of a declared one must raise ``DslError``
and nothing else.
"""

from __future__ import annotations

import base64
import json

import pytest

from cassandra_es_index_spark.search import es_dsl
from cassandra_es_index_spark.search.ast import MatchAll, MatchNone
from cassandra_es_index_spark.search.es_dsl import DslError, _node

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
# one value of each JSON type
WRONG = ["x", 7, -3, 2.5, True, False, None, [], ["a"], {}, {"a": 1}]


def _with(kind, key, value):
    """BASE[kind] with ``key`` set to ``value`` in its parameter object."""
    body, path = BASE[kind]
    body = json.loads(json.dumps(body))
    obj = body
    for k in path:
        obj = obj[k]
    obj[key] = value
    return {kind: body}


def _spec(kind):
    return es_dsl._RULES["match"] if kind == "intervals" \
        else es_dsl._SPECS[kind]


def test_every_builder_has_a_base_body():
    assert set(BASE) == set(es_dsl._BUILDERS)
    for kind, (body, _) in BASE.items():
        _node({kind: body})


@pytest.mark.parametrize("kind", sorted(BASE))
def test_unknown_parameter_is_named(kind):
    with pytest.raises(DslError, match="zzz_unknown"):
        _node(_with(kind, "zzz_unknown", 1))


@pytest.mark.parametrize("kind", sorted(BASE))
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
                _node(_with(kind, key, value))
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
])
def test_former_escapes_and_silent_accepts_are_typed(q):
    with pytest.raises(DslError):
        _node(q)


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
                                      sorted(BASE.items())],
                         ids=lambda q: next(iter(q)))
def test_every_value_replaced_by_any_json_type_stays_typed(q):
    """Swap each value anywhere in a valid body for one of each JSON
    type: the parse either succeeds or raises DslError."""
    _node(q)
    for path, _ in list(_paths(q))[1:]:
        for value in WRONG:
            try:
                _node(_replaced(q, path, value))
            except DslError:
                pass
