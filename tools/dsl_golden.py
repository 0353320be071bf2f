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

Usage:
    python tools/dsl_golden.py --out tests/data/dsl_golden.jsonl
    python tools/dsl_golden.py --check tests/data/dsl_golden.jsonl

``--out`` writes the corpus from the checkout the tool is run in;
``--check`` re-parses a corpus and prints every entry whose outcome
differs (exit code 1 when any does).
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


def outcome(kind: str, body: object) -> str:
    """``node:<repr>``, ``DslError`` or ``escape:<exception type>``."""
    from cassandra_es_index_spark.search.es_dsl import DslError, _node

    try:
        return "node:" + repr(_node({kind: body}))
    except DslError:
        return "DslError"
    except Exception as e:  # noqa: BLE001 — recording escapes is the point
        return "escape:" + type(e).__name__


def main() -> int:
    ap = argparse.ArgumentParser()
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--out", help="write the corpus (JSON lines) here")
    g.add_argument("--check", help="re-parse this corpus and diff it")
    args = ap.parse_args()
    if args.out:
        with open(args.out, "w") as fh:
            for e in corpus():
                e["outcome"] = outcome(e["kind"], e["body"])
                fh.write(json.dumps(e, sort_keys=True) + "\n")
        return 0
    diffs = 0
    with open(args.check) as fh:
        for line in fh:
            e = json.loads(line)
            now = outcome(e["kind"], e["body"])
            if now != e["outcome"]:
                diffs += 1
                print(json.dumps({"kind": e["kind"], "body": e["body"],
                                  "was": e["outcome"], "now": now}))
    print(f"{diffs} changed outcomes", file=sys.stderr)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
