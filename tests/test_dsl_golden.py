"""Golden equivalence of the query-clause parser (parse-only, no Spark).

``tests/data/dsl_golden.jsonl`` holds a fixed-seed corpus of bodies for
every query-clause kind together with the outcome the parser gave them
when the corpus was written (``tools/dsl_golden.py``): the parsed node's
``repr``, ``DslError``, or the type of an escaping exception. Parsing
each body again must give the same outcome, except for the fixes listed
in ``FIXES``: each turns an accepted body, whose parameter was dropped
or stringified, into a typed ``DslError``.
"""

from __future__ import annotations

import json
import os

from cassandra_es_index_spark.search.es_dsl import (
    DslError, _AGGS, _BUILDERS, _node, parse_request,
)

_CORPUS = os.path.join(os.path.dirname(__file__), "data",
                       "dsl_golden.jsonl")
_LEAVES = {"term": "value", "prefix": "value", "wildcard": "value",
           "regexp": "value", "fuzzy": "value", "span_term": "value",
           "match": "query", "match_phrase": "query",
           "match_phrase_prefix": "query", "match_bool_prefix": "query"}
_NUMBER_KEYS = ("boost", "negative_boost", "tie_breaker", "max_boost",
                "weight")


def _scalar(v):
    return isinstance(v, (str, int, float))


def _not_str(v):
    return not isinstance(v, str)


def _has(key, bad):
    return lambda kind, p: key in p and bad(p[key])


def _any_entry(bad):
    return lambda v: isinstance(v, list) and any(bad(x) for x in v)


def _num_like(v):
    try:
        float(v)
    except (TypeError, ValueError):
        return False
    return not isinstance(v, bool)


# (reason, kinds, predicate(kind, params)): a body whose parameter object
# matches may go from accepted to DslError. Bodies of the wrong JSON type
# as a whole (params None) only matter for match_all/match_none, which
# accepted anything.
FIXES = [
    ("a leaf's value was missing or not a scalar and became its str()",
     tuple(_LEAVES),
     lambda kind, p: not _scalar(p.get(_LEAVES[kind]))),
    ("a query text that is not a scalar became its str()",
     ("simple_query_string", "multi_match", "combined_fields"),
     _has("query", lambda v: not _scalar(v))),
    ("slop was negative, or not an integer and read with int()",
     ("match_phrase", "match_phrase_prefix"),
     _has("slop", lambda v: isinstance(v, bool) or not isinstance(v, int)
          or v < 0)),
    ("an unknown parameter was silently dropped",
     ("match_all", "match_none", "match_phrase_prefix", "intervals",
      "span_multi", "simple_query_string", "script", "wrapper",
      "function_score", "span_containing", "span_within"),
     lambda kind, p: "zzz" in p),
    ("geo_polygon dropped unknown keys beside 'points'", ("geo_polygon",),
     _has("value", lambda v: isinstance(v, dict) and set(v) - {"points"})),
    ("match_all/match_none accepted any body and any boost",
     ("match_all", "match_none"), _has("boost", lambda v: not _num_like(v))),
    ("a boolean was read as a number (false zeroed the score)", "*",
     lambda kind, p: any(isinstance(p.get(k), bool) for k in _NUMBER_KEYS)),
    ("a list entry that is not a scalar became its str()",
     ("terms", "ids", "terms_set", "pinned"),
     lambda kind, p: any(_any_entry(lambda x: not _scalar(x))(p.get(k))
                         for k in ("value", "values", "terms", "ids"))),
    ("a field or relation name that is not a string became its str()",
     ("exists", "nested", "has_child", "has_parent", "parent_id",
      "terms_set", "rank_feature", "distance_feature", "query_string"),
     lambda kind, p: any(k in p and _not_str(p[k]) for k in (
         "field", "path", "type", "parent_type",
         "minimum_should_match_field", "default_field"))),
    ("a fields entry that is not a string became its str() or escaped",
     ("combined_fields", "multi_match", "query_string",
      "simple_query_string"),
     _has("fields", _any_entry(_not_str))),
    ("a range bound that is not a scalar became its str()", ("range",),
     lambda kind, p: any(p.get(k) is not None and not _scalar(p[k])
                         for k in ("gte", "gt", "lte", "lt"))),
    ("case_insensitive accepted any value but false",
     ("term", "prefix", "wildcard", "regexp"),
     _has("case_insensitive",
          lambda v: not isinstance(v, bool) and v is not None)),
    ("ignore_unmapped accepted any falsy value",
     ("has_child", "has_parent", "parent_id"),
     _has("ignore_unmapped", lambda v: v is not False and v is not None)),
    ("an intervals rule's text that is not a scalar became its str()",
     ("intervals",),
     lambda kind, p: any(k in p and not _scalar(p[k])
                         for k in ("query", "prefix", "pattern", "term"))),
]
_WHOLE_BODY = "match_all/match_none accepted a body that is not an object"
_ESCAPE = "an escape is now a typed error (DslError is the contract)"
_EMPTY = "parameters of a query with no terms were not checked"

# kinds that return MatchNone/MatchAll for a query with no terms before
# the parser used to check their other parameters
_EMPTY_QUERY_KINDS = ("match", "match_phrase", "multi_match", "intervals",
                      "terms", "terms_set", "combined_fields",
                      "match_bool_prefix")


def _outcome(kind, body):
    try:
        return "node:" + repr(_node({kind: body}))
    except DslError:
        return "DslError"
    except Exception as e:  # noqa: BLE001 — an escape is a failure
        return "escape:" + type(e).__name__


def _fix_for(entry):
    """The reason that allows this entry's move to DslError, or None."""
    kind, p, was = entry["kind"], entry["params"], entry["outcome"]
    if was.startswith("escape:"):
        return _ESCAPE
    if was in ("node:MatchNone()", "node:MatchAll()") \
            and kind in _EMPTY_QUERY_KINDS:
        return _EMPTY
    if p is None:
        return _WHOLE_BODY if kind in ("match_all", "match_none") else None
    return next((reason for reason, kinds, bad in FIXES
                 if (kinds == "*" or kind in kinds) and bad(kind, p)),
                None)


def _corpus():
    with open(_CORPUS) as fh:
        return [json.loads(line) for line in fh]


def test_corpus_covers_every_kind():
    assert {e["kind"] for e in _corpus()} == set(_BUILDERS)


def test_golden_outcomes_hold():
    changed, used = [], set()
    for e in _corpus():
        now = _outcome(e["kind"], e["body"])
        if now == e["outcome"]:
            continue
        reason = _fix_for(e) if now == "DslError" else None
        if reason is None:
            changed.append((e["kind"], e["body"], e["outcome"], now))
        used.add(reason)
    assert not changed, changed[:10]
    # every listed fix still shows up in the corpus
    assert {r for r, _, _ in FIXES} | {_WHOLE_BODY, _ESCAPE, _EMPTY} \
        <= used


# ------------------------------------------------------------ agg corpus
#
# ``tests/data/dsl_golden_aggs.jsonl`` holds whole ``{"aggs": ...}``
# requests for every agg kind (``tools/dsl_golden.py --aggs``) with the
# outcome ``parse_request`` gave them: the ``repr`` of the parsed aggs,
# ``DslError`` or an escape. The same rules hold: an accepted body keeps
# its ``repr``, ``DslError`` stays ``DslError``, and every other move is
# one of ``AGG_FIXES`` (or an escape that became typed).

_AGG_CORPUS = os.path.join(os.path.dirname(__file__), "data",
                           "dsl_golden_aggs.jsonl")


def _dicts(obj):
    """Every object inside a JSON value, the value itself included."""
    if isinstance(obj, dict):
        yield obj
        for v in obj.values():
            yield from _dicts(v)
    elif isinstance(obj, list):
        for v in obj:
            yield from _dicts(v)


def _not_name(v):
    return not (isinstance(v, str) and v)


def _host(body):
    """The kind of the bucket agg a sibling pipeline sits beside."""
    return next(k for k in body["aggs"]["h"] if k != "aggs")


_METRICS = ("avg", "sum", "min", "max", "value_count", "stats",
            "extended_stats", "geo_centroid", "geo_bounds", "string_stats",
            "cardinality", "percentiles", "percentile_ranks", "boxplot",
            "median_absolute_deviation")
_SIBLINGS = ("avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
             "stats_bucket", "extended_stats_bucket", "percentiles_bucket",
             "change_point", "bucket_count_ks_test", "bucket_correlation")
_INT_KEYS = ("precision_threshold", "compression", "lag", "window",
             "shift", "min_doc_count", "size", "max_doc_count")

# (reason, kinds, predicate(kind, params, body)): a body that matches
# may go from accepted to DslError
AGG_FIXES = [
    ("an agg field or nested path that is not a non-empty string was "
     "passed on unchecked",
     _METRICS + ("terms", "histogram", "date_histogram", "categorize_text",
                 "variable_width_histogram", "auto_date_histogram",
                 "rare_terms", "geotile_grid", "geohash_grid", "ip_prefix",
                 "missing", "composite", "nested"),
     lambda kind, p, body: any(
         k in d and _not_name(d[k]) for d in _dicts(p)
         for k in ("field", "path"))),
    ("an unknown parameter was silently dropped",
     ("boxplot", "median_absolute_deviation", "percentile_ranks",
      "weighted_avg", "matrix_stats", "top_metrics", "nested",
      "multi_terms", "composite", "top_hits", "cumulative_sum",
      "derivative", "serial_diff", "moving_fn", "normalize",
      "bucket_script", "bucket_selector", "bucket_sort") + _SIBLINGS,
     lambda kind, p, body: "zzz" in p),
    ("tdigest dropped its keys beside compression", ("percentiles",),
     lambda kind, p, body: isinstance(p.get("tdigest"), dict)
     and set(p["tdigest"]) - {"compression"}),
    ("a boolean was read as an integer", "*",
     lambda kind, p, body: any(isinstance(p.get(k), bool)
                               for k in _INT_KEYS)),
    ("a sibling pipeline beside categorize_text or geo_distance was "
     "silently dropped", _SIBLINGS,
     lambda kind, p, body: _host(body) in ("categorize_text",
                                           "geo_distance")),
    ("a sub-aggs value that is not an object was ignored", "*",
     lambda kind, p, body: any(
         "aggs" in d and d["aggs"] is not None
         and not isinstance(d["aggs"], dict) for d in _dicts(body))),
    ("a falsy sampler body that is not an object was read as {}",
     ("sampler",),
     lambda kind, p, body: body["aggs"]["a"]["sampler"] in ([], 0, "")),
    ("significant_terms/significant_text size took any value",
     ("significant_terms", "significant_text"),
     lambda kind, p, body: "size" in p and not (
         type(p["size"]) is int and p["size"] > 0)),
    ("a date_histogram interval that is not a non-empty string was passed "
     "on unchecked", ("date_histogram",),
     lambda kind, p, body: any(k in p and _not_name(p[k]) for k in (
         "calendar_interval", "fixed_interval"))),
    ("a bucket script that is not a string became its str()",
     ("bucket_script", "bucket_selector"),
     lambda kind, p, body: "script" in p and not isinstance(p["script"],
                                                            str)),
]


def _agg_outcome(body):
    try:
        return "aggs:" + repr(parse_request(body).aggs)
    except DslError:
        return "DslError"
    except Exception as e:  # noqa: BLE001 — an escape is a failure
        return "escape:" + type(e).__name__


def _agg_fix_for(entry):
    """The reason that allows this entry's move to DslError, or None."""
    kind, p, body = entry["kind"], entry["params"], entry["body"]
    p = p if isinstance(p, dict) else {}
    if entry["outcome"].startswith("escape:"):
        return _ESCAPE
    return next((reason for reason, kinds, bad in AGG_FIXES
                 if (kinds == "*" or kind in kinds) and bad(kind, p, body)),
                None)


def _agg_corpus():
    with open(_AGG_CORPUS) as fh:
        return [json.loads(line) for line in fh]


def test_agg_corpus_covers_every_kind():
    assert {e["kind"] for e in _agg_corpus()} == set(_AGGS) | {"aggs"}


def test_agg_golden_outcomes_hold():
    changed, used = [], set()
    for e in _agg_corpus():
        now = _agg_outcome(e["body"])
        if now == e["outcome"]:
            continue
        reason = _agg_fix_for(e) if now == "DslError" else None
        if reason is None:
            changed.append((e["kind"], e["body"], e["outcome"], now))
        used.add(reason)
    assert not changed, changed[:10]
    # every listed fix still shows up in the corpus
    assert {r for r, _, _ in AGG_FIXES} | {_ESCAPE} <= used
